package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ops.Dedup

/** The native word-MinHash kernel (graft_word_minhash) must emit
  * bit-identical lane minima to the shingle-explode → vocabulary-md5 →
  * join → groupBy formulation it replaced (kept below as `original`) —
  * same split-by-single-space tokens (consecutive spaces = EMPTY
  * tokens, Java split limit −1 semantics), same space-joined n-gram
  * spans, same md5(s ‖ "|" ‖ gram) family, same lexicographic
  * hex-string min. Verified against the ORIGINAL Spark formulation,
  * verbatim, on random and adversarial token streams.
  */
class WordMinhashSpec extends AnyFunSuite with SparkTestBase {

  private val n = 3
  private val k = 8

  private def docs(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  private def kernel(d: DataFrame): Map[Long, Seq[String]] =
    Dedup.minhashSignaturesKernel(d, k, n)
      .collect()
      .map(r => r.getLong(0) -> (0 until k).map(i => r.getString(i + 1)))
      .toMap

  /** The pre-r10 formulation, verbatim: shingles → vocabulary-distinct
    * md5 per lane → join back → groupBy(doc_id) k-min.
    */
  private def original(d: DataFrame): Map[Long, Seq[String]] = {
    val sh = Dedup.shingles(d, n)
    def family(s: Int) = md5(concat(lit(s.toString), lit("|"), col("w")))
    // md5 is the expensive part: compute the k digests once per
    // DISTINCT shingle (vocabulary-sized work) and join back — at a
    // typical ~50× occurrence/vocabulary ratio the two extra shuffles
    // cost less than 50× the md5s
    val vocabHashes = sh.select("w").distinct().select(
      col("w") +: (0 until k).map(s => family(s).as(s"h$s")): _*)
    // the vocabulary is corpus-scaled — partitioned join unless the
    // caller proved the corpus small (see Partitioning.indexSideFor)
    sh.join(graft.util.Partitioning.indexSide(vocabHashes), "w")
      .groupBy("doc_id")
      .agg(
        min(col("h0")).as("m0"),
        (1 until k).map(s => min(col(s"h$s")).as(s"m$s")): _*
      )
      .collect()
      .map(r => r.getLong(0) -> (0 until k).map(i => r.getString(i + 1)))
      .toMap
  }

  test("matches the vocabulary-join formulation on random and edge docs") {
    val rnd = new scala.util.Random(37)
    val words = Vector("the", "cat", "ran", "über", "深度", "x", "", "a1",
      "loss", "rate", "token", "naïve", "Δx", "😀emoji")
    val payloads =
      (1 to 10).map(_ =>
        Seq.fill(3 + rnd.nextInt(120))(words(rnd.nextInt(words.size)))
          .mkString(" ")) ++ Seq(
        "one two three", // exactly one gram
        "one two", // fewer tokens than n: no signature row
        "", // empty text: one empty token
        "a  b   c", // consecutive spaces → empty tokens
        " leading and trailing ", // boundary empties
        "same same same same same") // heavily repeated grams
    val d = docs(payloads)
    val got = kernel(d)
    val want = original(d)
    assert(got.keySet == want.keySet, "doc sets differ")
    for ((id, sig) <- want)
      assert(got(id) == sig, s"doc $id signatures differ")
    // the short docs (10: two tokens, 11: empty text = one token)
    // must have NO signature row on either path
    assert(!want.contains(11L) && !got.contains(11L))
    assert(!want.contains(12L) && !got.contains(12L))
  }

  test("minhashLsh end-to-end result unchanged through the kernel") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(Seq(base, base + " extra", "totally different words here " +
      "that share nothing with the others at all"))
    val out = Dedup.minhashLsh(d, threshold = 0.0)
      .select("i", "j", "jaccard").orderBy("i", "j").collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getDouble(2) > 0.0))
  }
}
