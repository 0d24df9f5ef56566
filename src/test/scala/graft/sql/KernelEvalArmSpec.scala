package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.sql.expressions._

/** Every kernel's interpreted `nullSafeEval` against its generated code.
  * Turning off whole-stage codegen alone still compiles each projection
  * through expression codegen, so the eval arm runs only under
  * `spark.sql.codegen.factoryMode=NO_CODEGEN`. The rows come from an RDD:
  * over a local `Seq.toDF` relation the optimizer folds the projection
  * interpretively (ConvertToLocalRelation) and both runs would be eval.
  */
class KernelEvalArmSpec extends AnyFunSuite with SparkTestBase {

  // combining acute accents (decomposed), then CJK — escaped so nothing
  // depends on this file's encoding
  private val texts = Seq(null, "", "a", "cafe\u0301 e\u0301te\u0301",
    "\u6f22\u5b57 \u30c6\u30ad\u30b9\u30c8 \u4e2d\u6587",
    "the quick brown fox jumps over the lazy dog")
  private val vectors: Seq[Option[Seq[Option[Double]]]] = Seq(None,
    Some(Nil), Some(Seq(Some(1.5))), Some(Seq(Some(1.0), None)),
    Some(Seq(Some(2.0), Some(-3.0), Some(0.5))),
    Some(Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0))))

  private def kernels(s: Column, v: Column): Seq[Column] = {
    def k(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      GraftShim.column(e)
    val se = GraftShim.expression(s)
    val ve = GraftShim.expression(v)
    val tokens = GraftShim.expression(split(s, " "))
    Seq(
      k(AHash64(se)),
      k(AudioTokens(se, 4, 2, Seq(1, 2))),
      k(CdcBoundaries(se, 4)),
      k(CharMinhash(se, 2, 4)),
      k(DctHash64(se)),
      k(LcsLength(tokens, GraftShim.expression(split(lit("the a fox"), " ")))),
      k(NfcNormalize(se)),
      k(NfcNormalize(se, nfkc = true)),
      k(WordMinhash(se, 2, 4)),
      functions.digest("md5", s),
      functions.digest("blake3", s),
      k(FloatVecDot(ve, ve)),
      k(FloatMatVec(ve, Array(1.0, -1.0, 0.5, 2.0, 0.0, 1.0), 2)))
  }

  private def rows(): Seq[Seq[Any]] = {
    import spark.implicits._
    spark.sparkContext.parallelize(texts.zip(vectors), 2).toDF("s", "v")
      .select(kernels(col("s"), col("v")): _*)
      .collect().toSeq
      .map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq // binary digests compare by value
        case x => x
      })
  }

  test("eval arm (NO_CODEGEN) and codegen arm return identical rows on " +
    "null, empty, one-char, combining-mark and CJK inputs") {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val previous = keys.map(k => k -> spark.conf.getOption(k))
    val codegen = rows()
    val eval =
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        rows()
      } finally previous.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(codegen.size == texts.size)
    codegen.zip(eval).zip(texts).foreach { case ((c, e), t) =>
      assert(c == e, s"arms differ on input ${Option(t).map(_.toSeq)}")
    }
  }
}
