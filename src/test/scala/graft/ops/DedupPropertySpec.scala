package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Differential property tests for the dedup decision path — the ops
  * whose OUTPUT deletes data, checked against brute-force ground truth
  * on generated inputs (fixed seeds → deterministic suite, one Spark
  * pass per property, mirroring CanonPropertySpec's structure).
  *
  * These are the guarantees users rely on:
  *  - [[Dedup.duplicateClusters]] must equal true connected components
  *    (min id per component) on ANY pair graph — pinned here because
  *    the pointer-doubling shortcut rewrote the iteration schedule and
  *    a subtle shortcut bug (adopting a cross-component label) would
  *    merge unrelated docs, i.e. delete originals.
  *  - [[Dedup.prefixFilterJaccard]] advertises COMPLETE recall at the
  *    threshold (the pigeonhole prefix bound) — checked against
  *    all-pairs exact Jaccard, bit-for-bit on the integer basis points.
  *  - [[Dedup.minhashLsh]]'s md5 hash family must pair every EXACT
  *    duplicate: identical shingle sets collide in every band, so a
  *    missed exact pair can only be a banding-plumbing bug.
  */
class DedupPropertySpec extends AnyFunSuite with SparkTestBase {

  test("duplicateClusters equals brute-force connected components over " +
      "random chains, cliques, stars, and augmented trees") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // 24 components with disjoint id ranges; shape mix covers the
    // convergence extremes: diameter ≈ n (chains), 1 (cliques/stars),
    // and in-between (random trees + extra edges)
    val edges = (0 until 24).flatMap { c =>
      val base = c * 1000L
      val n = 2 + rnd.nextInt(49)
      val ids = (0 until n).map(base + _)
      c % 4 match {
        case 0 => // chain
          ids.sliding(2).map(p => (p(0), p(1))).toSeq
        case 1 => // clique (sized down: edge count is n²)
          val cl = ids.take(2 + rnd.nextInt(10))
          for (i <- cl.indices; j <- i + 1 until cl.length)
            yield (cl(i), cl(j))
        case 2 => // star
          ids.tail.map(v => (ids.head, v))
        case _ => // random spanning tree + up to 5 extra edges
          val tree = ids.tail.map(v => (ids(rnd.nextInt(ids.indexOf(v))), v))
          val extra = (0 until rnd.nextInt(6)).map { _ =>
            val a = ids(rnd.nextInt(n)); val b = ids(rnd.nextInt(n))
            if (a < b) (a, b) else (b, a)
          }.filter(p => p._1 != p._2)
          tree ++ extra
      }
    }
    // brute-force union-find ground truth (component min as label)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(v => v -> find(v)).toMap

    val exits = graft.util.Loop.unconvergedCount("duplicateClusters")
    // worst diameter here is 49 (a 50-node chain): the deferred-shortcut
    // reach law (2, 4, 12, 28, 60, …) covers it in 5 cycles and the
    // convergence check needs one more no-change cycle — 12 rounds
    val got = Dedup.duplicateClusters(edges.toDF("i", "j"), maxIter = 14)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      s"component labels diverge on ${got.toSet.diff(want.toSet).take(5)}")
    assert(
      graft.util.Loop.unconvergedCount("duplicateClusters") - exits == 0,
      "all generated shapes must converge inside maxIter=14 with doubling")
  }

  test("prefixFilterJaccard finds EXACTLY the all-pairs ≥-threshold set " +
      "on a high-overlap corpus (completeness + verification, in bp)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // small vocabulary (so no shingle is rare — the regime where
    // maxDf-style rarity candidates collapse and only the pigeonhole
    // bound keeps recall) + planted near-dup twins: each base doc gets
    // a copy with 0..2 single-token edits, scattering pair Jaccard
    // across and around the threshold
    val vocab = (0 until 12).map(i => s"t$i")
    val base = (1L to 60L).map { id =>
      val len = 8 + rnd.nextInt(12)
      (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).toVector)
    }
    val docs = (base ++ base.map { case (id, toks) =>
      val edited = (0 until rnd.nextInt(3)).foldLeft(toks)((t, _) =>
        t.updated(rnd.nextInt(t.size), vocab(rnd.nextInt(vocab.size))))
      (id + 500L, edited)
    }).map { case (id, toks) => (id, toks.mkString(" ")) }
    val t = 6000L
    // ground truth with the op's own feature definition: distinct
    // 3-token shingles, jaccard_bp = floor(double-jaccard · 10⁴)
    def sh(text: String): Set[String] =
      text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = docs.map { case (id, text) => id -> sh(text) }.toMap
    val want = (for {
      (i, si) <- sets; (j, sj) <- sets if i < j
      c = (si & sj).size
      bp = math.floor(c.toDouble / (si.size + sj.size - c) * 10000).toLong
      if bp >= t
    } yield (i, j) -> bp).toMap

    val got = Dedup.prefixFilterJaccard(docs.toDF("doc_id", "text"),
        thresholdBp = t)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val missed = want.keySet.diff(got.keySet)
    val spurious = got.keySet.diff(want.keySet)
    assert(missed.isEmpty,
      s"completeness broken: ${missed.take(5)} (of ${want.size}) not found")
    assert(spurious.isEmpty, s"over-threshold lies: ${spurious.take(5)}")
    assert(got == want, "jaccard_bp values must match exact brute force")
    assert(want.nonEmpty, "degenerate fixture: no qualifying pairs")
  }

  test("minhashLsh pairs every planted EXACT duplicate in both hash " +
      "families (md5-portable and xxhash64)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // diverse vocab ⇒ near-zero background similarity; each base doc
    // gets one exact copy at id+5000
    val base = (1L to 30L).map { id =>
      (id, Seq.fill(10)(s"w${rnd.nextInt(4000)}").mkString(" "))
    }
    val corpus = (base ++ base.map { case (id, s) => (id + 5000L, s) })
      .toDF("doc_id", "text")
    val wantPairs = base.map { case (id, _) => (id, id + 5000L) }.toSet
    // the test name predates the xxhash64 family's removal; the md5
    // family is now the only one
    val got = Dedup.minhashLsh(corpus)
      .filter(col("jaccard") >= 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wantPairs.subsetOf(got),
      s"missed exact pairs ${wantPairs.diff(got).take(5)}")
  }
}
