package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** PageRank/TextRank behavior on hand-built graphs, checked against an
  * independent driver-side implementation of the same recurrence (the
  * battery oracle checks engine-exactness; this checks the math).
  */
class GraphSpec extends AnyFunSuite with SparkTestBase {

  /** Plain-Scala reference: the same fixed-point integer recurrence
    * (ranks in micro-units, per-edge floor division, damped mix floored
    * by 1000) — sum order is irrelevant by construction.
    */
  private def referenceRank(
      edges: Seq[(String, String, Long)], iters: Int, damping: Double
  ): Map[String, Double] = {
    val dNum = math.round(damping * 1000)
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = edges.map(_._1).distinct.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      r = edges.groupBy(_._2).map { case (v, in) =>
        val s = in.map { case (u, _, w) => r(u) * w / outW(u) }.sum
        v -> ((1000L - dNum) * 1000L + dNum * s / 1000L)
      }
    }
    r.view.mapValues(_ / 1e6).toMap
  }

  test("pageRank matches the reference recurrence exactly on a weighted graph") {
    import spark.implicits._
    // hub-and-spoke with asymmetric weights plus a 2-cycle
    val edges = Seq(
      ("hub", "a", 3L), ("a", "hub", 1L),
      ("hub", "b", 1L), ("b", "hub", 1L),
      ("a", "b", 2L), ("b", "c", 5L), ("c", "a", 1L))
    val got = Graph.pageRank(edges.toDF("u", "v", "w"), iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = referenceRank(edges, iters = 5, damping = 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, r) =>
      assert(r == want(v), s"$v: $r != ${want(v)}") // bit-exact, same fold
    }
    // a symmetric 2-node graph is a fixed point at rank 1.0
    val sym = Seq(("x", "y", 1L), ("y", "x", 1L))
    val symGot = Graph.pageRank(sym.toDF("u", "v", "w"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(symGot == Map("x" -> 1.0, "y" -> 1.0))
  }

  test("textRank rewards connectivity over raw repetition") {
    import spark.implicits._
    // "rare" co-occurs with many distinct words; "loud" only repeats
    // itself next to one partner
    val docs = Seq(
      (1L, "rare alpha rare beta rare gamma rare delta"),
      (2L, "loud loud loud loud loud loud loud noise")
    ).toDF("doc_id", "text")
    val ranks = Graph.textRank(docs, iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks("rare") > ranks("loud"),
      s"expected connectivity to beat repetition: $ranks")
    // every token that appears in a bigram has a rank
    assert(ranks.keySet == Set("rare", "alpha", "beta", "gamma", "delta",
      "loud", "noise"))
  }

  test("personalizedPageRank: mass decays with seed distance, seeds keep " +
    "their teleport, disconnected components get zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // undirected path a–b–c–d–e plus a disconnected pair x–y
    val und = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("x", "y"))
    val edges = (und ++ und.map(_.swap)).map { case (u, v) => (u, v, 1L) }
      .toDF("u", "v", "w")
    val out = Graph.personalizedPageRank(edges, Seq("a").toDF("tok"),
      iters = 6).collect()
      .map(r => r.getAs[String]("tok") ->
        (r.getAs[Double]("r"), r.getAs[Boolean]("is_seed"))).toMap
    assert(out("a")._2 && !out("b")._2)
    // decay with distance, compared within parity classes (a path is
    // bipartite, so a fixed round count leaves odd/even oscillation —
    // cross-parity comparisons are not monotone and shouldn't be)
    assert(out("b")._1 > out("d")._1 && out("c")._1 > out("e")._1,
      out.toString)
    // the seed keeps collecting teleport — it outranks everything
    assert(out("a")._1 > out("b")._1)
    // no path from the seed → exactly zero mass
    assert(out("x")._1 == 0.0 && out("y")._1 == 0.0)
  }

  test("kCore: peeling strips a tail chain and keeps the clique; " +
      "converged rounds are no-ops") {
    import spark.implicits._
    // K4 on 1-4 plus a chain 4-5-6-7: the chain can never sustain
    // degree 3, the clique can
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("u", "v")
    val got = graft.ops.Graph.kCore(edges, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
    // k above the clique degree empties the graph
    assert(graft.ops.Graph.kCore(edges, k = 4).count() == 0)
  }

  test("kCore: long-chain cascade peels to the TRUE (empty) 2-core past " +
      "the old fixed 6 rounds; a too-low cap signals unconverged") {
    import spark.implicits._
    // 24-node path at k=2: every peel round only strips the two current
    // endpoints, so full dissolution takes ~11 rounds — the structure the
    // old rounds=6 default silently returned a superset for
    val path = (1L until 24L).map(i => (i, i + 1)).toDF("u", "v")
    def exits() = graft.util.Loop.unconvergedCount("kCore")
    val before = exits()
    assert(graft.ops.Graph.kCore(path, k = 2).count() == 0,
      "a path has no 2-core; fixed-point peeling must dissolve it fully")
    assert(exits() - before == 0,
      "default cap must converge without a signal")
    // with a deliberately-too-low cap, the superset comes back AND the
    // unconverged exit is signalled
    assert(graft.ops.Graph.kCore(path, k = 2, maxRounds = 3).count() > 0)
    assert(exits() - before == 1,
      "capped exit must record an unconverged-exit metric")
  }

  test("duplicateClusters: a chain past the propagation horizon signals " +
      "an unconverged exit; pointer doubling converges it in log rounds") {
    import spark.implicits._
    // 2000-node path, the pathological templated-corpus shape. With the
    // shortcut active from cycle 3 the min's horizon is ~60 hops at
    // maxIter=10 (reach 2, 4, then r → 2(r+2) per cycle) — far past
    // the OLD linear law's 10 hops, but still short of diameter 1999:
    // the loop must exit signalling unconverged, and the labels are
    // over-segmented.
    val longChain = (1L until 2000L).map(i => (i, i + 1)).toDF("i", "j")
    def exits() = graft.util.Loop.unconvergedCount("duplicateClusters")
    val before = exits()
    val labels = graft.ops.Dedup.duplicateClusters(longChain, maxIter = 10)
    assert(labels.select("cluster_id").distinct().count() > 1,
      "past-horizon chain must come back over-segmented (that's the hazard)")
    assert(exits() - before == 1,
      "unconverged exit must be recorded, not silent")
    // doubling makes the fix CHEAP: 24 propagation rounds (12 cycles;
    // reach 2, 4, 12, 28, 60, 124, 252, 508, 1020, 2044 — crosses 1999
    // by cycle 10) fully resolve the 1999-diameter chain — the linear
    // law would need ~4000 rounds. One cluster, no signal.
    val capped = exits()
    val full = graft.ops.Dedup.duplicateClusters(longChain, maxIter = 24)
    assert(full.select("cluster_id").distinct().count() == 1,
      "log-round propagation must resolve the full chain")
    assert(full.filter("cluster_id <> 1").count() == 0)
    assert(exits() - capped == 0)
    // a near-clique blob (the normal dedup shape) converges silently
    val blob = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("i", "j")
    val got = graft.ops.Dedup.duplicateClusters(blob, maxIter = 10)
    assert(got.select("cluster_id").distinct().count() == 1)
    assert(exits() - capped == 0)
  }

  test("labelPropagation: two cliques over one bridge resolve to two " +
      "communities; connected components would see one") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for { i <- ids; j <- ids if i < j } yield (i, j)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((4L, 10L)))
      .toDF("u", "v")
    val got = graft.ops.Graph.labelPropagation(edges, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = Seq(1L, 2L, 3L, 4L).map(got).toSet
    val c2 = Seq(10L, 11L, 12L, 13L).map(got).toSet
    assert(c1.size == 1 && c2.size == 1, s"cliques must be uniform: $got")
    assert(c1 != c2, s"bridge must not merge the communities: $got")
    // one component — what plain connectivity would report
    import org.apache.spark.sql.functions.{col => c}
    assert(graft.ops.Dedup.duplicateClusters(
      edges.select(c("u").as("i"), c("v").as("j")))
      .select("cluster_id").distinct().count() == 1)
  }

  test("triangles: 4-clique with a pendant — counts, coefficients, " +
      "and edge normalization") {
    import spark.implicits._
    // K4 on 1-4 (4 triangles, 3 per node), node 5 pendant off 1;
    // edges deliberately messy: reversed duplicates + a self-loop
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 3L), (1L, 5L), (3L, 3L)
    ).toDF("u", "v")
    val got = graft.ops.Graph.triangles(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // node 1: degree 4 (2,3,4,5), 3 triangles, C = 2*3/(4*3) = 0.5
    assert(got(1L) == (4L, 3L, 5000L), s"node1: ${got(1L)}")
    // nodes 2-4: degree 3, 3 triangles, C = 2*3/(3*2) = 1.0
    Seq(2L, 3L, 4L).foreach(n =>
      assert(got(n) == (3L, 3L, 10000L), s"node$n: ${got(n)}"))
    // pendant: degree 1, no triangles, coefficient 0 (no div-by-zero)
    assert(got(5L) == (1L, 0L, 0L), s"node5: ${got(5L)}")
    // total distinct triangles = Σ per-node / 3 = 4
    assert(got.values.map(_._2).sum == 12L)
  }
}
