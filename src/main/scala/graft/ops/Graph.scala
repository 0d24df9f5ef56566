package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Loop

/** Iterative graph algorithms as DataFrame loops — the distributed
  * power-method family (PageRank/TextRank centrality).
  *
  * Scale shape: one equi-join (edges × ranks on the source key) plus one
  * grouped aggregation (contributions by destination) per iteration —
  * the classic Pregel-as-joins formulation, rounds driven by
  * [[graft.util.Loop]]. Edges are the big side and stream through a hash
  * join keyed on `u`; ranks are vertex-sized. Iteration count is fixed
  * (power method converges geometrically — 4-10 rounds is the standard
  * working range).
  *
  * Engine-replayability: ranks are FIXED-POINT micro-units (BIGINT,
  * 1.0 = 1e6), so the per-vertex contribution sum is exact integer
  * arithmetic — order-independent, replayable bit-exactly by any engine
  * as a plain `sum()`, and executed by Spark as a whole-stage-codegen
  * hash aggregate with map-side partials. (An earlier formulation pinned
  * a FLOAT fold order via `aggregate(sort_array(collect_list(...)))`;
  * that put an ObjectHashAggregate in the hot loop — sort-based fallback
  * past 128 keys per partition, disk-spill-sensitive under IO-contended
  * machines, and the per-vertex array OOMs on web-scale hub vertices
  * with millions of in-edges. Integer sums have neither failure mode.)
  * One IEEE double division at the very end converts micro-units back to
  * ranks — exact in every engine.
  */
object Graph {

  /** 1.0 in rank micro-units. */
  private val Micro = 1000000L

  /** Weighted PageRank over `edges` (columns `u`, `v`, `w`: directed
    * u→v with positive integer weight). Returns (tok, r) after `iters`
    * rounds of the fixed-point recurrence
    *   r'(v) = (1-d)·1e6 + ⌊d · Σ_u ⌊r(u) · w(u,v) / W(u)⌋⌋
    * in micro-units, with W(u) the total out-weight of u, starting from
    * r ≡ 1e6, and damping d quantized to 3 decimals (d = dNum/1000).
    * The returned `r` is micro-units / 1e6 as a double. Vertices are the
    * edge endpoints that have in-edges (an undirected graph — edges
    * present in both directions — keeps every vertex).
    *
    * Overflow bound: per-edge products r(u)·w must fit in Int64. Total
    * rank mass stays ≈ |V|·1e6, so the safe envelope is
    * |V| · max(w) ≲ 9e12 — e.g. a 1M-word vocabulary with co-occurrence
    * weights up to ~9M, far beyond any real adjacency graph.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    rank(edges, None, iters, damping).drop("is_seed")

  /** Personalized PageRank — topic expansion from a seed vocabulary:
    * the teleport mass returns ONLY to the seeds
    * (r_v = [v∈S]·(1−d)·Micro + d·Σ_u r_u·w_uv/w_u), so rank flows
    * outward from the seed set through the graph and the TOP NON-SEED
    * nodes are the topic's natural neighborhood — seed-lexicon growth,
    * query expansion, related-entity mining. Same unnormalized
    * fixed-point integer recurrence and cost profile as [[pageRank]];
    * the seed set is a tiny broadcast.
    *
    * Contract: nodes only hold rank while they RECEIVE edges, so run it
    * on (effectively) undirected graphs — the co-occurrence graphs this
    * library builds — where every seed with any edge keeps collecting
    * its teleport term; seeds absent from the graph contribute nothing.
    * Init: seeds at Micro, everything else 0 (documented — `iters` is a
    * fixed replayable round count, not convergence).
    *
    * Out: `(tok, r, is_seed)` with r micro-scaled to double like
    * [[pageRank]].
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int, damping: Double = 0.85): DataFrame =
    rank(edges, Some(seeds), iters, damping)

  /** The one rank loop: `(tok, r, is_seed)` after `iters` rounds, with the
    * teleport term going to the `seeds` only, or to every vertex when
    * there are none ([[pageRank]]: then no seed join is planned, and the
    * BIGINT recurrence is exactly the unpersonalized one).
    */
  private def rank(edges: DataFrame, seeds: Option[DataFrame],
      iters: Int, damping: Double): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dNum = math.round(damping * 1000)
    require(dNum >= 0 && dNum <= 1000, s"damping out of [0,1]: $damping")
    // materialize the edge table FIRST: everything below reads it at
    // least twice (out-weight agg + join side, then r0), and exchange
    // reuse neither crosses job boundaries nor reliably fires for the
    // repeated subplan — without this, textRank's corpus-sized bigram
    // aggregation ran up to 4× per call (measured: the whole query's
    // dominant cost, and the term an IO-contended machine amplifies)
    val e = edges.localCheckpoint(true)
    val outW = e.groupBy("u").agg(sum(col("w")).as("wu"))
    val withShare = e.join(outW, "u")
      .select(col("u"), col("v"), col("w"), col("wu"))
      .localCheckpoint(true)
    val (withSeeds, isSeed) = seeds match {
      case None => ((df: DataFrame) => df, lit(true))
      case Some(s) =>
        val seedSet = s.select(col("tok")).distinct()
          .withColumn("_seed", lit(1L)).localCheckpoint(true)
        ((df: DataFrame) => df.join(broadcast(seedSet), Seq("tok"), "left"),
          col("_seed").isNotNull)
    }
    val base = (1000L - dNum) * (Micro / 1000L)
    val r0 = withSeeds(withShare.select(col("u").as("tok")).distinct())
      .select(col("tok"), when(isSeed, lit(Micro)).otherwise(lit(0L)).as("r"))
      .localCheckpoint(true)
    val ranks = Loop.rounds(r0, iters) { (ranks, _) =>
      withSeeds(withShare
        .join(ranks, withShare("u") === ranks("tok"))
        // `div` = integral division; every operand is non-negative, so
        // truncation IS the floor in [[pageRank]]'s recurrence
        .select(col("v"), expr("r * w div wu").as("c"))
        .groupBy("v")
        .agg(sum(col("c")).as("s"))
        .select(col("v").as("tok"), expr(s"($dNum * s) div 1000").as("_p")))
        .select(col("tok"),
          (when(isSeed, lit(base)).otherwise(lit(0L)) + col("_p")).as("r"))
    }
    withSeeds(ranks).select(col("tok"),
      (col("r") / lit(Micro.toDouble)).as("r"), isSeed.as("is_seed"))
  }

  /** TextRank keyword scoring: PageRank over the corpus's word-adjacency
    * graph (undirected — each adjacent-token pair contributes an edge in
    * both directions, weighted by corpus co-occurrence count). The graph
    * is vocabulary-sized regardless of corpus size: one corpus-stream
    * bigram aggregation builds it, then the iteration cost is independent
    * of the data volume. High-rank words are central to the corpus's
    * co-occurrence structure — a corpus-level keyword signal that, unlike
    * raw frequency, rewards connectivity over repetition. Self-edges
    * (a token adjacent to itself — "la la la") are dropped, as in the
    * published algorithm: a self-loop feeds rank back to its source and
    * lets pure repetition impersonate centrality.
    */
  def textRank(docs: DataFrame, iters: Int = 4, damping: Double = 0.85): DataFrame = {
    // aggregate to corpus level BEFORE mirroring: the undirected doubling
    // then only touches the vocabulary-sized pair table, not the per-doc
    // gram stream
    val pairs = TextAnalysis.ngramCounts(docs, 2)
      .groupBy("gram").agg(sum(col("c")).as("w"))
      .select(split(col("gram"), " ").as("uv"), col("w"))
      .select(element_at(col("uv"), 1).as("a"),
        element_at(col("uv"), 2).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
    val edges = pairs.select(col("a").as("u"), col("b").as("v"), col("w"))
      .unionByName(pairs.select(col("b").as("u"), col("a").as("v"), col("w")))
      .groupBy("u", "v").agg(sum(col("w")).as("w"))
    pageRank(edges, iters, damping)
  }

  /** k-core decomposition by iterative peeling (Seidman 1983): rounds
    * of "drop nodes with degree < k, recompute" until a FIXED POINT —
    * the densest-substructure filter behind spam-ring and community-core
    * detection. Each round is one degree aggregation + two semi-joins;
    * the loop stops when a round removes no edge (peeling is monotone,
    * so an unchanged edge count IS convergence: degrees are then stable
    * and every further round is the identity). `maxRounds` is a safety
    * cap for pathological long-chain cascades (a length-L path at k=2
    * peels ~L/2 rounds); hitting it unconverged logs a WARN and counts
    * an unconverged exit in [[graft.util.Loop]] — the result is then a
    * SUPERSET of the true k-core, never an undercount.
    * An engine replaying a fixed round count ≥ the convergence round
    * reproduces the result exactly (idempotence). Edges normalize/dedup
    * like [[triangles]]. Returns surviving nodes with in-core degree.
    *
    * Scale: per round, degree is a map-side-combinable count and the
    * filters are broadcast-able once the core shrinks; the convergence
    * check is a count on the just-checkpointed round.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 32): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    val e0 = edges.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      .localCheckpoint(true)
    var edgeCount = e0.count()
    val e = if (edgeCount == 0L) e0 else
      Loop.until("kCore", e0, maxRounds) { (e, _) =>
        val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select("n")
        e.join(keep.select(col("n").as("a")), "a")
          .join(keep.select(col("n").as("b")), "b")
          .select("a", "b")
      } { e =>
        val cur = e.count()
        val settled = cur == edgeCount || cur == 0L
        edgeCount = cur
        settled
      }
    e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("core_degree"))
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007), deterministic form: labels start as node ids; each
    * round every node adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label; fixed `rounds` rounds (the
    * usual 3-5 suffice on social-style graphs, and a fixed count is
    * what makes the run engine-replayable — asynchronous/random-order
    * LPA is not). Unlike connected components, dense local structure
    * beats mere reachability, so bridged clusters separate.
    *
    * Each round: one edges×labels equi-join, one (node, label) count,
    * one argmax — all map-side-combinable. Returns (node, community).
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val e = edges.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      .localCheckpoint(true)
    val both = e.select(col("a").as("n"), col("b").as("m"))
      .unionAll(e.select(col("b").as("n"), col("a").as("m")))
      .localCheckpoint(true)
    val labels0 = both.select(col("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
      .localCheckpoint(true)
    val labels = Loop.rounds(labels0, rounds) { (labels, _) =>
      both
        .join(labels.select(col("n").as("m"), col("lbl")), "m")
        .groupBy("n", "lbl").agg(count(lit(1)).as("c"))
        .groupBy("n")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("_b"))
        .select(col("n"), col("_b.l").as("lbl"))
    }
    labels.select(col("n").as("node"), col("lbl").as("community"))
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * undirected edge list (columns `u`, `v`) — the community-structure
    * signal (how clique-like each node's neighborhood is) behind spam
    * subgraph detection and graph-feature engineering.
    *
    * Algorithm: degree-ordered orientation (Suri & Vassilvitskii 2011,
    * "Counting Triangles and the Curse of the Last Reducer"). Each
    * undirected edge orients from the endpoint with the smaller
    * (degree, id) to the larger; every triangle then has exactly ONE
    * node with two out-edges, so wedges enumerate as a self-join of the
    * oriented list on the source and close with one more equi-join.
    * The orientation is the scale lever: a degree-D hub fans out
    * wedges only through its (few) higher-degree out-neighbors —
    * Σ out-deg² is O(m^1.5) for any graph, where the naive id-ordering
    * is Θ(D²) per hub. All joins are equi-joins; no step is ever
    * nodes × nodes.
    *
    * clustering_bp = ⌊2·T(v)·10⁴ / (d(v)·(d(v)−1))⌋, 0 where degree < 2.
    * Pure integer arithmetic — any engine replays it exactly.
    */
  def triangles(edges: DataFrame): DataFrame = {
    // canonical undirected edge set (dedup both directions + self-loops)
    val e = graft.util.AutoUnpersist.persistScoped(
      edges.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct())
    val deg = graft.util.AutoUnpersist.persistScoped(
      e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d")))
    // orient by (deg, id): lo → hi
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val o = graft.util.AutoUnpersist.persistScoped(
      e.join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
        .select(
          when(fwd, col("a")).otherwise(col("b")).as("lo"),
          when(fwd, col("b")).otherwise(col("a")).as("hi"),
          when(fwd, col("db")).otherwise(col("da")).as("hd")))
    // wedges from each lo's out-neighborhood, ordered by (deg, id) so
    // the closing edge is oriented w1.hi → w2.hi
    val w1 = o.select(col("lo"), col("hi").as("x"), col("hd").as("dx"))
    val w2 = o.select(col("lo"), col("hi").as("y"), col("hd").as("dy"))
    val tri = w1.join(w2, "lo")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .join(o.select(col("lo").as("x"), col("hi").as("y")), Seq("x", "y"))
      .select(col("lo").as("ta"), col("x").as("tb"), col("y").as("tc"))
    val perNode = tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          expr("coalesce(n_triangles, 0) * 20000 div (d * (d - 1))"))
          .otherwise(lit(0L)).as("clustering_bp"))
  }
}
