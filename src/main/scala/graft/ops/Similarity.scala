package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Cosine is computed with explicit double casts and left-to-right
  * accumulation (`aggregate` with a 0.0 seed) so any engine replaying the
  * same expression is bitwise identical — required for oracle checks, and
  * good hygiene for reproducible thresholds in production.
  *
  * Brute force is the correctness baseline; the scale path is
  * random-hyperplane LSH bucketing, which turns top-k into an equi-join on
  * bucket signatures (shuffle on signature, no cross join between buckets).
  */
object Similarity {

  /** Codegen kernel; same left-to-right double accumulation as the
    * higher-order-function formulation but ~50× faster (see FloatVecDot).
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(graft.sql.expressions.FloatVecDot(
      GraftShim.expression(a), GraftShim.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k cosine neighbors for the given query rows.
    * Joins queries × candidates (broadcast the queries — they're the small
    * side), ranks per query. O(|Q|·N) work distributed over N's partitions.
    */
  def bruteForceTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    // norms once per vector (not per pair): 1 dot per pair instead of 3
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("cos_bp", floor(col("cos") * 10000).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_bp"), col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos_bp", "rank")
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * anchor, the `k` most-similar corpus vectors with a DIFFERENT label —
    * the negatives that actually teach a metric model something (random
    * negatives are trivially separable). Same distributed shape as
    * [[bruteForceTopK]]: anchors broadcast, corpus streamed, one codegen
    * dot per pair, per-anchor top-k window. At corpus scale the same
    * label-aware mining composes with the LSH/IVF candidate generators —
    * this is the exact formulation those approximate paths are measured
    * against.
    */
  def hardNegatives(
      anchors: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"
  ): DataFrame = {
    val q = anchors.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"), col(labelCol).as("q_label"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"), col(labelCol).as("c_label"))
    val scored = c.join(broadcast(q), col("q_label") =!= col("c_label"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("cos_bp", floor(col("cos") * 10000).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_bp"), col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "q_label", "cand_id", "c_label", "cos_bp", "rank")
  }

  /** Deterministic pseudo-random hyperplanes: component h of plane (t, p)
    * is ±1 depending on a bit of md5("t:p:h") — portable and seedless
    * (sign-random projections).
    */
  def hyperplaneSign(table: Int, p: Int, dim: Int): Seq[Int] =
    (0 until dim).map { h =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$table:$p:$h".getBytes("UTF-8"))
      if ((hex(0) & 1) == 1) 1 else -1
    }

  /** One batched projection of `vec` against a constant row-major sign
    * matrix — a single codegen expression regardless of row count (N
    * separate literal-array dots made Catalyst analyze + compile an
    * N×dim-literal plan: ~7 s one-time cost at 48 projections).
    */
  def matVec(vec: Column, flat: Array[Double], rows: Int): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(graft.sql.expressions.FloatMatVec(
      GraftShim.expression(vec), flat, rows))
  }

  /** Flat row-major ±1 matrix for tables `tables` × planes 0..nPlanes-1. */
  private def signMatrix(tables: Seq[Int], nPlanes: Int, dim: Int): Array[Double] =
    tables.flatMap(t => (0 until nPlanes).flatMap(p =>
      hyperplaneSign(t, p, dim).map(_.toDouble))).toArray

  /** All `nTables` bucket signatures at once from ONE matrix projection:
    * element t of the result is table t's nPlanes-bit signature string.
    * `proj` must be the materialized [[matVec]] column for the same
    * (tables × planes) matrix — passed as a bound column so the matvec
    * runs once per row, not once per bit.
    */
  private def bucketsFromProj(proj: Column, nTables: Int, nPlanes: Int): Column =
    array((0 until nTables).map { t =>
      concat((0 until nPlanes).map { p =>
        when(element_at(proj, t * nPlanes + p + 1) >= 0, lit("1"))
          .otherwise(lit("0"))
      }: _*)
    }: _*)

  /** IVF seed centroids: the first `nCells` vectors by id — deterministic,
    * collected to the driver and broadcast as literals so cell assignment
    * is a narrow argmax projection over codegen dots.
    */
  def ivfCentroids(
      vectors: DataFrame, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): Seq[Array[Double]] =
    vectors.orderBy(idCol).limit(nCells).select(vecCol)
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble)).toSeq

  /** `iters` Lloyd rounds of k-means refinement over the deterministic
    * first-N seed. Each round is two DataFrame aggregations: (1) assign
    * every vector to its argmax-cosine cell (same tie rule as [[ivfCell]]),
    * (2) per (cell, dimension), the member mean — computed on FIXED-POINT
    * micro-units: each component floors to `⌊x·10⁶⌋` (one deterministic
    * IEEE op) and the reduction is a plain BIGINT `sum()` — associative,
    * commutative, partition-order-free — with the mean a floor division
    * re-scaled to double. Any engine replays it exactly, and the
    * aggregation is a codegen hash-agg with map-side partials. (The r5
    * predecessor pinned float-sum order with a sort_array(collect_list)
    * fold — ObjectHashAggregate, no partial aggregation, the same
    * spill-prone shape the PageRank postmortem evicted; this is that
    * lesson applied to the Lloyd loop. The ~1e-6 quantization of
    * centroid components is noise three orders below the k=16 cell
    * geometry.) Cells that lose all members keep their previous
    * centroid. Only the 16×64-double centroid table ever reaches the
    * driver; member lists stay distributed.
    */
  def kmeansCentroids(
      vectors: DataFrame, nCells: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): Seq[Array[Double]] = {
    var cents = ivfCentroids(vectors, nCells, idCol, vecCol)
    if (iters == 0) return cents
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col(idCol).as("_id"), col(vecCol).as("_vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      for (_ <- 0 until iters) {
        // centroids ride a broadcast DataFrame, NOT literal arrays baked
        // into the plan: an [[ivfCell]]-style literal argmax generates new
        // source per iteration (the literals change), so every round would
        // pay whole-stage-codegen compilation of a 16×64-literal plan;
        // the join form compiles once and is then a codegen-cache hit.
        // The score arithmetic is identical (FloatVecDot left-to-right,
        // driver-computed centroid norm), so assignments are bit-equal.
        val centDf = broadcast(cents.zipWithIndex.map { case (c, i) =>
          (i, c.toSeq, math.sqrt(c.map(x => x * x).sum))
        }.toDF("_cell", "_cv", "_cn"))
        // argmax via max(struct(s, cell)): max score, ties to the higher
        // cell — the exact comparison greatest(struct...) performs
        val assigned = v.crossJoin(centDf)
          .withColumn("_s", dot(col("_vec"), col("_cv")) / col("_cn"))
          .groupBy("_id")
          .agg(max(struct(col("_s"), col("_cell"))).as("_best"))
          .select(col("_id"), col("_best._cell").as("_cell"))
        val means = v.join(assigned, "_id")
          .select(col("_cell"), posexplode(col("_vec")).as(Seq("_dim", "_v")))
          .groupBy("_cell", "_dim")
          .agg(
            sum(floor(col("_v").cast("double") * 1000000.0).cast("long"))
              .as("_sq"),
            count(lit(1)).as("_n"))
          .collect()
        // a cell with no members keeps its previous centroid (`next`
        // starts as a copy, so untouched cells already do)
        val next = cents.map(_.clone())
        means.foreach { r =>
          // plain Long division truncates toward zero — exactly DuckDB's
          // `//` on integers (measured: (-7)//2 = -3, NOT floor's -4),
          // which matters because component sums go negative
          next(r.getInt(0))(r.getInt(1)) =
            (r.getLong(2) / r.getLong(3)).toDouble / 1000000.0
        }
        cents = next
      }
    } finally v.unpersist(false)
    cents
  }

  /** Cell id = argmax over centroids of cos(vec, centroid). The vec's own
    * norm is constant across centroids, so only centroid norms matter.
    */
  def ivfCell(vec: Column, centroids: Seq[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cNorm = math.sqrt(c.map(x => x * x).sum)
      struct((dot(vec, array(c.toSeq.map(lit): _*)) / cNorm).as("s"),
        lit(i).as("cell"))
    }
    greatest(scored: _*).getField("cell")
  }

  /** IVF ANN top-k: candidates restricted to the query's `nProbe` closest
    * cells. Index build is one narrow pass (cell assignment); search is an
    * equi-join on cell — the standard coarse-quantizer trade: recall grows
    * with nProbe, work is ~nProbe/nCells of brute force.
    */
  def ivfTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val centroids = kmeansCentroids(candidates, nCells, lloydIters, idCol, vecCol)
    val spark = candidates.sparkSession
    import spark.implicits._
    // same broadcast-DataFrame form as the training loop (stable codegen —
    // a literal argmax would recompile a 16×64-literal plan per run);
    // identical arithmetic and tie rules, so cells are bit-equal
    val centDf = broadcast(centroids.zipWithIndex.map { case (cv, i) =>
      (i, cv.toSeq, math.sqrt(cv.map(x => x * x).sum))
    }.toDF("cell", "_cv", "_cn"))
    // candidate cell = argmax via max(struct): max score, ties to the
    // higher cell; cv/cn ride the struct (cell is unique per group, so
    // the trailing fields never participate in the comparison)
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
      .crossJoin(centDf)
      .withColumn("_s", dot(col("cv"), col("_cv")) / col("_cn"))
      .groupBy("cand_id")
      .agg(max(struct(col("_s"), col("cell"), col("cv"), col("cn"))).as("_b"))
      .select(col("cand_id"), col("_b.cell").as("cell"),
        col("_b.cv").as("cv"), col("_b.cn").as("cn"))
    // per-query ranked probe cells: top nProbe by (score, cell) desc
    val probeW = Window.partitionBy("query_id").orderBy(desc("_s"), desc("cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"))
      .crossJoin(centDf)
      .withColumn("_s", dot(col("qv"), col("_cv")) / col("_cn"))
      .withColumn("_rn", row_number().over(probeW))
      .filter(col("_rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
    val scored = c.join(q, "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("cos_bp", floor(col("cos") * 10000).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_bp"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos_bp", "rank")
  }

  /** Exact all-pairs cosine pairs (i < j, floor(cos*10000) ≥ thresholdBp)
    * via a BLOCKED self-join: the left side is exploded to every block id
    * and equi-joined on the right side's `vec_id % nBlocks` — each pair is
    * examined exactly once after the i<j filter, as a shuffle hash join
    * partitioned by block. No broadcast of the corpus, no nested loop over
    * the whole table (the previous `a.join(b, i < j)` formulation planned
    * as a BroadcastNestedLoopJoin, which ships the entire right side to
    * every task and caps out at driver/executor memory).
    *
    * Compute is inherently O(N²) — exact thresholded similarity on
    * unstructured vectors admits no better (measured on this corpus:
    * sign-LSH needs >1.5× all-pairs candidates for ~97% recall at
    * cos≈0.4). This is the exact baseline; [[lshNearDupPairs]] is the
    * corpus-scale approximate path.
    */
  def exactNearDupPairs(
      vectors: DataFrame, thresholdBp: Long, nBlocks: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val v = vectors.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("_nrm"))
    val left = v.select(col(idCol).as("i"), col(vecCol).as("va"),
        col("_nrm").as("na"))
      .withColumn("_jb", explode(sequence(lit(0), lit(nBlocks - 1))))
    val right = v.select(col(idCol).as("j"), col(vecCol).as("vb"),
      col("_nrm").as("nb"), pmod(col(idCol), lit(nBlocks)).as("_jb"))
    left.join(right, "_jb")
      .filter(col("i") < col("j"))
      .withColumn("cos_bp",
        floor(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 10000)
          .cast("long"))
      .filter(col("cos_bp") >= thresholdBp)
      .select("i", "j", "cos_bp")
  }

  /** Approximate near-dup pairs at corpus scale: multi-table sign-LSH
    * candidates (equi-join on bucket signature per table — work scales
    * with bucket occupancy, never N²) verified by exact cosine. The md5
    * hyperplanes are engine-portable, so a SQL oracle can replay the
    * whole pipeline bit-for-bit.
    *
    * Recall tunes with (nPlanes, nTables) against the threshold: at a
    * realistic near-dup threshold (cos ≥ 0.85, per-plane agreement ≈ 0.82)
    * the defaults give >99% recall with tiny buckets; on this synthetic
    * corpus, whose planted pairs sit barely above cos 0.4 (per-plane
    * agreement ≈ 0.63 — adversarially weak for hyperplane LSH), measured
    * recall vs [[exactNearDupPairs]] is 86-91% (see the spec).
    */
  def lshNearDupPairs(
      vectors: DataFrame, dim: Int, thresholdBp: Long,
      nPlanes: Int = 4, nTables: Int = 12, maxBucket: Int = 5000,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val v = graft.util.AutoUnpersist.persistScoped(
      vectors.select(col(idCol).as("vid"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm")))
    // one row per (vector, table): bucket signature — melted long format,
    // one self-join total instead of one per table. All nTables×nPlanes
    // projections come from ONE materialized matVec column (48 separate
    // literal-array dots cost ~7 s of plan analysis + codegen per session)
    val melted = graft.util.AutoUnpersist.persistScoped(
      v.withColumn("_proj",
          matVec(col("vec"), signMatrix(0 until nTables, nPlanes, dim),
            nTables * nPlanes))
        .select(col("vid"),
          posexplode(bucketsFromProj(col("_proj"), nTables, nPlanes))
            .as(Seq("t", "b"))))
    // band table and its self-join side are vector-scaled and explode-
    // descended (untrustworthy estimates — see Partitioning.indexSideFor);
    // the vectors frame anchors the small-vs-corpus decision
    val side = graft.util.Partitioning.indexSideFor(v)
    val capped = LshGuard.capBuckets(melted, Seq("t", "b"), maxBucket, side)
    val cands = capped.select(col("vid").as("i"), col("t"), col("b"))
      .join(side(capped.select(col("vid").as("j"), col("t"), col("b"))),
        Seq("t", "b"))
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
    cands
      .join(v.select(col("vid").as("i"), col("vec").as("va"), col("nrm").as("na")), "i")
      .join(v.select(col("vid").as("j"), col("vec").as("vb"), col("nrm").as("nb")), "j")
      .withColumn("cos_bp",
        floor(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 10000)
          .cast("long"))
      .filter(col("cos_bp") >= thresholdBp)
      .select("i", "j", "cos_bp")
  }

  /** ANN top-k via multi-table LSH (OR-amplification): each of `nTables`
    * hash tables buckets vectors by `nPlanes` sign bits; candidates are
    * the union over tables of same-bucket pairs (distinct), then ranked
    * by exact cosine. Each table is an equi-join on its signature —
    * shuffle-friendly, no cross join — and recall ≈ 1-(1-pᵇ)ᵀ tunes with
    * (nPlanes, nTables) independently of corpus size.
    */
  def lshTopK(
      queries: DataFrame, candidates: DataFrame, k: Int, dim: Int,
      nPlanes: Int = 8, nTables: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    // melted (id, table, bucket) from ONE matVec projection per side and
    // ONE equi-join on (table, bucket) — the per-table join union both
    // re-scanned the inputs per table and compiled nTables×nPlanes
    // literal-dot expressions
    val flat = signMatrix(0 until nTables, nPlanes, dim)
    def meltBuckets(side: DataFrame, vcol: String, id: String) =
      side.withColumn("_proj", matVec(col(vcol), flat, nTables * nPlanes))
        .select(col(id),
          posexplode(bucketsFromProj(col("_proj"), nTables, nPlanes))
            .as(Seq("_t", "_b")))
    val candPairs = meltBuckets(q, "qv", "query_id")
      .join(meltBuckets(c, "cv", "cand_id"), Seq("_t", "_b"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val scored = candPairs
      .join(q, "query_id")
      .join(c, "cand_id")
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("cos_bp", floor(col("cos") * 10000).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_bp"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos_bp", "rank")
  }

  /** Namespace for the random-projection table in [[hyperplaneSign]]'s
    * md5("t:p:h") family — outside the 0..nTables-1 ids the LSH paths use.
    */
  private val RpTable = 99

  /** Johnson-Lindenstrauss sign projection to `rDim` dimensions: component
    * d is the codegen dot of the vector against the deterministic ±1
    * pattern md5("99:d:h") — the same engine-portable family as the LSH
    * hyperplanes, so a SQL oracle rebuilds the identical reduced vectors.
    */
  def rpVec(vec: Column, dim: Int, rDim: Int): Column =
    matVec(vec,
      (0 until rDim).flatMap(d =>
        hyperplaneSign(RpTable, d, dim).map(_.toDouble)).toArray,
      rDim)

  /** ANN top-k via random-projection prefilter + exact rerank: score every
    * pair in the `rDim`-dimensional sign-projected space (rDim/dim of the
    * full dot cost — 4× less arithmetic and memory traffic at 64→16),
    * keep the top `overfetch`·k candidates per query, then rank only those
    * by exact full-dimension cosine.
    *
    * The JL lemma bounds the angle distortion, so reduced-space rank is a
    * faithful prefilter; unlike bucketed LSH there is no recall cliff from
    * hard bucket boundaries — the candidate set is always exactly
    * overfetch·k per query. Work is still O(|Q|·N) but on rDim-wide
    * vectors; the exact pass touches overfetch·k rows per query. The same
    * broadcast-queries join shape as [[bruteForceTopK]], so the plan stays
    * a codegen broadcast join at any corpus size.
    */
  def rpTopK(
      queries: DataFrame, candidates: DataFrame, k: Int, dim: Int,
      rDim: Int = 32, overfetch: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"),
      rpVec(col(vecCol), dim, rDim).as("qr"))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"),
      rpVec(col(vecCol), dim, rDim).as("cr"))
    // reduced-space cosine: same left-to-right double fold as the full dot
    val rcos = dot(col("qr"), col("cr")) /
      (sqrt(dot(col("qr"), col("qr"))) * sqrt(dot(col("cr"), col("cr"))))
    val pre = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("_rcos_bp", floor(rcos * 10000).cast("long"))
    val preW = Window.partitionBy("query_id").orderBy(desc("_rcos_bp"), col("cand_id"))
    val kept = pre.withColumn("_prn", row_number().over(preW))
      .filter(col("_prn") <= k * overfetch)
    val w = Window.partitionBy("query_id").orderBy(desc("cos_bp"), col("cand_id"))
    kept
      .withColumn("cos_bp",
        floor(dot(col("qv"), col("cv")) / (col("qn") * col("cn")) * 10000)
          .cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos_bp", "rank")
  }

  /** Symmetric int8 scalar quantization per vector — the memory-shrink
    * step an IVF/PQ-style index takes before an ANN sweep (4× smaller
    * than float32, SIMD-friendly dot products downstream).
    *
    * scale = 127/max|x| (0 for the zero vector), codes = ⌊x·scale⌋, and
    * the per-vector reconstruction MSE quantifies the quality loss. All
    * double arithmetic with left-to-right folds, so any engine replays
    * it bit-exactly. Narrow projection — no shuffle, scales linearly;
    * summary scalars (sum/min/max of codes) are emitted rather than the
    * code array itself so downstream compare layers never deal in
    * array-typed columns.
    */
  /** Internal: id, int8 codes recast to float (exact for |c| ≤ 127), and
    * the reconstruction norm sqrt(Σc²)/scale ≈ |x|, for quantized scoring.
    */
  private def quantizedSide(
      emb: DataFrame, idCol: String, vecCol: String,
      outId: String, outCodes: String, outNorm: String): DataFrame = {
    val v = col("_v")
    emb
      .withColumn("_v", transform(col(vecCol), x => x.cast("double")))
      .withColumn("_maxabs", array_max(transform(v, x => abs(x))))
      .withColumn("_scale",
        when(col("_maxabs") > 0, lit(127.0) / col("_maxabs")).otherwise(lit(0.0)))
      .withColumn(outCodes,
        transform(v, x => floor(x * col("_scale")).cast("float")))
      .withColumn(outNorm,
        when(col("_scale") > 0,
          sqrt(dot(col(outCodes), col(outCodes))) / col("_scale"))
          .otherwise(lit(0.0)))
      .select(col(idCol).as(outId), col(outCodes), col(outNorm), col("_scale").as(s"${outId}_scale"))
  }

  /** Approximate top-k cosine over int8-quantized vectors: candidates are
    * scored with the integer dot product of their codes (cast to float —
    * exact, since every int8 product and 64-term sum stays far inside
    * float's 2^24 integer range, so the ranking is deterministic and
    * engine-replayable) rescaled by the two quantization scales and code
    * norms. Memory per vector drops 4×; the dot stays on the codegen
    * kernel. Recall vs exact brute force is measured in TextOpsSpec.
    */
  def quantizedTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val q = quantizedSide(queries, idCol, vecCol, "query_id", "qc", "qn")
    val c = quantizedSide(candidates, idCol, vecCol, "cand_id", "cc", "cn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("acos",
        dot(col("qc"), col("cc"))
          / (col("query_id_scale") * col("cand_id_scale"))
          / (col("qn") * col("cn")))
      .withColumn("acos_bp", floor(col("acos") * 10000).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(desc("acos_bp"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "acos_bp", "rank")
  }

  def quantizeInt8(
      emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val v = col("_v")
    emb
      .withColumn("_v", transform(col(vecCol), x => x.cast("double")))
      .withColumn("_maxabs", array_max(transform(v, x => abs(x))))
      .withColumn("scale",
        when(col("_maxabs") > 0, lit(127.0) / col("_maxabs")).otherwise(lit(0.0)))
      .withColumn("codes", transform(v, x => floor(x * col("scale")).cast("int")))
      .withColumn("_recon",
        transform(col("codes"), c =>
          when(col("scale") > 0, c.cast("double") / col("scale")).otherwise(lit(0.0))))
      .withColumn("mse",
        aggregate(zip_with(v, col("_recon"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x) / size(v))
      .select(col(idCol), col("scale"), col("mse"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication in embedding
    * space — k-means cells bound the pairwise work, within-cell pairs
    * above a cosine floor form duplicate groups, and each group keeps
    * its LEAST-centroid-similar member (the paper's diversity-preserving
    * policy: the kept copy is the group's most atypical example; ties to
    * the lowest id).
    *
    * Returns (cluster_id, keep_id, keep_csim_bp, cluster_size) — one row
    * per duplicate group, exactly the [[Dedup.survivors]] contract plus
    * the kept member's centroid cosine in basis points. Singleton docs
    * (no within-cell pair above the floor) are implicitly kept and don't
    * appear.
    *
    * Scale shape: the Lloyd loop is [[kmeansCentroids]] (centroid table
    * driver-sized, members distributed); assignment is one narrow
    * projection; the quadratic step is FENCED inside cells — work is
    * Σ|cell|², so nCells is the knob that trades recall (cross-cell
    * near-dups are invisible, the paper's accepted miss) against cost,
    * exactly like LSH bucket caps. Group resolution and the keep policy
    * are one label propagation + one argmin aggregation.
    */
  def semanticDedup(
      vectors: DataFrame, nCells: Int = 16, lloydIters: Int = 3,
      minCosBp: Long = 4000L,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val cents = kmeansCentroids(vectors, nCells, lloydIters, idCol, vecCol)
    // one argmax struct yields BOTH the cell and the centroid cosine —
    // the same greatest(struct(s, cell)) comparison ivfCell performs
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val cNorm = math.sqrt(c.map(x => x * x).sum)
      struct((dot(col("_vec"), array(c.toSeq.map(lit): _*)) / cNorm).as("s"),
        lit(i).as("cell"))
    }
    val v = graft.util.AutoUnpersist.persistScoped(
      vectors.select(col(idCol).as("_id"), col(vecCol).as("_vec"))
        .withColumn("_best", greatest(scored: _*))
        .select(col("_id"), col("_vec"), norm(col("_vec")).as("_n"),
          col("_best").getField("cell").as("_cell"),
          floor(col("_best").getField("s") * 10000).cast("long")
            .as("_csim_bp")))
    val x = v.select(col("_cell"), col("_id").as("i"),
      col("_vec").as("_vi"), col("_n").as("_ni"))
    val y = v.select(col("_cell"), col("_id").as("j"),
      col("_vec").as("_vj"), col("_n").as("_nj"))
    val pairs = x.join(y, Seq("_cell"))
      .filter(col("i") < col("j"))
      .filter(floor(dot(col("_vi"), col("_vj")) / (col("_ni") * col("_nj"))
        * 10000).cast("long") >= minCosBp)
      .select("i", "j")
    Dedup.duplicateClusters(pairs)
      .join(v.select(col("_id").as("doc_id"), col("_csim_bp")), "doc_id")
      .groupBy("cluster_id")
      .agg(min(struct(col("_csim_bp").as("c"), col("doc_id").as("id")))
        .as("_k"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), col("_k.id").as("keep_id"),
        col("_k.c").as("keep_csim_bp"), col("cluster_size"))
  }

  /** Depth-`d` weights for truncated RBO: `w_d = ⌊(1−p)·p^(d−1)·10⁹⌋`,
    * computed ONCE on the driver and embedded as literals in both the
    * Spark plan and the oracle SQL — the engine never exponentiates, so
    * the metric replays exactly everywhere.
    */
  def rboWeights(k: Int, pBp: Long): Seq[(Long, Long)] = {
    val p = pBp.toDouble / 10000.0
    (1 to k).map(d =>
      (d.toLong, math.floor((1 - p) * math.pow(p, d - 1) * 1e9).toLong))
  }

  /** Rank-Biased Overlap (Webber, Moffat & Zobel 2010), truncated at
    * depth `k` — ranking agreement between two retrievers for the same
    * queries, weighting agreement at the TOP of the list geometrically
    * higher (persistence `p`): the eval a pipeline owner needs when
    * recall@k says two retrievers "match" but the order — which is what
    * the user sees — may not. rbo_u = Σ_{d=1..k} (w_d·overlap_d) div d
    * in integer nano-units (w_d from [[rboWeights]]); identical rankings
    * score Σw_d = (1−p^k)·10⁹, disjoint ones 0.
    *
    * `a` and `b` are any two generators' ranked shortlists
    * `(query_id, cand_id, rank)` — the same contract every top-k op here
    * emits. Distributed shape: one k-bounded equi-join on
    * (query_id, cand_id) for match depths, a k-row depth table per
    * query, a broadcast k-row weight table — nothing corpus-shaped
    * shuffles beyond the shortlists themselves.
    *
    * Returns `(query_id, overlap_k, rbo_u)`.
    */
  def rboAgreement(
      a: DataFrame, b: DataFrame, k: Int, pBp: Long = 9000L
  ): DataFrame = {
    require(k >= 1 && pBp > 0 && pBp < 10000, s"bad k/p: $k/$pBp")
    val spark = a.sparkSession
    import spark.implicits._
    val md = a.filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank").as("_ra"))
      .join(b.filter(col("rank") <= k)
          .select(col("query_id"), col("cand_id"), col("rank").as("_rb")),
        Seq("query_id", "cand_id"))
      .select(col("query_id"),
        greatest(col("_ra"), col("_rb")).cast("long").as("_md"))
    val depths = a.select("query_id").distinct()
      .select(col("query_id"),
        explode(sequence(lit(1L), lit(k.toLong))).as("d"))
    val ov = depths.join(md, Seq("query_id"), "left")
      .groupBy("query_id", "d")
      .agg(sum(when(col("_md") <= col("d"), 1L).otherwise(0L))
        .as("overlap_d"))
    val wdf = broadcast(rboWeights(k, pBp).toDF("d", "w"))
    ov.join(wdf, "d")
      .groupBy("query_id")
      .agg(
        max(when(col("d") === k, col("overlap_d"))).as("overlap_k"),
        sum(expr("(w * overlap_d) div d")).as("rbo_u"))
  }

  /** k-center greedy coreset selection (Sener & Savarese 2018, the
    * farthest-point-first traversal): pick `k` corpus vectors such that
    * every vector is within the picked set's cover radius — the
    * COVERAGE-guarantee subset family (greedy is a 2-approximation of
    * the optimal k-center). Where [[prototypePrune]] keeps hard examples
    * per density cluster and [[mmrRerank]] diversifies one query's
    * shortlist, the coreset is a GLOBAL diverse skeleton of the corpus:
    * eval-set seeding, labeling-budget allocation, centroid-free
    * sharding anchors.
    *
    * Greedy round r picks the vector FARTHEST from the already-picked
    * set — argmin over candidates of max-cosine-to-picked, floored to
    * basis points, ties to the lower id; the seed is the lowest id. The
    * emitted `cover_bp` (the pick's own max-cos at pick time, NULL for
    * the seed) is the k-center radius sequence: non-decreasing, and its
    * last value is the certified covering radius of the whole corpus.
    *
    * Distributed shape, [[kmeansCentroids]]-style: the picked set is the
    * only driver state (k × d doubles), each round is one distributed
    * argmin over the corpus against the broadcast picked set — k narrow
    * passes, O(k·n) dots total recomputed per round (O(k²·n/2) overall;
    * for the k ≲ 100 this op targets, recompute beats checkpointing a
    * corpus-sized running-min column every round).
    *
    * Returns `(round, vec_id, cover_bp)`, round 1..k.
    */
  def kCenterCoreset(
      vectors: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    require(k >= 1, s"bad k: $k")
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = graft.util.AutoUnpersist.persistScoped(
      vectors.select(col(idCol).as("_id"), col(vecCol).as("_v"),
        norm(col(vecCol)).as("_n")))
    val seedRow = v.agg(min(struct(col("_id"), col("_v"))).as("s"))
      .select(col("s._id"), col("s._v")).head()
    var picked = Vector(
      (seedRow.getLong(0), seedRow.getSeq[Float](1).toArray))
    var out = Vector((1, seedRow.getLong(0), Option.empty[Long]))
    var exhausted = false
    for (r <- 2 to k if !exhausted) {
      val scored = picked.map { case (_, c) =>
        val cn = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
        dot(col("_v"), array(c.map(x => lit(x.toDouble)).toSeq: _*)) /
          (lit(cn) * col("_n"))
      }
      val mc = floor(greatest(lit(-1.0) +: scored: _*) * 10000)
        .cast("long")
      val pick = v.filter(!col("_id").isin(picked.map(_._1): _*))
        .agg(min(struct(mc.as("mc"), col("_id"), col("_v"))).as("p"))
        .select(col("p._id"), col("p.mc"), col("p._v")).head()
      if (pick.isNullAt(0)) exhausted = true // corpus smaller than k
      else {
        picked :+= ((pick.getLong(0), pick.getSeq[Float](2).toArray))
        out :+= ((r, pick.getLong(0), Some(pick.getLong(1))))
      }
    }
    out.map { case (r, id, c) => (r, id, c) }
      .toDF("round", "vec_id", "cover_bp")
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * diversity re-ranking: from a per-query candidate shortlist, pick
    * `kOut` results greedily, each round taking the candidate maximizing
    *
    *   λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)
    *
    * — the standard redundancy penalty that turns "the k most similar"
    * (usually k near-duplicates of each other) into "k similar AND
    * mutually distinct", the shape RAG retrieval and eval-set selection
    * actually want. Scoring is pure integer: `mmr_u = lambdaBp·rel_bp −
    * (10⁴−lambdaBp)·maxSim_bp` (basis-point micro-units), ties to the
    * lower cand_id, empty-selected-set penalty 0 — every round replays
    * digit-exactly in any engine.
    *
    * `cands` is any candidate generator's `(query_id, cand_id, cos_bp)`
    * contract — [[bruteForceTopK]] here, [[ivfTopK]]/[[lshTopK]] at
    * corpus scale, identical downstream. Distributed shape: the pairwise
    * candidate-similarity table is shortlist², i.e. ≤ k² rows PER QUERY
    * (k=10–50 ⇒ ≤2500 — bounded fan-out, no corpus joins anywhere), and
    * each greedy round is one bounded join + one per-query window over
    * the shortlist. The greedy loop is inherently sequential in k — MMR's
    * definition — but every query re-ranks independently, so the rounds
    * are `kOut` narrow distributed passes, not a driver loop over queries.
    *
    * Returns `(query_id, mmr_rank, cand_id, cos_bp, mmr_u)`,
    * `mmr_rank` 1..kOut (fewer if the shortlist exhausts).
    */
  def mmrRerank(
      cands: DataFrame, vectors: DataFrame, kOut: Int = 5,
      lambdaBp: Long = 7000L,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    require(kOut >= 1, s"bad kOut: $kOut")
    require(lambdaBp >= 0 && lambdaBp <= 10000, s"bad lambda: $lambdaBp")
    val base = graft.util.AutoUnpersist.persistScoped(
      cands.select("query_id", "cand_id", "cos_bp"))
    val v = vectors.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
    val a = base.join(v, base("cand_id") === v("_vid"))
      .select(col("query_id"), col("cand_id").as("_i"), col("_v").as("_va"))
    val b = base.join(v, base("cand_id") === v("_vid"))
      .select(col("query_id"), col("cand_id").as("_j"), col("_v").as("_vb"))
    val sims = graft.util.AutoUnpersist.persistScoped(
      a.join(b, "query_id").filter(col("_i") =!= col("_j"))
        .select(col("query_id"), col("_i"), col("_j"),
          floor(cosine(col("_va"), col("_vb")) * 10000).cast("long")
            .as("_sim_bp")))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("_score"), col("cand_id"))
    def pick(scored: DataFrame, r: Int): DataFrame = scored
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("query_id"), lit(r).as("mmr_rank"), col("cand_id"),
        col("cos_bp"), col("_score").as("mmr_u"))
    val first = pick(base.withColumn("_score", lit(lambdaBp) * col("cos_bp")),
      1).localCheckpoint(true)
    // round r of the loop picks rank r + 1
    graft.util.Loop.rounds(first, kOut - 1) { (out, r) =>
      val selIds = out.select(col("query_id"), col("cand_id").as("_j"))
      val maxSim = sims.join(selIds, Seq("query_id", "_j"))
        .groupBy(col("query_id"), col("_i").as("cand_id"))
        .agg(max("_sim_bp").as("_mx"))
      val rem = base.join(out.select("query_id", "cand_id"),
        Seq("query_id", "cand_id"), "left_anti")
      val scored = rem.join(maxSim, Seq("query_id", "cand_id"), "left")
        .withColumn("_score", lit(lambdaBp) * col("cos_bp") -
          lit(10000L - lambdaBp) * coalesce(col("_mx"), lit(0L)))
      out.unionByName(pick(scored, r + 1))
    }
  }

  /** Cluster-prototype difficulty pruning — the data-selection rule of
    * Sorscher et al. (NeurIPS 2022, "Beyond neural scaling laws"): embed,
    * cluster, score every example by its distance to the assigned cluster
    * prototype, and in the data-abundant regime KEEP THE HARD examples
    * (far from their prototype) while dropping the easy redundant core.
    * Per cluster, the `keepHardBp`/10⁴ hardest members survive — per
    * cluster, not globally, so a tight cluster can't flood the kept set
    * with its periphery while a diffuse one is erased.
    *
    * Prototypes come from [[kmeansCentroids]] (fixed-point Lloyd over the
    * deterministic first-`nCells` seed); assignment and the centroid
    * cosine reuse the exact `greatest(struct(s, cell))` argmax
    * [[semanticDedup]] and [[ivfCell]] perform, floored to basis points —
    * so difficulty ranks replay digit-exactly in any engine.
    *
    * Distributed shape (the [[graft.ops.TextAnalysis.curriculum]]
    * value-domain decomposition, per cell): the per-cell rank of each
    * member is n_harder(cell, csim_bp) — a cumulative window over the
    * BOUNDED (cell × basis-point) distribution table, ≤ nCells·10⁰⁴ rows —
    * plus a tie rank inside the single (cell, csim_bp) group. No
    * corpus-sized window ever sorts a whole cell, which is what makes the
    * op survive cells holding 1/nCells of a 100 TB corpus. Ceil keep
    * count: every non-empty cell keeps at least one member, so no cluster
    * (= no data mode) is ever erased outright.
    *
    * Returns `(vec_id, cell, csim_bp, cell_rank, cell_n)` for the kept
    * (hard) members; `cell_rank` 1 = hardest in its cell.
    */
  def prototypePrune(
      vectors: DataFrame, nCells: Int = 16, lloydIters: Int = 3,
      keepHardBp: Long = 2500L,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    require(keepHardBp > 0 && keepHardBp <= 10000, s"bad keep: $keepHardBp")
    val cents = kmeansCentroids(vectors, nCells, lloydIters, idCol, vecCol)
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val cNorm = math.sqrt(c.map(x => x * x).sum)
      struct((dot(col("_vec"), array(c.toSeq.map(lit): _*)) / cNorm).as("s"),
        lit(i).as("cell"))
    }
    // csim divides the argmax score by the vector's OWN norm too: the
    // argmax is |v|-invariant, but difficulty compares ACROSS vectors of
    // one cell, where an unnormalized |v| would masquerade as centrality
    val asg = graft.util.AutoUnpersist.persistScoped(
      vectors.select(col(idCol).as("vec_id"), col(vecCol).as("_vec"))
        .withColumn("_best", greatest(scored: _*))
        .select(col("vec_id"),
          col("_best").getField("cell").cast("long").as("cell"),
          floor(col("_best").getField("s") / norm(col("_vec")) * 10000)
            .cast("long").as("csim_bp")))
    // value-domain tables: bounded by nCells × 10001 regardless of corpus
    val dist = asg.groupBy("cell", "csim_bp").agg(count(lit(1)).as("_n"))
    val harder = Window.partitionBy("cell").orderBy("csim_bp")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = dist
      .withColumn("_n_harder", coalesce(sum("_n").over(harder), lit(0L)))
      .select("cell", "csim_bp", "_n_harder")
    val sizes = asg.groupBy("cell").agg(count(lit(1)).as("cell_n"))
    asg.join(broadcast(cum), Seq("cell", "csim_bp"))
      .join(broadcast(sizes), Seq("cell"))
      .withColumn("cell_rank", col("_n_harder") + row_number().over(
        Window.partitionBy("cell", "csim_bp").orderBy("vec_id"))
        .cast("long"))
      .filter(col("cell_rank") <=
        expr(s"(cell_n * $keepHardBp + 9999) div 10000"))
      .select("vec_id", "cell", "csim_bp", "cell_rank", "cell_n")
  }

  /** Margin-based parallel-pair (bitext) mining between two embedding
    * collections A and B — the corpus-curation op that aligns two
    * monolingual (or cross-modal) sides by embedding similarity, in the
    * margin-scoring formulation of Artetxe & Schwenk (2019).
    *
    * For each candidate (x, y) with y among x's top-`topn` matches in B,
    * the raw cosine is normalized by both directions' k-NN neighborhoods:
    *
    *   margin(x,y) = 2k·cos(x,y) / (Σᵢ₌₁..ₖ cos(x, NNᵢ(x,B))
    *                              + Σᵢ₌₁..ₖ cos(y, NNᵢ(y,A)))
    *
    * which suppresses hubs — vectors globally close to everything — that
    * a raw-cosine threshold would admit. Scoring runs on the bp-floored
    * cosines (longs) with one IEEE double division at the end, so any
    * engine replays it bit-exactly.
    *
    * Distributed shape: two k-NN sweeps (here [[bruteForceTopK]]; at
    * corpus scale swap in [[lshTopK]]/[[ivfTopK]] — identical output
    * contract), two per-id aggregations over exactly k rows each, then
    * equi-joins on the pair keys. `mutual = true` additionally requires
    * x to be y's best match in A (precision mode) — one more semi-join.
    *
    * A and B are independent collections with independent id spaces —
    * parallel corpora commonly number both sides identically, so the
    * true translation pair (i, i) must survive. Set `selfExclude = true`
    * ONLY when a and b are literally the same collection (monolingual
    * near-pair mining), where (i, i) is the degenerate self-match.
    */
  def bitextMine(
      a: DataFrame, b: DataFrame, k: Int = 4, topn: Int = 1,
      minMarginBp: Long = 10000L, mutual: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding",
      selfExclude: Boolean = false
  ): DataFrame = {
    // cosine is symmetric, so the B→A sweep is the TRANSPOSE of A→B:
    // score the cross product ONCE (half the dot work of two
    // bruteForceTopK sweeps), then rank it under both partitionings.
    // Tie-breaks match bruteForceTopK's (desc score, then the other
    // side's id ascending), so results are identical to two sweeps.
    val q = a.select(col(idCol).as("src_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = b.select(col(idCol).as("tgt_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val pairCond = if (selfExclude) col("src_id") =!= col("tgt_id") else lit(true)
    val scored = c.join(broadcast(q), pairCond)
      .withColumn("cos_bp",
        floor(dot(col("qv"), col("cv")) / (col("qn") * col("cn")) * 10000)
          .cast("long"))
      .select("src_id", "tgt_id", "cos_bp")
    val wAb = Window.partitionBy("src_id").orderBy(desc("cos_bp"), col("tgt_id"))
    val wBa = Window.partitionBy("tgt_id").orderBy(desc("cos_bp"), col("src_id"))
    // eager checkpoint, not a lazy persist: the ranked frame feeds THREE
    // plan branches (ax, ay, candidates) — concurrent stages of a lazy
    // cache race into recomputing the scored cross product + two windows
    // per branch; the materialized table is only (|A|·max(k,topn) +
    // |B|·k) rows
    val ranked = scored.withColumn("rab", row_number().over(wAb))
      .withColumn("rba", row_number().over(wBa))
      .filter(col("rab") <= math.max(k, topn) || col("rba") <= k)
      .localCheckpoint(true)
    val axSum = ranked.filter(col("rab") <= k)
      .groupBy("src_id").agg(sum("cos_bp").as("ax"))
    val aySum = ranked.filter(col("rba") <= k)
      .groupBy("tgt_id").agg(sum("cos_bp").as("ay"))
    val cand = ranked.filter(col("rab") <= topn &&
        (!lit(mutual) || col("rba") === 1))
      .select("src_id", "tgt_id", "cos_bp")
    cand
      .join(axSum, "src_id")
      .join(aySum, "tgt_id")
      // degenerate neighborhoods (non-positive cosine mass) can't be
      // margin-normalized meaningfully — drop before the division
      .filter(col("ax") + col("ay") > 0)
      .withColumn("margin_bp",
        floor(lit(2L * k * 10000L) * col("cos_bp") /
          (col("ax") + col("ay"))).cast("long"))
      .filter(col("margin_bp") >= minMarginBp)
      .select("src_id", "tgt_id", "cos_bp", "margin_bp")
  }

  /** Product-quantization codebooks (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): the d-dim space splits
    * into `m` contiguous subspaces of d/m dims, and each subspace trains
    * its own `kCodes`-codeword quantizer — here the same spherical
    * k-means [[kmeansCentroids]] runs (first-k seed, fixed-point Lloyd
    * means), just on the sliced sub-vectors. The combined quantizer
    * addresses kCodes^m cells with only m·kCodes stored codewords — the
    * whole point of the product structure. Codebooks are driver-sized
    * (m × kCodes × d/m doubles) exactly like the IVF centroid table.
    */
  def pqCodebooks(
      vectors: DataFrame, m: Int, kCodes: Int, lloydIters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding", dim: Int = 64
  ): Seq[Seq[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val subLen = dim / m
    (0 until m).map { s =>
      val sub = vectors.select(col(idCol),
        slice(col(vecCol), s * subLen + 1, subLen).as("_sv"))
      kmeansCentroids(sub, kCodes, lloydIters, idCol, "_sv")
    }
  }

  /** The m×kCodes codebook table all PQ passes join against: one
    * broadcast DataFrame (sub, code, codeword, codeword-norm) — the same
    * stable-codegen form the IVF loop uses (literal-array argmax plans
    * recompile per run; a join compiles once).
    */
  private def pqCodebookDf(
      spark: org.apache.spark.sql.SparkSession,
      books: Seq[Seq[Array[Double]]]): DataFrame = {
    import spark.implicits._
    broadcast(books.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (cv, c) =>
        (s, c, cv.toSeq, math.sqrt(cv.map(x => x * x).sum))
      }
    }.toDF("sub", "code", "_cv", "_cn"))
  }

  /** Melt vectors into (id, sub, sub-vector) rows — one row per subspace,
    * a pure projection (the explode factor is m, not the corpus).
    */
  private def pqMelt(
      vectors: DataFrame, m: Int, dim: Int,
      idCol: String, vecCol: String): DataFrame = {
    val subLen = dim / m
    val subs = (0 until m).map(s => slice(col(vecCol), s * subLen + 1, subLen))
    vectors.select(col(idCol).as("_id"),
      posexplode(array(subs: _*)).as(Seq("sub", "_sv")))
  }

  /** PQ encoding: every vector becomes m small code ids — the argmax-
    * cosine codeword per subspace, same struct-max tie rule (ties to the
    * higher code) as every quantizer here. Output (id, sub, code): the
    * compressed representation is m·⌈log2 kCodes⌉ bits per vector vs
    * 32·d for the raw floats — at m=4, kCodes=8 that is 12 bits vs 2048.
    * One melt + one broadcast join + one map-side-combinable argmax
    * groupBy; nothing corpus-quadratic.
    */
  def pqEncode(
      vectors: DataFrame, books: Seq[Seq[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding", dim: Int = 64
  ): DataFrame = {
    val cb = pqCodebookDf(vectors.sparkSession, books)
    pqMelt(vectors, books.size, dim, idCol, vecCol)
      .join(cb, "sub")
      .withColumn("_s", dot(col("_sv"), col("_cv")) / col("_cn"))
      .groupBy(col("_id"), col("sub"))
      .agg(max(struct(col("_s"), col("code"))).as("_b"))
      .select(col("_id").as(idCol), col("sub"), col("_b.code").as("code"))
  }

  /** PQ top-k by asymmetric distance computation (ADC): the query stays
    * un-quantized; its exact dot product against every codeword of every
    * subspace forms an m×kCodes lookup table, and a candidate's
    * approximate inner product is the SUM of the m entries its codes
    * select — table lookups and integer adds instead of d multiplies.
    * Each subspace term floors to micro-units (⌊dot·10⁶⌋, one IEEE op)
    * before the sum, so the reduction is order-free BIGINT and any
    * engine replays it bit-exactly.
    *
    * The ADC order is a SHORTLIST, not the answer: codes address only
    * kCodes^m cells, so the top `overfetch`·k by ADC then rerank by
    * exact full-dimension cosine — the standard IVFADC+rerank contract
    * (same two-stage shape as [[rpTopK]]).
    *
    * Scale shape: codebooks and the per-query LUT (queries × m × kCodes)
    * broadcast; the corpus-sized work is the encode (one narrow pass,
    * done ONCE and stored in production — here inline for the oracle)
    * plus an (N·m)-row equi-join against the LUT and a per-(query, cand)
    * m-term sum. The exact pass touches overfetch·k rows per query. No
    * shuffle grows with kCodes^m; ranking is the standard per-query
    * top-k window. ADC approximates raw inner product (PQ-IP) — the
    * per-query norm it drops would not change shortlist membership.
    */
  /** Top principal component by power iteration, engine-replayable: the
    * embedding-space direction of maximum variance — the whitening /
    * quality-probe axis (outlier embeddings project extreme on it), and
    * the 1-D shadow of the PCA front-end retrieval stacks put before
    * quantization.
    *
    * Distributed part: per-dim fixed-point means, then the d×d
    * covariance as ONE narrow projection — each row emits its 64×64
    * centered outer product as a flattened array (pure codegen, no
    * self-join of the exploded frame), summed map-side into d² = 4096
    * integer micro-unit cells and floor-divided by n. Only that
    * 4096-row table reaches the driver (the k-means-centroid pattern).
    * Dividing by n INSIDE the fixed point keeps every magnitude
    * corpus-size-free: covariances of bounded vectors are bounded, so
    * the arithmetic never overflows however many rows contribute.
    *
    * Driver part: `iters` rounds of x ← C·x / ‖C·x‖ from the exact
    * start x₀ = 1/8 (unit-norm for d = 64, exactly representable).
    * Each matvec term floors to BIGINT before an order-free sum; the
    * norm folds in dim order — every step replayable bit-for-bit.
    *
    * Output: (vec_id, proj_micro) — the per-vector projection
    * ⌊(v−μ)·x · 10⁶⌋-summed, computed as a zero-shuffle array fold.
    */
  def pcaTopProjection(
      vectors: DataFrame, iters: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding", dim: Int = 64
  ): DataFrame = {
    val v0 = vectors.select(col(idCol), col(vecCol))
    // per-dim fixed-point means: (Σ⌊v·10⁶⌋) / n, Long division
    val meanRows = v0
      .select(posexplode(col(vecCol)).as(Seq("_dim", "_v")))
      .groupBy("_dim")
      .agg(sum(floor(col("_v").cast("double") * 1000000.0).cast("long"))
        .as("_s"), count(lit(1)).as("_n"))
      .collect()
    val mu = new Array[Double](dim)
    meanRows.foreach(r =>
      mu(r.getInt(0)) = (r.getLong(1) / r.getLong(2)).toDouble / 1000000.0)
    val muCol = array(mu.map(lit).toSeq: _*)
    val centered = vectors
      .select(col(idCol), col(vecCol),
        transform(col(vecCol), (x, i) =>
          x.cast("double") - element_at(muCol, i + 1)).as("_c"))
    // covariance: every row's flattened outer product, micro-floored —
    // _c is a materialized column (HOF lambdas re-evaluate closed-over
    // expressions per element), pos = i·dim + j
    val covRows = centered
      .select(posexplode(flatten(transform(col("_c"), vi =>
        transform(col("_c"), vj =>
          floor(vi * vj * 1000000.0).cast("long"))))).as(Seq("_pos", "_t")))
      .groupBy("_pos")
      .agg(sum("_t").as("_s"), count(lit(1)).as("_n"))
      .collect()
    val cov = Array.ofDim[Long](dim, dim)
    covRows.foreach { r =>
      val p = r.getInt(0)
      cov(p / dim)(p % dim) = r.getLong(1) / r.getLong(2)
    }
    // power iteration, all arithmetic mirrored in the oracle
    var x = Array.fill(dim)(0.125)
    for (_ <- 0 until iters) {
      val y = Array.tabulate(dim) { i =>
        var acc = 0L
        var j = 0
        while (j < dim) {
          acc += math.floor(cov(i)(j).toDouble * x(j)).toLong; j += 1
        }
        acc
      }
      val s = y.foldLeft(0.0)((a, yi) => {
        val yd = yi.toDouble / 1000000.0; a + yd * yd
      })
      val nrm = math.sqrt(s)
      x = y.map(yi => (yi.toDouble / 1000000.0) / nrm)
    }
    val xCol = array(x.map(lit).toSeq: _*)
    centered
      .withColumn("proj_micro",
        aggregate(
          zip_with(col("_c"), xCol, (c, xc) =>
            floor(c * xc * 1000000.0).cast("long")),
          lit(0L), (acc, t) => acc + t))
      .select(col(idCol), col("proj_micro"))
  }

  def pqTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      m: Int = 4, kCodes: Int = 8, lloydIters: Int = 1, overfetch: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding", dim: Int = 64
  ): DataFrame = {
    val books = pqCodebooks(candidates, m, kCodes, lloydIters, idCol, vecCol, dim)
    val codes = pqEncode(candidates, books, idCol, vecCol, dim)
      .withColumnRenamed(idCol, "cand_id")
    val cb = pqCodebookDf(candidates.sparkSession, books)
    val lut = pqMelt(queries, m, dim, idCol, vecCol)
      .join(cb, "sub")
      .select(col("_id").as("query_id"), col("sub"), col("code"),
        floor(dot(col("_sv"), col("_cv")) * 1000000.0).cast("long")
          .as("_lut"))
    val scored = codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy("query_id", "cand_id")
      .agg(sum("_lut").as("adc_bp"))
    val preW = Window.partitionBy("query_id").orderBy(desc("adc_bp"), col("cand_id"))
    val shortlist = scored.withColumn("_prn", row_number().over(preW))
      .filter(col("_prn") <= k * overfetch)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), norm(col(vecCol)).as("qn")))
    val c = candidates.select(col(idCol).as("cand_id"),
      col(vecCol).as("cv"), norm(col(vecCol)).as("cn"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_bp"), col("cand_id"))
    shortlist.join(q, "query_id").join(c, "cand_id")
      .withColumn("cos_bp",
        floor(dot(col("qv"), col("cv")) / (col("qn") * col("cn")) * 10000)
          .cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "adc_bp", "cos_bp", "rank")
  }

  /** Embedding-space ANISOTROPY diagnostic (Mu & Viswanath 2018
    * "All-but-the-Top"; Ethayarajh 2019): how much of the space's energy
    * sits in the mean direction,
    *
    *   aniso_bp = ‖mean(v)‖² · 10⁴ div mean(‖v‖²)
    *
    * — near 0 for an isotropic cloud, large when every vector shares a
    * dominant common component (the usual contextual-encoder pathology
    * that wrecks cosine retrieval and k-means cells; the standard fix
    * is subtracting the mean/top PCs, and THIS is the number that says
    * whether to bother). Per `groupCols` (e.g. label → class-conditional
    * anisotropy) plus whatever slicing the caller groups by.
    *
    * Fixed-point discipline (the [[kMeansFixedPoint]] lesson):
    * components floor to micro-units FIRST, every reduction is an
    * order-free BIGINT sum; per-dim means divide early (`div n`, ≤ 1
    * micro loss per dim) so squares stay far inside BIGINT with no
    * decimal promotion. One explode pass (rows×dim), two bounded
    * aggregates — dim-sized state per group, no window, no join beyond
    * the dim-table × 1-row-per-group stats equi-join.
    *
    * Out per group: (groupCols…, n_vecs, dim, mean_dir_sq_micro2,
    * avg_sq_norm_micro2, aniso_bp) — NULL aniso on all-zero groups.
    */
  def anisotropy(emb: DataFrame, vecCol: String = "embedding",
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val g = groupCols.map(col)
    val base = emb
      .withColumn("_q", transform(col(vecCol),
        x => floor(x.cast("double") * 1000000.0).cast("long")))
      .withColumn("_nsq", aggregate(col("_q"), lit(0L),
        (a, x) => a + x * x))
    val stats = base.groupBy(g: _*)
      .agg(count(lit(1)).as("n_vecs"), sum(col("_nsq")).as("_snsq"))
    val dims = base
      .selectExpr(groupCols ++ Seq("posexplode(_q) as (_d, _qx)"): _*)
      .groupBy((g :+ col("_d")): _*).agg(sum(col("_qx")).as("_s"))
    val dimStats =
      if (groupCols.isEmpty) dims.crossJoin(broadcast(stats))
      else dims.join(broadcast(stats), groupCols)
    dimStats
      .withColumn("_m", expr("_s div n_vecs"))
      .groupBy((g :+ col("n_vecs") :+ col("_snsq")): _*)
      .agg((max(col("_d")) + 1L).as("dim"),
        sum(expr("_m * _m")).as("mean_dir_sq_micro2"))
      .withColumn("avg_sq_norm_micro2", expr("_snsq div n_vecs"))
      .withColumn("aniso_bp",
        expr("if(avg_sq_norm_micro2 > 0, " +
          "mean_dir_sq_micro2 * 10000 div avg_sq_norm_micro2, null)"))
      .select(groupCols.map(col) ++ Seq(col("n_vecs"), col("dim"),
        col("mean_dir_sq_micro2"), col("avg_sq_norm_micro2"),
        col("aniso_bp")): _*)
  }

  /** Matryoshka truncation audit: does top-k retrieval under only the
    * FIRST `dTrunc` embedding dimensions agree with full-dimension
    * retrieval? The go/no-go readout before running a 100 TB ANN
    * prefilter at reduced dimensionality (matryoshka-trained embeddings
    * promise the prefix dims carry the ranking; this measures whether
    * THESE embeddings deliver on that for THIS corpus). Per query:
    *
    *   overlap_bp = 10⁴·|topk_full ∩ topk_trunc| div k,  top1_kept ∈ {0,1}
    *
    * Both rankings come from [[bruteForceTopK]] (broadcast queries ×
    * streamed corpus, one codegen dot per pair, per-query top-k window
    * — exact, |Q|-bounded output) with the same (cos_bp desc, cand_id)
    * tie-break, so the audit is deterministic and engine-replayable.
    * At corpus scale the query set stays k/|Q|-bounded; the corpus is
    * streamed twice (full + truncated sweep), never materialized.
    *
    * Out: `(query_id, overlap, overlap_bp, top1_kept)`, one row/query.
    */
  def matryoshkaAgreement(
      queries: DataFrame, candidates: DataFrame, k: Int, dTrunc: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    require(k >= 1 && dTrunc >= 1, s"k=$k dTrunc=$dTrunc")
    def cut(df: DataFrame): DataFrame =
      df.select(col(idCol), slice(col(vecCol), 1, dTrunc).as(vecCol))
    val full = bruteForceTopK(queries, candidates, k, idCol, vecCol)
      .select(col("query_id"), col("cand_id"), col("rank"))
    val trunc = bruteForceTopK(cut(queries), cut(candidates), k, idCol, vecCol)
      .select(col("query_id"), col("cand_id"), lit(1L).as("_hit"))
    full.join(trunc, Seq("query_id", "cand_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("overlap"),
        max(when(col("rank") === 1 && col("_hit").isNotNull, 1L)
          .otherwise(0L)).as("top1_kept"))
      .withColumn("overlap_bp", expr(s"overlap * 10000 div ${k}L"))
      .select("query_id", "overlap", "overlap_bp", "top1_kept")
  }
}
