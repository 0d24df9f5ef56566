package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketches for corpus bookkeeping at 100 TB: count-min
  * (frequencies, join sizes), equi-width histograms (quantiles), Bloom
  * bits (membership) and Misra–Gries summaries (heavy hitters).
  *
  * Each one is a bounded table (depth×width counters, `bins` rows, ≤ mBits
  * rows, k rows) built in one pass with map-side partials, and each one
  * MERGES without touching the raw data again: per-shard or per-day
  * sketches roll up into a corpus sketch, which is what makes incremental
  * accounting possible (sketch today's shard, merge with the running
  * sketch; never re-scan history). The CMS and Bloom probes are md5 digit
  * arithmetic, so the DuckDB oracle rebuilds the identical sketch;
  * SketchesSpec pins the error bounds against exact counts.
  */
object Sketches {

  /** Count-min row/bucket for `value` in sketch row `row`: the first six
    * hex digits of md5("cms:row:value") mod `width`. md5-derived like the
    * LSH hyperplane family, so a second engine rebuilds the identical
    * sketch (DuckDB replays the digit arithmetic in the oracle SQL).
    */
  def cmsBucket(value: Column, row: Int, width: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"cms:$row:"), value)), 1, 6), 16, 10)
      .cast("long"), lit(width.toLong))

  /** Count-min sketch of `of`'s frequencies: `depth`×`width` counters as a
    * (row, bucket, cnt) table — at most depth·width rows regardless of
    * corpus size. Each row is an independent hash; the estimate for a value
    * is the MIN over rows of its bucket's counter (always ≥ the true count;
    * error ≤ 2N/width with prob 1-2^-depth).
    *
    * CMS tables MERGE by summing counters bucket-wise — per-shard
    * sketches roll up into a corpus sketch without re-scanning raw data,
    * which is what makes frequency accounting (stopword lists,
    * heavy-hitter token tracking) incremental at 100 TB. The build is one
    * groupBy over depth×N rows with map-side partials; the probe side
    * joins against a table small enough to broadcast.
    */
  def countMinSketch(
      df: DataFrame, of: Column, depth: Int = 4, width: Int = 1024
  ): DataFrame =
    df.select(
        posexplode(array((0 until depth).map(r =>
          cmsBucket(of, r, width)): _*)).as(Seq("row", "bucket")))
      .groupBy("row", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Equi-join size estimation by count-min inner product (the
    * AGMS/Cormode-Muthukrishnan estimator): the true size of A ⋈ₖ B is
    * Σ_v fA(v)·fB(v) — the inner product of the key-frequency vectors —
    * and each sketch row estimates it as Σ_w cmsA[d][w]·cmsB[d][w].
    * Colliding keys only ADD positive cross terms, so every row
    * overestimates and the MIN over rows is the estimate; expected
    * additive error per row is |A|·|B|/width, so SIZE THE WIDTH to the
    * input product (width ≈ |A|·|B|/(0.1·expected-join-size) for ~10%
    * error — sketch rows are cheap, the estimate never touches the
    * inputs). That's the point at 100 TB: join planning, skew triage,
    * and shuffle budgeting from two broadcast-sized counter tables,
    * with no scan of either input beyond the one pass that built the
    * sketches (which shards/days can build incrementally and fold
    * together by a bucket-wise sum). BIGINT bound: Σ_w cntA·cntB <
    * 2⁶³ per row, i.e. |A|·|B| < 2⁶³ — any real input.
    *
    * Out: one row `(join_size_est, depth)`.
    */
  def cmsJoinSize(cmsA: DataFrame, cmsB: DataFrame): DataFrame =
    cmsA.select(col("row"), col("bucket"), col("cnt").as("_ca"))
      .join(cmsB.select(col("row"), col("bucket"), col("cnt").as("_cb")),
        Seq("row", "bucket"))
      .groupBy("row").agg(sum(expr("_ca * _cb")).as("_ip"))
      .agg(min(col("_ip")).as("join_size_est"),
        count(lit(1)).as("depth"))

  /** Equi-width histogram sketch of a numeric column over a fixed
    * [lo, hi) domain: `bins` counters as a (bin, cnt) table — at most
    * `bins` rows regardless of corpus size, one groupBy with map-side
    * partials to build. Out-of-domain values clamp into the edge bins.
    *
    * The second mergeable-sketch family next to CMS (frequencies):
    * histogram tables MERGE by bucket-wise sum ([[mergeHistograms]]), so
    * per-shard/per-day histograms roll up into corpus quantile estimates
    * without re-scanning raw data — the alternative to an exact
    * percentile's full sort at 100 TB. Unlike t-digest/KLL the bin layout
    * is deterministic arithmetic, which is what lets a SQL oracle rebuild
    * the identical sketch bit-for-bit.
    */
  def histogramSketch(
      df: DataFrame, of: Column, lo: Double, hi: Double, bins: Int
  ): DataFrame = {
    require(bins > 0 && hi > lo, s"need bins > 0 and hi > lo")
    val width = (hi - lo) / bins
    df.select(
        least(lit(bins - 1), greatest(lit(0),
          floor((of - lit(lo)) / lit(width)).cast("int"))).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Sum per-shard histogram tables bucket-wise into one sketch. */
  def mergeHistograms(sketches: DataFrame): DataFrame =
    sketches.groupBy("bin").agg(sum(col("cnt")).as("cnt"))

  /** Estimate quantiles from a histogram sketch: for each q, find the
    * bin containing rank ⌈q·N⌉ on the cumulative counts and linearly
    * interpolate inside it. The sketch is bins-sized (broadcast); the
    * cumulative window runs over ≤ `bins` rows, never the data. Error
    * is bounded by one bin width — tune `bins` to the tolerance.
    */
  def histogramQuantiles(
      sketch: DataFrame, qs: Seq[Double], lo: Double, hi: Double, bins: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = sketch.sparkSession
    import spark.implicits._
    val width = (hi - lo) / bins
    val cum = sketch
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    qs.toDF("q")
      .join(broadcast(cum),
        col("cum") >= greatest(lit(1L), ceil(col("q") * col("n"))) &&
        col("cum_before") < greatest(lit(1L), ceil(col("q") * col("n"))))
      .groupBy("q")
      .agg(min(struct(col("bin"), col("cnt"), col("cum_before"), col("n")))
        .as("b"))
      .select(col("q"),
        (lit(lo) + lit(width) * (col("b.bin") +
          (greatest(lit(1L), ceil(col("q") * col("b.n"))) - col("b.cum_before"))
            .cast("double") / col("b.cnt"))).as("estimate"))
  }

  /** Point-estimate the frequency of each probe value against a CMS table:
    * min over the `depth` rows of the matching bucket's counter (0 if the
    * bucket is empty). `probes` must expose `valueCol`; the sketch is tiny
    * (≤ depth×width rows) and broadcast.
    */
  def cmsEstimate(
      probes: DataFrame, sketch: DataFrame, valueCol: String,
      depth: Int = 4, width: Int = 1024
  ): DataFrame = {
    val melted = probes.select(col("*"),
      posexplode(array((0 until depth).map(r =>
        cmsBucket(col(valueCol), r, width)): _*)).as(Seq("row", "bucket")))
    melted
      .join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy(probes.columns.map(col).toSeq: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_n"))
  }

  /** Bloom probe position for `value` under probe index `probe`: the
    * first eight hex digits of md5("bloom:probe:value") mod `mBits`.
    * md5-derived like [[cmsBucket]] and the LSH hyperplane family, so a
    * second engine rebuilds the identical filter bit-for-bit.
    */
  def bloomBit(value: Column, probe: Int, mBits: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"bloom:$probe:"), value)), 1, 8), 16, 10)
      .cast("long"), lit(mBits.toLong))

  /** Distributed Bloom filter over `of`'s values, as the relational
    * SET-OF-SET-BITS (`bit` BIGINT, ≤ mBits rows, typically far fewer) —
    * the third mergeable-sketch family next to CMS (frequencies) and
    * histograms (quantiles), covering MEMBERSHIP: "was this content hash
    * ever admitted?" without joining the full corpus.
    *
    * Mergeability is set UNION of the bits tables (dedup on `bit`) —
    * per-shard/per-day filters roll up into a corpus filter without
    * re-reading data, and the union is exactly the filter of the unioned
    * key sets (Bloom OR). Build cost: one k×N explode into a groupBy
    * with map-side partials; the result is bounded by mBits rows no
    * matter the corpus size, so the probe side can broadcast it. No
    * false negatives ever; false-positive rate ≈ (1-e^(-kN/m))^k, the
    * textbook bound, and — because the probes are pure md5 arithmetic —
    * which specific keys collide is deterministic and replayable.
    *
    * (Spark's own `stat.bloomFilter` builds a driver-side object; this
    * formulation stays distributed, mergeable and SQL-replayable, at the
    * cost of ~8 bytes per SET bit — the right trade for screens up to
    * ~10⁸ bits. Beyond that, pack bits into fixed-width word groups via
    * `bit div 64` + `sum(1L << (bit % 64))` on the same probe family.)
    */
  def bloomBits(
      df: DataFrame, of: Column, k: Int = 7, mBits: Int = 65536
  ): DataFrame =
    df.select(explode(array((0 until k).map(p =>
        bloomBit(of, p, mBits)): _*)).as("bit"))
      .distinct()

  /** Screen `df` against a Bloom bits table: appends `might_contain` —
    * true iff ALL k probe positions of `value` are set. One k-way
    * explode joined against the broadcast bits table (left join + count
    * of matches = k; duplicate probe positions match independently, so
    * the count test is exact), then one groupBy on `keyCol` to fold the
    * verdict and an equi-join back onto the input rows.
    *
    * The intended 100 TB shape: build [[bloomBits]] once over admitted
    * history (bounded output), broadcast it against each fresh shard,
    * and let `might_contain = false` — the overwhelming majority —
    * skip the exact-membership join entirely; only flagged rows pay it.
    */
  def bloomScreen(
      df: DataFrame, keyCol: String, value: Column, bits: DataFrame,
      k: Int = 7, mBits: Int = 65536, flag: String = "might_contain"
  ): DataFrame = {
    val probes = df.select(col(keyCol).as("_bk"),
      explode(array((0 until k).map(p => bloomBit(value, p, mBits)): _*))
        .as("bit"))
    val hits = probes
      .join(broadcast(bits.withColumn("_set", lit(1))), Seq("bit"), "left")
      .groupBy("_bk")
      .agg((count(col("_set")) === k).as(flag))
    df.join(hits, df(keyCol) === hits("_bk")).drop("_bk")
  }

  /** Misra–Gries summary REDUCTION (Misra & Gries 1982, the batch-wise
    * mergeable form of Agarwal et al. 2012 "Mergeable Summaries"): given
    * an exact count table, keep at most `k` counters by subtracting the
    * (k+1)-st largest count value from every counter and dropping the
    * non-positive — the set-of-counters analogue of decrementing all
    * counters when a new item finds them full. Deterministic: the
    * subtracted value is selected via the injective (count desc, key)
    * order, so both engines replay the summary bit-for-bit.
    *
    * Guarantee (the MG invariant, preserved under [[mgMerge]]): stored
    * counts never overcount, and undercount ≤ total decrement ≤
    * n/(k+1) over the n items summarized — so any key with true
    * frequency > n/(k+1) is GUARANTEED present. That is the whole
    * point at 100 TB: the summary is k rows however large the key
    * domain, and the candidate selection is a partial top-(k+1)
    * (TakeOrderedAndProject — per-partition top-k merged once), never
    * a key-domain sort.
    */
  def mgSubtract(counts: DataFrame, k: Int, keyCol: String = "key",
      cntCol: String = "c"): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val d = counts.orderBy(col(cntCol).desc, col(keyCol)).limit(k + 1)
      .agg(when(count(lit(1)) > k, min(col(cntCol)))
        .otherwise(lit(0L)).as("_d"))
    counts.crossJoin(broadcast(d)) // 1-row reduction value
      .withColumn(cntCol, col(cntCol) - col("_d"))
      .filter(col(cntCol) > 0).drop("_d")
  }

  /** Merge a stored k-bounded Misra–Gries summary with a fresh batch's
    * exact counts: counter-wise sum, then one [[mgSubtract]] reduction.
    * Associative in the mergeable-summaries sense (the ERROR BOUND
    * composes: undercount after any merge tree ≤ n_total/(k+1)); the
    * exact counter values depend on merge order, which is why
    * q_events_heavy_hitters fixes its batch order and the oracle replays
    * the same chain. Cost per merge: the batch count pass + a top-(k+1)
    * selection — history is NEVER recounted.
    */
  def mgMerge(prev: DataFrame, batchCounts: DataFrame, k: Int,
      keyCol: String = "key", cntCol: String = "c"): DataFrame =
    mgSubtract(
      prev.unionByName(batchCounts)
        .groupBy(keyCol).agg(sum(col(cntCol)).as(cntCol)),
      k, keyCol, cntCol)
}
