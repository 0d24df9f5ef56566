package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: turn an irregular event stream into a
  * fixed-step grid per key — the standard feature-engineering shape
  * (models consume aligned windows, not raw event times).
  *
  * Scale shape: one per-(key, bucket) aggregation picks each bucket's
  * last observation (an argmax over a (ts, id, value) struct — exact,
  * no window over raw events); the grid explode is per key and sized by
  * the key's own time span; the forward fill is one window per key over
  * GRID rows (span/step per key), never over the raw event stream. Keys
  * resample independently — embarrassingly parallel at any corpus size.
  * The dense grid is the product the consumer asked for; its size is
  * span/step per key by definition, not a blowup.
  */
object TimeSeries {

  /** Per `idCol`, a regular `stepNs` grid from each key's first to last
    * observed bucket, with `valueCol` forward-filled from the bucket's
    * last observation (ties on timestamp broken by `tieCol` — pass a
    * unique event id for determinism). Emits (id, bucket_start_ns,
    * value, is_gap): `is_gap` marks carried-forward rows.
    */
  def resample(
      df: DataFrame, idCol: String, tsNsCol: String, valueCol: String,
      tieCol: String, stepNs: Long
  ): DataFrame = {
    require(stepNs > 0, s"stepNs must be positive, got $stepNs")
    val bucketed = df.select(col(idCol), col(tsNsCol), col(tieCol),
        col(valueCol), expr(s"$tsNsCol DIV $stepNs").as("_b"))
      .groupBy(col(idCol), col("_b"))
      // last observation in the bucket: max by (ts, tie) — exact struct max
      .agg(max(struct(col(tsNsCol), col(tieCol), col(valueCol).as("v")))
        .getField("v").as("_obs"))
    val spans = bucketed.groupBy(idCol)
      .agg(min(col("_b")).as("_b0"), max(col("_b")).as("_b1"))
    val grid = spans.select(col(idCol),
      explode(sequence(col("_b0"), col("_b1"))).as("_b"))
    val w = Window.partitionBy(idCol).orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(bucketed, Seq(idCol, "_b"), "left")
      .withColumn("_filled", last(col("_obs"), ignoreNulls = true).over(w))
      .select(col(idCol), (col("_b") * stepNs).as("bucket_start_ns"),
        col("_filled").as(valueCol),
        col("_obs").isNull.as("is_gap"))
  }

  /** One-sided CUSUM change-point statistic per key over an ordered
    * integer series — the classic drift/burst detector (Page 1954),
    * in its CLOSED WINDOW FORM: the textbook recursion
    * `s_i = max(0, s_{i-1} + (x_i - ref - slack))` is not a frame
    * Spark can window, but it equals `P_i - min(0, min_{j≤i} P_j)`
    * where `P` is the running sum of the drifts — two cumulative
    * windows per key, no recursion, no UDF, exact BIGINT arithmetic.
    * An alarm fires where the statistic reaches `threshold`.
    *
    * In: one row per (key, step). Out: input keys/order plus
    * `drift, cusum, alarm`. Keys stream independently — the same
    * per-key-window scale law as resample/sessionize; a key's series
    * length bounds its window work, corpus growth adds keys.
    */
  def cusum(
      df: DataFrame, keyCols: Seq[String], orderCol: String,
      valueCol: String, ref: org.apache.spark.sql.Column,
      slack: org.apache.spark.sql.Column,
      threshold: org.apache.spark.sql.Column
  ): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("drift", col(valueCol) - ref - slack)
      .withColumn("_p", sum(col("drift")).over(w))
      .withColumn("cusum",
        col("_p") - least(lit(0L), min(col("_p")).over(w)))
      .withColumn("alarm", col("cusum") >= threshold)
      .drop("_p")
  }

  /** Offline single change-point per key — the first binary-segmentation
    * step (the retrospective companion to [[cusum]], which answers
    * "did it drift" online; this answers "WHERE did the level shift"
    * after the fact). For an ordered series x_1..x_T the candidate
    * split t maximizes the scaled prefix-mean deviation
    *
    *   D_t = T·cum_t − t·total   (∝ t·(T−t)·(mean_pre − mean_post))
    *
    * — exact BIGINT (document: exits at T·total ≈ 9·10¹⁸; hourly
    * buckets and 10¹² events leave 10² headroom), no division until
    * the reported segment means. Split = argmax |D_t| over t < T, ties
    * to the SMALLEST t (exact struct-max tie-break); single-bucket keys
    * yield a NULL split (nothing to cut).
    *
    * Shape: one cumulative window + one unbounded total per key, then a
    * per-key struct-max aggregation — keys stream independently, per-key
    * work is bounded by that key's own bucket count (the cusum/resample
    * scale law). Feed it BUCKETED series (hour/day counts), never raw
    * events: T stays calendar-bounded while the corpus grows.
    *
    * Out: per key `(keyCol, n_buckets, total, split_ord, d_split,
    * mean_pre_x100, mean_post_x100)` — split_ord is the LAST orderCol
    * value of the pre-segment; means are exact hundredths.
    */
  def changepoint(
      df: DataFrame, keyCol: String, orderCol: String, valueCol: String
  ): DataFrame = {
    val wCum = Window.partitionBy(keyCol).orderBy("_o")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df
      .select(col(keyCol), col(orderCol).cast("long").as("_o"),
        col(valueCol).cast("long").as("_x"))
      .withColumn("_cum", sum(col("_x")).over(wCum))
      .withColumn("_t", count(lit(1)).over(wCum))
      .withColumn("_total", sum(col("_x")).over(wAll))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_d", expr("_n * _cum - _t * _total"))
      .groupBy(col(keyCol))
      .agg(
        max(col("_n")).as("n_buckets"), max(col("_total")).as("total"),
        // argmax |D_t| over t < T, smallest t on ties: max by
        // (|d|, −t, payload) over the non-final rows
        max(when(col("_t") < col("_n"),
          struct(abs(col("_d")).as("a"), (-col("_t")).as("nt"),
            col("_o").as("o"), col("_d").as("d"), col("_cum").as("c"),
            col("_t").as("t")))).as("_best"))
      .withColumn("split_ord", col("_best.o"))
      .withColumn("d_split", col("_best.d"))
      .withColumn("mean_pre_x100",
        expr("100L * _best.c div _best.t"))
      .withColumn("mean_post_x100",
        expr("100L * (total - _best.c) div (n_buckets - _best.t)"))
      .select(col(keyCol), col("n_buckets"), col("total"),
        col("split_ord"), col("d_split"), col("mean_pre_x100"),
        col("mean_post_x100"))
  }

  /** Lead-lag cross-correlation between every pair of keys' bucketed
    * series — "does type A's volume move BEFORE type B's" (lag > 0 =
    * A leads: the pairing is x = a(t), y = b(t + lag), so when b is a
    * delayed copy of a the correlation peaks at POSITIVE lag — pinned
    * by TimeSeriesSpec's corr-1-at-lag-+1 fixture).
    * For each (a, b, lag) the Pearson correlation of a's
    * series against b's shifted by `lag` buckets, over their
    * OVERLAPPING buckets only (feed densified series if absent buckets
    * must count as zero), reported as the signed squared correlation
    * in e8 — the exact staged-division rho2 form ([[DataQuality
    * .spearmanBp]] precedent), so both engines replay it bit-for-bit:
    *
    *   corr2_e8 = sign(cov)·(|cov|·10⁴ div varx)·(|cov|·10⁴ div vary)
    *
    * with cov = n·Σxy − Σx·Σy etc. in DECIMAL(38,0); NULL when either
    * side is constant over the overlap (undefined, not zero).
    *
    * Shape: the bucket-keyed equi-self-join (each bucket meets its
    * ±maxLag neighbours — keys² pairs per bucket, key domains are
    * bounded) then a (keys²·(2·maxLag+1))-row aggregation. Feed
    * BUCKETED series (the changepoint/cusum scale law): buckets stay
    * calendar-bounded while the corpus grows. Overflow: |cov| ≤
    * n·Σxy — hourly counts ≤ 10⁶ over ≤ 10⁵ buckets keep the staged
    * products inside DECIMAL(38,0); pre-scale coarser buckets past
    * that.
    *
    * Out: `(key_a, key_b, lag, n, corr2_e8)` for a ≠ b, ordered.
    */
  def leadLag(
      df: DataFrame, keyCol: String, orderCol: String, valueCol: String,
      maxLag: Int = 2
  ): DataFrame = {
    require(maxLag >= 1, s"maxLag must be positive: $maxLag")
    val s = df.select(col(keyCol).as("_k"), col(orderCol).cast("long").as("_o"),
      col(valueCol).cast("long").as("_x"))
    // b's bucket _o observed at a's bucket _o − lag: shift then equi-join
    val b = s.toDF("_kb", "_ob", "_y")
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .withColumn("_o", col("_ob") - col("lag"))
      .select("_kb", "_o", "lag", "_y")
    s.join(b, Seq("_o"))
      .filter(col("_k") =!= col("_kb"))
      .groupBy(col("_k").as("key_a"), col("_kb").as("key_b"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(_x as decimal(38,0))")).as("_sx"),
        sum(expr("cast(_y as decimal(38,0))")).as("_sy"),
        sum(expr("cast(_x as decimal(38,0)) * _y")).as("_sxy"),
        sum(expr("cast(_x as decimal(38,0)) * _x")).as("_sxx"),
        sum(expr("cast(_y as decimal(38,0)) * _y")).as("_syy"))
      .withColumn("_num", expr("n * _sxy - _sx * _sy"))
      .withColumn("_dx", expr("n * _sxx - _sx * _sx"))
      .withColumn("_dy", expr("n * _syy - _sy * _sy"))
      .withColumn("corr2_e8", expr(
        "if(_dx > 0 and _dy > 0, " +
          "cast(if(_num >= 0, 1L, -1L) * " +
          "((abs(_num) * 10000 div _dx) * (abs(_num) * 10000 div _dy)) " +
          "as bigint), null)"))
      .select(col("key_a"), col("key_b"), col("lag").cast("int").as("lag"),
        col("n"), col("corr2_e8"))
      .orderBy("key_a", "key_b", "lag")
  }

  /** Per-key autocorrelation function at lags 1..maxLag over a bucketed
    * series — the seasonality/persistence readout ([[leadLag]]'s
    * self-paired sibling, and [[cusum]]/[[changepoint]]'s diagnostic
    * companion: a spike at lag 24 on hourly buckets = daily rhythm;
    * slow decay = trending, not noise). Same exact staged-division
    * signed-squared-Pearson as [[leadLag]], same overlap-bucket
    * semantics (densify upstream if absent buckets must count as
    * zero), same DECIMAL(38,0) overflow fence.
    *
    * Shape: unlike the cross-key version this join is equi on
    * (key, bucket) — fully hash-partitioned, keys stream independently,
    * per-key work bounded by its own bucket count × maxLag. Output is
    * (keys × maxLag)-sized.
    *
    * Out: `(keyCol, lag, n, corr2_e8)` ordered; corr2_e8 NULL when
    * either slice of the overlap is constant.
    */
  def acf(
      df: DataFrame, keyCol: String, orderCol: String, valueCol: String,
      maxLag: Int = 24
  ): DataFrame = {
    require(maxLag >= 1, s"maxLag must be positive: $maxLag")
    val s = df.select(col(keyCol).as("_k"), col(orderCol).cast("long").as("_o"),
      col(valueCol).cast("long").as("_x"))
    val b = s.toDF("_k", "_ob", "_y")
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .withColumn("_o", col("_ob") - col("lag"))
      .select("_k", "_o", "lag", "_y")
    s.join(b, Seq("_k", "_o"))
      .groupBy(col("_k").as(keyCol), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(_x as decimal(38,0))")).as("_sx"),
        sum(expr("cast(_y as decimal(38,0))")).as("_sy"),
        sum(expr("cast(_x as decimal(38,0)) * _y")).as("_sxy"),
        sum(expr("cast(_x as decimal(38,0)) * _x")).as("_sxx"),
        sum(expr("cast(_y as decimal(38,0)) * _y")).as("_syy"))
      .withColumn("_num", expr("n * _sxy - _sx * _sy"))
      .withColumn("_dx", expr("n * _sxx - _sx * _sx"))
      .withColumn("_dy", expr("n * _syy - _sy * _sy"))
      .withColumn("corr2_e8", expr(
        "if(_dx > 0 and _dy > 0, " +
          "cast(if(_num >= 0, 1L, -1L) * " +
          "((abs(_num) * 10000 div _dx) * (abs(_num) * 10000 div _dy)) " +
          "as bigint), null)"))
      .select(col(keyCol), col("lag").cast("int").as("lag"),
        col("n"), col("corr2_e8"))
      .orderBy(keyCol, "lag")
  }

  /** Exponentially-weighted moving average with a dyadic half-life
    * (α = 1/2) truncated at `lags` terms — the smoothing/forecast
    * primitive, kept EXACT: weights are the powers 2^(lags-1-j), the
    * weighted sum and the present-weight mass are plain BIGINT columns,
    * and the only division is one integer div at the end. Truncation at
    * 16 lags discards < 2^-16 of the weight mass — below the micro-unit
    * output quantum, so this IS the infinite EWMA at the precision
    * emitted, while staying windowable (the textbook recursion is not).
    *
    * Appends `ewma_micro` (smoothed level, value-units × 1e6, current
    * row included) and `ewma_prior_micro` (the PRE-observation forecast
    * from lags 1..`lags` — null on a key's first row): current ÷ prior
    * is the burst test a monitor wants, with no self-inclusion bias.
    *
    * One window pass per key computes all 2·`lags` lag terms; keys
    * stream independently — the same per-key-window scale law as
    * cusum/resample: corpus growth adds keys, not per-key work.
    */
  def ewma(
      df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      valueCol: String, lags: Int = 16
  ): DataFrame = {
    require(lags >= 2 && lags <= 32, s"lags out of range: $lags")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    def chain(first: Int): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
      val terms = (first until first + lags).map { j =>
        val weight = 1L << (lags - 1 - (j - first))
        val lv = if (j == 0) col(valueCol) else lag(col(valueCol), j).over(w)
        (when(lv.isNotNull, lv * weight).otherwise(lit(0L)),
          when(lv.isNotNull, lit(weight)).otherwise(lit(0L)))
      }
      (terms.map(_._1).reduce(_ + _), terms.map(_._2).reduce(_ + _))
    }
    val (sInc, wInc) = chain(0)
    val (sPri, wPri) = chain(1)
    df.withColumn("_si", sInc).withColumn("_wi", wInc)
      .withColumn("_sp", sPri).withColumn("_wp", wPri)
      .withColumn("ewma_micro", expr("_si * 1000000 div _wi"))
      .withColumn("ewma_prior_micro",
        when(col("_wp") > 0, expr("_sp * 1000000 div _wp")))
      .drop("_si", "_wi", "_sp", "_wp")
  }

  /** Per-key ordinary-least-squares trend line over (x, y) integer
    * observations, in closed form on exact BIGINT sums — the
    * volume-trend / drift report per series:
    *
    *   slope·10⁶ = 10⁶·(n·Σxy − Σx·Σy) div (n·Σx² − (Σx)²)
    *   r²·10⁴    = 10⁴·(n·Σxy − Σx·Σy)² div ((n·Σx²−(Σx)²)(n·Σy²−(Σy)²))
    *
    * with r² computed divide-early — (num·10⁴ div dx)·num div dy — so
    * no intermediate squares a BIGINT. Both engines evaluate the
    * identical expression, so the value is bit-exact CROSS-ENGINE, but
    * the divide-early truncation error vs true r²·10⁴ is bounded by
    * num/dy ≤ √(dx/dy) basis points — within 1 bp only when dx ≲ dy.
    * When the x-spread far exceeds the y-spread (near-flat series
    * sampled over a long index range), r2_bp can UNDERSTATE true r² by
    * up to √(dx/dy) bp: treat it as a replayable fixed-point fit
    * statistic, not a ±1 bp estimate of r². (Callers needing tight
    * error on flat series should rescale x into units comparable to y
    * before calling.) ONE map-side-
    * combinable aggregation per key (five sums + a count) — no
    * windows, no joins. Overflow bound: num·10⁴ ≲ 9·10¹⁸ ⇒
    * n·max\|x\|·max\|y\| ≲ 10¹⁴ (rescale units past that). Keys with
    * < 2 points or degenerate x-variance emit NULL slope/r².
    */
  def trend(
      df: DataFrame, keyCol: String, xCol: String, yCol: String
  ): DataFrame = {
    val agg = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(xCol)).as("sx"), sum(col(yCol)).as("sy"),
        sum(col(xCol) * col(yCol)).as("sxy"),
        sum(col(xCol) * col(xCol)).as("sxx"),
        sum(col(yCol) * col(yCol)).as("syy"))
    agg
      .withColumn("_num", expr("n * sxy - sx * sy"))
      .withColumn("_dx", expr("n * sxx - sx * sx"))
      .withColumn("_dy", expr("n * syy - sy * sy"))
      .withColumn("slope_micro",
        when(col("_dx") > 0, expr("_num * 1000000 div _dx")))
      .withColumn("intercept_micro",
        when(col("_dx") > 0,
          expr("(sy * 1000000 - (_num * 1000000 div _dx) * sx) div n")))
      .withColumn("r2_bp",
        when(col("_dx") > 0 && col("_dy") > 0,
          expr("(_num * 10000 div _dx) * _num div _dy")))
      .select(col(keyCol), col("n"), col("slope_micro"),
        col("intercept_micro"), col("r2_bp"))
  }

  /** Inter-event timing-regularity screen — the metronome detector for
    * bot/automation triage in event and crawl telemetry: scripted
    * clients fire on near-constant intervals (squared coefficient of
    * variation of the gaps ≈ 0) while organic arrivals are bursty
    * (Poisson-ish ⇒ CV² ≈ 1, i.e. 10⁴ bp, and up). Per key, ONE lag
    * window over that key's own events produces the gap stream; then
    *
    *   mean_ms = Σg div n;  var = (Σg² div n) − mean²;
    *   cv2_bp  = max(var·10⁴ div mean², 0)
    *
    * — all BIGINT, engine-replayable (the max-0 clamp absorbs the ≤1
    * floor slack of the div-early variance). Gaps clamp at `capMs` so a
    * vacation-length absence neither overflows g² nor drowns the
    * statistic (regularity is about TYPICAL spacing); the clamp is the
    * documented overflow bound: per-key Σ g² ≤ n·capMs², so any capMs
    * ≤ ~10⁶ ms holds to 10⁶ events per key and far beyond.
    * `flag_bot` demands both enough evidence (`minGaps`) and
    * metronomic spacing (`cv2_bp ≤ maxCv2Bp`); zero-mean keys (all
    * events on one timestamp) report NULL cv2 — duplicate-burst
    * triage is a different screen.
    *
    * Shape: one per-key window + one map-side-combinable aggregate;
    * output is key-domain-sized. Skewed power keys are absorbed the
    * same way every per-user window here is.
    *
    * Out: `(key, n_gaps, mean_gap_ms, cv2_bp, flag_bot)`.
    */
  def timingRegularity(events: DataFrame, keyCol: String = "user_id",
      tsNsCol: String = "ts_ns", idCol: String = "event_id",
      capMs: Long = 3600000L, minGaps: Long = 20L,
      maxCv2Bp: Long = 500L): DataFrame = {
    require(capMs > 0 && minGaps >= 2)
    val w = Window.partitionBy(keyCol).orderBy(tsNsCol, idCol)
    events
      .withColumn("_prev", lag(col(tsNsCol), 1).over(w))
      .filter(col("_prev").isNotNull)
      .withColumn("_g",
        least(expr(s"($tsNsCol - _prev) div 1000000"), lit(capMs)))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("_g")).as("_sg"), sum(expr("_g * _g")).as("_sg2"))
      .withColumn("mean_gap_ms", expr("_sg div n_gaps"))
      .withColumn("cv2_bp", expr(
        "if(mean_gap_ms > 0, greatest(((_sg2 div n_gaps) " +
          "- mean_gap_ms * mean_gap_ms) * 10000 " +
          "div (mean_gap_ms * mean_gap_ms), 0L), null)"))
      .withColumn("flag_bot",
        col("n_gaps") >= minGaps && col("cv2_bp").isNotNull &&
          col("cv2_bp") <= maxCv2Bp)
      .select(keyCol, "n_gaps", "mean_gap_ms", "cv2_bp", "flag_bot")
  }
}
