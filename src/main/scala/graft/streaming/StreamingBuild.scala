package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.BuildJob

/** Structured Streaming face of the engine.
  *
  * The reference has no streaming subsystem (SURVEY.md §2.10); its closest
  * analogs are the unbounded stdin iterator and the incremental
  * append-merge, which is a manual micro-batch upsert. Those map directly:
  *
  *   readStream lines → stateful dropDuplicates (exact dedup A1) →
  *   hash expansion (stateless F2) → foreachBatch append-merge (J1).
  *
  * So each micro-batch replays exactly the batch build pipeline with
  * `append = true` — one code path for both execution modes.
  */
object StreamingBuild {

  /** Continuous hash-database build from a stream of words. Dedup state is
    * unbounded (whole-stream exact dedup) — fine for bounded vocabularies
    * like wordlists; for firehose inputs use [[runWatermarked]].
    */
  def run(
      words: Dataset[String],
      output: String,
      checkpoint: String,
      cfg: BuildJob.Config = BuildJob.Config()
  ): StreamingQuery =
    upsertStream(
      words.toDF("w").filter(length(col("w")) > 0).dropDuplicates("w"),
      output, checkpoint, cfg)

  /** Watermarked variant for unbounded event-time streams: input carries
    * (`ts` timestamp, `w` string); dedup state is bounded to the watermark
    * window via dropDuplicatesWithinWatermark. Duplicates older than the
    * watermark are still absorbed downstream — the append-merge (J1) is
    * idempotent on (hash, algorithm).
    */
  def runWatermarked(
      timedWords: DataFrame, // columns: ts timestamp, w string
      output: String,
      checkpoint: String,
      cfg: BuildJob.Config = BuildJob.Config(),
      delay: String = "10 minutes"
  ): StreamingQuery =
    upsertStream(
      timedWords.filter(length(col("w")) > 0)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("w"),
      output, checkpoint, cfg)

  private def upsertStream(
      deduped: DataFrame, output: String, checkpoint: String,
      cfg: BuildJob.Config
  ): StreamingQuery =
    deduped.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val words = batch.select("w").as[String]
        // a batch with no word (watermark-only, or every word dropped as a
        // duplicate) must not rewrite the database through the append swap
        if (BuildJob.hasWords(words))
          BuildJob.run(spark, words, output, cfg.copy(append = true))
        ()
      }
      .start()

  /** Event-time tumbling-window aggregation with watermarked late-data
    * handling — the streaming twin of q_events_hourly_window.
    */
  def windowedEventCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Watermarked stream-stream interval join: each click matched to the
    * same-user views it follows within `within`. Both sides carry
    * watermarks AND the join condition carries a two-sided time bound, so
    * Spark can size the join state: view rows are retained only until
    * `view_ts + within` falls behind the click watermark, click rows to
    * their own watermark — bounded state at any stream length, the
    * canonical streaming-attribution shape with no batch backfill.
    *
    * Works identically on batch frames (no watermark semantics in batch,
    * same inner join) — the parity spec runs this one function both ways.
    */
  def viewClickJoin(
      views: DataFrame, // view_user, view_id, view_ts
      clicks: DataFrame, // click_user, click_id, click_ts
      within: String = "10 minutes",
      watermark: String = "30 minutes"
  ): DataFrame =
    views.withWatermark("view_ts", watermark)
      .join(clicks.withWatermark("click_ts", watermark),
        expr(s"""view_user = click_user AND
                 click_ts >= view_ts AND
                 click_ts <= view_ts + INTERVAL $within"""))
      .select(col("view_user").as("user_id"), col("view_id"),
        col("click_id"), col("view_ts"), col("click_ts"))

  /** Stateful per-user session counts over a stream (the streaming twin of
    * q_events_sessions, using session_window instead of lag()).
    */
  def sessionCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "1 hour"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))
}
