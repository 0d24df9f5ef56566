package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
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
}
