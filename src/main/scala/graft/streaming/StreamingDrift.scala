package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.TextAnalysis

/** Continuous token-distribution drift monitoring — the streaming face
  * of [[graft.ops.TextAnalysis.jsDivergence]]: as document micro-batches
  * arrive, the monitor folds their unigram counts into a stored running
  * distribution and appends one drift row (JSD vs a fixed REFERENCE
  * distribution, fixed-point millibits) to a ledger — the gate a
  * recurring-crawl intake runs so a snapshot that drifted from the data
  * card alarms BEFORE it reaches training storage.
  *
  * State is two parquet tables on storage, not the checkpoint (the
  * [[StreamingDedup]]/[[StreamingCurate]] pattern, so batch backfills
  * and the live stream share state):
  *
  *   - `countsPath`: append-only per-batch token counts
  *     `(tok, c, batch_id)` — counts are MERGEABLE, so the running
  *     distribution is a sum over appends and history is never
  *     re-tokenized. The sums are associative, so the caller compacts
  *     the log with [[compactCounts]] at high batch counts; nothing here
  *     compacts it on its own.
  *   - `ledgerPath`: one row per batch
  *     `(batch_id, jsd_millibits, kl_pm_millibits, kl_qm_millibits,
  *     n_vocab_a, n_vocab_shared, n_tokens, alarm)`.
  *
  * Exactly-once under foreachBatch's at-least-once redelivery, by
  * BATCH-ID IDEMPOTENCE rather than transactions: a redelivered batch
  * whose counts already landed skips the counts append (batch content
  * for a given batch_id is stable by the foreachBatch contract); a
  * crash between the counts append and the ledger append self-heals on
  * redelivery — the counts are found, the ledger row is found missing,
  * and the row is recomputed from the stored counts, which is
  * deterministic, so the healed row is bit-identical to the one the
  * crashed run would have written. StreamingDriftSpec pins both
  * injections and stream/batch parity.
  */
object StreamingDrift {

  final case class DriftResult(
      batchId: Long, jsdMillibits: Long, alarm: Boolean,
      nVocab: Long, nTokens: Long)

  /** One micro-batch (or one batch-mode shard) through the monitor. */
  def driftBatch(
      batch: DataFrame, // columns: doc_id long, text string
      refCounts: DataFrame, // (tok, c) of the reference distribution
      countsPath: String, ledgerPath: String, batchId: Long,
      alarmMillibits: Long = 100L
  ): DriftResult = {
    val spark = batch.sparkSession
    val fs = new Path(countsPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // idempotent counts append: first heals a half-done [[compactCounts]]
    // swap, then skips a batch id the watermark has passed, so a
    // redelivered batch never lands twice, compacted history included
    CountLog.append(TextAnalysis.tokenCountTable(batch.dropDuplicates("doc_id")),
      countsPath, batchId)

    // ledger idempotence + crash self-heal: recompute-and-append only
    // if this batch's row is missing (deterministic from stored counts)
    val haveLedger = fs.exists(new Path(ledgerPath))
    val prior =
      if (haveLedger)
        spark.read.parquet(ledgerPath)
          .filter(col("batch_id") === batchId).collect().headOption
      else None
    val row = prior.getOrElse {
      val running = spark.read.parquet(countsPath)
        .groupBy("tok").agg(sum(col("c")).as("c"))
        .localCheckpoint(true) // read by the JSD pass and the total below
      val d = TextAnalysis.jsDivergenceFromCounts(running, refCounts)
        .withColumn("batch_id", lit(batchId))
        .withColumn("alarm", col("jsd_millibits") >= alarmMillibits)
        .withColumn("n_tokens",
          lit(running.agg(sum(col("c"))).collect()(0).getLong(0)))
        .select("batch_id", "jsd_millibits", "kl_pm_millibits",
          "kl_qm_millibits", "n_vocab_a", "n_vocab_shared", "n_tokens",
          "alarm")
        .localCheckpoint(true)
      d.write.mode(SaveMode.Append).parquet(ledgerPath)
      d.collect()(0)
    }
    DriftResult(batchId, row.getAs[Long]("jsd_millibits"),
      row.getAs[Boolean]("alarm"), row.getAs[Long]("n_vocab_a"),
      row.getAs[Long]("n_tokens"))
  }

  /** Log-structured maintenance for the counts table: collapse the
    * per-batch append history to ONE row per token (counts are
    * mergeable sums), stamped with the maximum compacted batch id so
    * the watermark idempotence rule in [[driftBatch]] keeps rejecting
    * redeliveries of everything already folded in. Staged-swap write
    * (temp dir + double rename); a crash at ANY point is repaired by
    * [[CountLog.recoverSwap]] on the next entry (of either method) — mid-swap crashes can leave
    * the canonical path briefly absent, so recovery (not the swap
    * alone) is what makes this crash-safe. Ledger rows are untouched —
    * past drift readings are immutable history.
    */
  def compactCounts(spark: org.apache.spark.sql.SparkSession,
      countsPath: String): Unit =
    CountLog.compact(spark, countsPath, Seq("tok"))

  /** Continuous drift monitoring from a document stream. */
  def run(
      docs: DataFrame, // streaming; columns: doc_id long, text string
      refCounts: DataFrame, countsPath: String, ledgerPath: String,
      checkpoint: String, alarmMillibits: Long = 100L
  ): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        driftBatch(batch, refCounts, countsPath, ledgerPath, batchId,
          alarmMillibits)
        ()
      }
      .start()
}
