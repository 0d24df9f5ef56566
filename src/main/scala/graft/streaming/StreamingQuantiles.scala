package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Sketches

/** Continuous quantile monitoring — the streaming face of
  * [[Sketches.histogramSketch]]/[[Sketches.histogramQuantiles]]: as
  * micro-batches arrive, their fixed-bin histogram counts fold into an
  * append-only count log and one ledger row records the RUNNING p50/
  * p95/p99 (the latency/size/score dashboard row every intake
  * publishes). Histogram counts are MERGEABLE sums, so the running
  * distribution is a sum over the log. The log gains one row set per
  * batch and is compacted to `bins` rows only when the caller runs
  * [[compactCounts]] ([[CountLog.compact]] — the drift monitor's staged
  * swap + crash recovery); nothing here compacts it on its own.
  *
  * Exactly-once under foreachBatch redelivery by the [[CountLog]]
  * watermark (counts) and recompute-if-missing (ledger): a crash
  * between the two appends self-heals on redelivery because the ledger
  * row is a deterministic function of the stored counts —
  * StreamingQuantilesSpec pins both injections and stream/batch
  * parity.
  */
object StreamingQuantiles {

  final case class QuantResult(
      batchId: Long, n: Long, p50: Double, p95: Double, p99: Double)

  private val Qs = Seq(0.5, 0.95, 0.99)

  /** One micro-batch (or one batch-mode shard) through the monitor. */
  def quantileBatch(
      batch: DataFrame, of: Column,
      countsPath: String, ledgerPath: String, batchId: Long,
      lo: Double, hi: Double, bins: Int
  ): QuantResult = {
    val spark = batch.sparkSession
    val fs = new Path(countsPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    CountLog.append(
      Sketches.histogramSketch(batch, of, lo, hi, bins)
        .select(col("bin"), col("cnt").as("c")),
      countsPath, batchId)

    val haveLedger = fs.exists(new Path(ledgerPath))
    val prior =
      if (haveLedger)
        spark.read.parquet(ledgerPath)
          .filter(col("batch_id") === batchId).collect().headOption
      else None
    val row = prior.getOrElse {
      val running = spark.read.parquet(countsPath)
        .groupBy("bin").agg(sum(col("c")).as("cnt"))
        .localCheckpoint(true)
      // empty-history guard: a first micro-batch with no rows (routine in
      // Structured Streaming) leaves the counts log empty — sum() is NULL
      // and quantiles are undefined. Emit an honest n=0 ledger row with
      // NaN quantiles instead of NPEing the streaming query.
      val nRow = running.agg(sum(col("cnt"))).collect()(0)
      val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
      val est: Map[Double, Double] =
        if (n == 0L) Qs.map(_ -> Double.NaN).toMap
        else Sketches.histogramQuantiles(running, Qs, lo, hi, bins)
          .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      val d = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(batchId, n,
          est(0.5), est(0.95), est(0.99))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("batch_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("p50",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField("p95",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField("p99",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
      d.write.mode(SaveMode.Append).parquet(ledgerPath)
      d.collect()(0)
    }
    QuantResult(row.getAs[Long]("batch_id"), row.getAs[Long]("n"),
      row.getAs[Double]("p50"), row.getAs[Double]("p95"),
      row.getAs[Double]("p99"))
  }

  /** Compact the histogram log to ≤ bins rows. */
  def compactCounts(spark: org.apache.spark.sql.SparkSession,
      countsPath: String): Unit =
    CountLog.compact(spark, countsPath, Seq("bin"))

  /** Continuous monitoring from a streaming frame. */
  def run(stream: DataFrame, of: Column, countsPath: String,
      ledgerPath: String, checkpoint: String,
      lo: Double, hi: Double, bins: Int): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        quantileBatch(batch, of, countsPath, ledgerPath, batchId,
          lo, hi, bins)
        ()
      }
      .start()
}
