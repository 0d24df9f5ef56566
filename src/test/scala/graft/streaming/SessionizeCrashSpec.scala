package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Crash + restart injection for the flatMapGroupsWithState session
  * operator — a stateful-streaming op under failure test next to
  * StreamingDedup (crash between appends) and StreamingBuild (checkpoint
  * restart). The specific bug class this pins: losing the OPEN-session
  * state across a restart, which splits one real session into two
  * emitted rows (an analytics-corrupting, silently-plausible failure).
  */
class SessionizeCrashSpec extends AnyFunSuite with SparkTestBase {

  private val GapUs = 1800L * 1000000L // 30 minutes

  test("restart from checkpoint carries the open session: events after " +
      "the crash extend it, and the flushed rows equal the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sess-crash").toString
    val (ckpt, outDir) = (s"$dir/ckpt", s"$dir/sessions")
    val input = MemoryStream[(Long, Timestamp, Double)]
    def t(s: String) = Timestamp.valueOf(s)
    def start() = Sessionize.sessionSummaries(
        input.toDF().toDF("user_id", "ts", "value")
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"), col("value"))
          .as[Sessionize.Event],
        GapUs, trailing = false)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[Sessionize.Summary], _: Long) =>
          ds.write.mode("append").parquet(outDir); ()
      }
      .start()

    // run 1: user 1 opens a session (2 events), user 2 opens one
    // (1 event); nothing closes — ALL session knowledge lives in the
    // state store when the driver "dies"
    val q1 = start()
    try {
      input.addData((1L, t("2024-01-01 10:00:00"), 1.0),
        (1L, t("2024-01-01 10:05:00"), 2.0),
        (2L, t("2024-01-01 10:02:00"), 5.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(!new java.io.File(outDir).exists() ||
      spark.read.parquet(outDir).isEmpty,
      "no session may close before the crash")

    // run 2: restart from the checkpoint. The next event for user 1
    // falls INSIDE the gap of the pre-crash session — it must extend
    // the restored state (a state-losing restart would open a second
    // session and later emit user 1 twice). Then two watermark
    // advancers push event time past both open sessions' timeouts.
    val q2 = start()
    try {
      input.addData((1L, t("2024-01-01 10:10:00"), 4.0))
      q2.processAllAvailable()
      input.addData((3L, t("2024-01-01 12:00:00"), 9.0))
      q2.processAllAvailable()
      input.addData((3L, t("2024-01-01 12:30:00"), 1.0))
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
        r.getAs[Long]("session_end_us"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value"))).toSet
    // exactly the two pre-crash sessions flush — user 1's as ONE merged
    // row spanning the restart; user 3's session is still open
    assert(got.map(_._1) == Set(1L, 2L),
      s"flushed users must be exactly the pre-crash ones: $got")
    assert(got.size == 2,
      s"a split/duplicated session row means state was lost: $got")

    // the batch twin over the full delivered history agrees row-for-row
    // on the closed sessions
    val history = Seq(
      (1L, t("2024-01-01 10:00:00"), 1.0), (1L, t("2024-01-01 10:05:00"), 2.0),
      (2L, t("2024-01-01 10:02:00"), 5.0), (1L, t("2024-01-01 10:10:00"), 4.0),
      (3L, t("2024-01-01 12:00:00"), 9.0), (3L, t("2024-01-01 12:30:00"), 1.0))
      .toDF("user_id", "ts", "value")
      .select(col("user_id"),
        (unix_micros(col("ts"))* 1000L).as("ts_ns"), col("value"))
    val want = Sessionize.batchSessions(history, GapUs).collect()
      .filter(s => s.user_id != 3L)
      .map(s => (s.user_id, s.session_start_us, s.session_end_us,
        s.n_events, s.sum_value)).toSet
    assert(got == want,
      s"restart must replay to the exact batch sessions: got $got want $want")
    assert(got.find(_._1 == 1L).get._4 == 3L,
      "user 1's post-crash event must extend the restored session (n=3)")
  }
}
