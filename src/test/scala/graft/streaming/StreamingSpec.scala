package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.pipeline.{BuildJob, InfoJob}

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  test("streaming build: micro-batches upsert into the hash db (J1 as foreachBatch)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream").toString
    val db = s"$dir/db"

    val input = MemoryStream[String]
    val query = StreamingBuild.run(input.toDS(), db, s"$dir/ckpt",
      BuildJob.Config(Seq("sha256"), sourceName = "stream"))
    try {
      input.addData("hello", "world", "")
      query.processAllAvailable()
      assert(InfoJob.run(spark, db).totalRecords == 2)

      // second micro-batch: new word + duplicate (stateful dedup drops it)
      input.addData("hello", "test")
      query.processAllAvailable()
      val rows = spark.read.parquet(db).select("preimage")
        .collect().map(_.getString(0)).toSet
      assert(rows == Set("hello", "world", "test"))
    } finally query.stop()
  }

  test("watermarked streaming build: bounded dedup state, duplicates absorbed by merge") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-wm").toString
    val db = s"$dir/db"
    val input = MemoryStream[(Timestamp, String)]
    val query = StreamingBuild.runWatermarked(
      input.toDF().toDF("ts", "w"), db, s"$dir/ckpt",
      BuildJob.Config(Seq("sha256"), sourceName = "wm-stream"))
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData((t("2024-01-01 10:00:00"), "hello"),
        (t("2024-01-01 10:01:00"), "hello"), // in-window dup: dropped by state
        (t("2024-01-01 10:02:00"), "world"))
      query.processAllAvailable()
      // far-later duplicate: beyond watermark state, but merge absorbs it
      input.addData((t("2024-01-01 12:00:00"), "hello"),
        (t("2024-01-01 12:01:00"), "fresh"))
      query.processAllAvailable()
      val rows = spark.read.parquet(db).select("preimage")
        .collect().map(_.getString(0)).toSet
      assert(rows == Set("hello", "world", "fresh"))
      assert(InfoJob.run(spark, db).totalRecords == 3)
    } finally query.stop()
  }

  test("a micro-batch with no new word leaves the database untouched") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-stream-empty").toString
    val db = s"$dir/db"
    def listing(): Map[String, Long] = {
      val walk = Files.walk(java.nio.file.Paths.get(db))
      try walk.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
      finally walk.close()
    }
    val input = MemoryStream[String]
    val query = StreamingBuild.run(input.toDS(), db, s"$dir/ckpt",
      BuildJob.Config(Seq("sha256"), sourceName = "stream"))
    try {
      input.addData("hello", "world")
      query.processAllAvailable()
      val before = listing()
      // a duplicate (dropped by the dedup state) and a blank: an empty batch
      input.addData("hello", "")
      query.processAllAvailable()
      assert(query.lastProgress.numInputRows == 2, "the batch must have run")
      assert(listing() == before, "an empty batch must not rewrite the db")
      assert(InfoJob.run(spark, db).totalRecords == 2)
    } finally query.stop()
  }

  test("streaming build recovers dedup state from the checkpoint on restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-restart").toString
    val db = s"$dir/db"

    val in = MemoryStream[String]
    val q1 = StreamingBuild.run(in.toDS(), db, s"$dir/ckpt",
      BuildJob.Config(Seq("sha256"), sourceName = "s"))
    try {
      in.addData("hello", "world")
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint (same source identity): the state
    // store must remember "hello" across the restart
    in.addData("hello", "fresh") // dup across restart + a new word
    val q2 = StreamingBuild.run(in.toDS(), db, s"$dir/ckpt",
      BuildJob.Config(Seq("sha256"), sourceName = "s"))
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(db).select("preimage")
        .collect().map(_.getString(0)).toSet
      assert(rows == Set("hello", "world", "fresh"))
      assert(InfoJob.run(spark, db).totalRecords == 3)
    } finally q2.stop()
  }

  test("watermarked tumbling window over an event stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingBuild.windowedEventCounts(events)

    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 10:05:00"), "click", 1.0),
        (t("2024-01-01 10:40:00"), "click", 2.0),
        (t("2024-01-01 11:10:00"), "view", 5.0))
      q.processAllAvailable()
      val out = spark.table("win_counts")
        .select(date_format(col("window_start"), "HH:mm").as("w"),
          col("event_type"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(out.contains(("10:00", "click", 2L, 3.0)))
      assert(out.contains(("11:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("batch-stream parity: file-streamed events produce the batch window counts") {
    import spark.implicits._
    // stage the real events parquet in its own dir (file streams scan dirs)
    val dir = Files.createTempDirectory("graft-evstream")
    Files.copy(java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir.toString).schema

    val streamed = graft.util.Tables.withEventTime(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = StreamingBuild.windowedEventCounts(streamed, watermark = "1 hour")
      .writeStream.format("memory").queryName("ev_parity")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val stream = spark.table("ev_parity")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:00").as("hour"),
          col("event_type"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.queries.Registry.all("q_events_hourly_window")
        .build(spark, sf())
        .select(col("hour"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(stream == batch,
        s"stream/batch divergence: ${stream.toSet diff batch.toSet}")
    } finally q.stop()
  }

  test("stream-stream interval join: clicks attach to in-window views only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamingBuild.viewClickJoin(
      views.toDF().toDF("view_user", "view_id", "view_ts"),
      clicks.toDF().toDF("click_user", "click_id", "click_ts"))
    val q = joined.writeStream.format("memory").queryName("vc_join")
      .outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      views.addData((1L, 100L, t("2024-01-01 10:00:00")),
        (2L, 101L, t("2024-01-01 10:00:00")))
      clicks.addData(
        (1L, 200L, t("2024-01-01 10:05:00")), // in window → match
        (1L, 201L, t("2024-01-01 10:20:00")), // past 10 min → no match
        (2L, 202L, t("2024-01-01 09:55:00"))) // before the view → no match
      q.processAllAvailable()
      val out = spark.table("vc_join")
        .select("user_id", "view_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out == Set((1L, 100L, 200L)))
    } finally q.stop()
  }

  test("view-click join survives a kill between micro-batches: join state " +
    "recovers from the checkpoint and output stays exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vc-restart").toString
    def t(s: String) = Timestamp.valueOf(s)
    val views = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    def start() = StreamingBuild.viewClickJoin(
        views.toDF().toDF("view_user", "view_id", "view_ts"),
        clicks.toDF().toDF("click_user", "click_id", "click_ts"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()

    // batch 1: one within-batch match, plus a view whose click arrives
    // only AFTER the restart — the state the checkpoint must carry
    val q1 = start()
    try {
      views.addData((1L, 100L, t("2024-01-01 10:00:00")),
        (3L, 102L, t("2024-01-01 10:00:00")))
      clicks.addData((1L, 200L, t("2024-01-01 10:05:00")))
      q1.processAllAvailable()
    } finally q1.stop() // the kill

    // restart from the checkpoint: the pre-kill view 102 must still match
    views.addData((2L, 101L, t("2024-01-01 10:10:00")))
    clicks.addData(
      (3L, 202L, t("2024-01-01 10:06:00")), // joins the PRE-restart view
      (2L, 203L, t("2024-01-01 10:12:00")), // normal post-restart match
      (1L, 201L, t("2024-01-01 10:30:00"))) // past 10 min -> no match
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(s"$dir/out")
      .select("user_id", "view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == out.distinct.length,
      s"restart must not double-emit: ${out.toSeq}")
    // exactly the batch twin over the concatenated inputs
    val batch = StreamingBuild.viewClickJoin(
        Seq((1L, 100L, t("2024-01-01 10:00:00")),
          (3L, 102L, t("2024-01-01 10:00:00")),
          (2L, 101L, t("2024-01-01 10:10:00")))
          .toDF("view_user", "view_id", "view_ts"),
        Seq((1L, 200L, t("2024-01-01 10:05:00")),
          (3L, 202L, t("2024-01-01 10:06:00")),
          (2L, 203L, t("2024-01-01 10:12:00")),
          (1L, 201L, t("2024-01-01 10:30:00")))
          .toDF("click_user", "click_id", "click_ts"))
      .select("user_id", "view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.toSet == batch && batch ==
      Set((1L, 100L, 200L), (3L, 102L, 202L), (2L, 101L, 203L)),
      s"stream-after-restart must equal the batch twin: ${out.toSeq}")
  }

  test("batch-stream parity: file-streamed view-click join equals the batch join") {
    // two readStreams over the real events parquet — a genuine
    // stream-stream join, compared to the same function on batch frames
    val dir = Files.createTempDirectory("graft-vcstream")
    Files.copy(java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir.toString).schema
    def sides(ev: org.apache.spark.sql.DataFrame) = {
      val t = graft.util.Tables.withEventTime(ev)
        .withColumn("tts", col("ts"))
      (t.filter(col("event_type") === "view")
          .select(col("user_id").as("view_user"), col("event_id").as("view_id"),
            col("tts").as("view_ts")),
        t.filter(col("event_type") === "click")
          .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
            col("tts").as("click_ts")))
    }
    val (sv, sc) = sides(spark.readStream.schema(schema).parquet(dir.toString))
    val q = StreamingBuild.viewClickJoin(sv, sc)
      .writeStream.format("memory").queryName("vc_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val stream = spark.table("vc_parity").select("view_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val (bv, bc) = sides(spark.read.parquet(dir.toString))
      val batch = StreamingBuild.viewClickJoin(bv, bc)
        .select("view_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(stream == batch && batch.nonEmpty,
        s"stream/batch divergence: ${(stream diff batch) ++ (batch diff stream)}")
    } finally q.stop()
  }

  test("session windows group events by 30-minute gaps") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    // session-window aggs don't support update mode; complete is fine here
    val q = StreamingBuild.sessionCounts(events)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 10:00:00"), 1L, 1.0),
        (t("2024-01-01 10:10:00"), 1L, 1.0), // same session (gap 10m)
        (t("2024-01-01 12:00:00"), 1L, 1.0)) // new session (gap 110m)
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .filter(col("user_id") === 1).collect()
      assert(sessions.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }
}
