package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
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
}
