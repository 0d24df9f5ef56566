package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class CompactSpec extends AnyFunSuite with SparkTestBase {

  test("compaction shrinks file count, keeps rows, layout, and catalogs") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-compact")
      .toString + "/db"
    // a deliberately fragmented build: 30 digest-prefix tiles of ~10
    // records, one file each
    val words = (0 until 300).map(i => f"word-$i%04d").toDS()
    val cfg = BuildJob.Config(algorithms = Seq("md5"), numFiles = Some(30),
      bloomNdv = 1000L)
    val res = BuildJob.run(spark, words, out, cfg, contentHash = Some("c1"))
    assert(res.written && res.records == 300)

    val compacted = Compact.run(spark, out, targetBytes = 512L << 20, cfg = cfg)
    assert(compacted.filesBefore == 30)
    assert(compacted.filesAfter == 1, s"got $compacted")
    assert(compacted.records == 300)

    // rows intact, still globally hash-sorted within the file
    val df = spark.read.schema(BuildJob.schema).parquet(out)
    assert(df.count() == 300)
    val hashes = df.orderBy("hash").select(hex(col("hash"))).collect()
      .map(_.getString(0))
    val asRead = df.select(hex(col("hash"))).collect().map(_.getString(0))
    assert(asRead.toSeq == hashes.toSeq, "compacted file must stay hash-sorted")

    // both catalogs survived the rewrite
    assert(SidecarMeta.read(spark, out).get.totalRecords == 300)
    val foot = FooterMeta.read(spark, out).get
    assert(foot.totalRecords == 300 && foot.sourceHashes.contains("c1"))

    // pruned lookup still works against the compacted layout
    val hexHash = graft.core.Hashers.hex(
      graft.core.Hashers("md5").hash("word-0042".getBytes("UTF-8")))
    val hit = QueryJob.run(spark, out, QueryJob.Params(hexHash)).collect()
    assert(hit.map(_.getString(1)).toSeq == Seq("word-0042"))

    // idempotent: already-compacted db is a no-op
    val again = Compact.run(spark, out, targetBytes = 512L << 20, cfg = cfg)
    assert(again.filesBefore == again.filesAfter)
  }

  test("compaction preserves hive algorithm= layout and clustering") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-compact-hive")
      .toString + "/db"
    val words = (0 until 200).map(i => f"word-$i%04d").toDS()
    val cfg = BuildJob.Config(algorithms = Seq("md5", "sha256"),
      maxRecordsPerFile = 10L, numFiles = Some(20), bloomNdv = 1000L,
      partitionByAlgorithm = true)
    val res = BuildJob.run(spark, words, out, cfg, contentHash = Some("c1"))
    assert(res.written && res.records == 400)

    // layout auto-detected from the paths: pass a default Config on purpose
    val compacted = Compact.run(spark, out, targetBytes = 512L << 20)
    assert(compacted.filesAfter < compacted.filesBefore, s"got $compacted")
    assert(compacted.records == 400)

    // hive dirs survived; every data file sits under an algorithm= dir
    val root = new java.io.File(out)
    val algoDirs = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(algoDirs.toSeq == Seq("algorithm=md5", "algorithm=sha256"))

    // algorithm-pruned read still sees exactly one partition's rows,
    // and rows stay hash-clustered within each partition's files
    val df = spark.read.schema(BuildJob.schema).parquet(out)
    assert(df.filter(col("algorithm") === "md5").count() == 200)
    val md5Hex = df.filter(col("algorithm") === "md5")
      .select(hex(col("hash"))).collect().map(_.getString(0))
    assert(md5Hex.toSeq == md5Hex.toSeq.sorted,
      "per-partition files must stay hash-sorted")

    // catalogs re-stamped
    assert(SidecarMeta.read(spark, out).get.totalRecords == 400)
    assert(FooterMeta.read(spark, out).get.totalRecords == 400)
  }

  test("compacting a missing or empty path is a clean zero Result") {
    val missing = java.nio.file.Files.createTempDirectory("graft-compact-none")
      .toString + "/nope"
    assert(Compact.run(spark, missing) == Compact.Result(0, 0, 0L))
    val emptyDir = java.nio.file.Files.createTempDirectory("graft-compact-empty")
      .toString
    assert(Compact.run(spark, emptyDir) == Compact.Result(0, 0, 0L))
  }
}
