package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.core.{Blake3, Hashers}
import graft.sources.{FileSource, WordSource}

/** Round-trip suite mirroring the reference's integration tests
  * (tests/integration.rs:124-481) — write → query → append-merge → stats.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-pipe").toString

  private def wordsDs(ws: String*) = {
    import spark.implicits._
    spark.createDataset(ws)
  }

  test("build → exact and prefix query round-trip (integration.rs:124-151)") {
    val db = tmp() + "/db"
    val r = BuildJob.run(spark, wordsDs("hello", "world", "", "hello"), db,
      BuildJob.Config(algorithms = Seq("sha256"), sourceName = "wordlist1"))
    assert(r.written && r.records == 2) // blank dropped, dup deduped

    val helloHex = "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824"
    val exact = QueryJob.run(spark, db, QueryJob.Params(helloHex))
    val row = exact.select("preimage", "algorithm").collect()
    assert(row.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("hello", "sha256")))

    val prefix = QueryJob.run(spark, db, QueryJob.Params("2c"))
    assert(prefix.select("preimage").collect().map(_.getString(0)).contains("hello"))

    // empty prefix matches all (integration.rs:395-396)
    assert(QueryJob.run(spark, db, QueryJob.Params("", limit = 100)).count() == 2)
  }

  test("algorithm filter on a multi-algo db (integration.rs:154-190)") {
    val db = tmp() + "/db"
    BuildJob.run(spark, wordsDs("hello"), db,
      BuildJob.Config(algorithms = Seq("md5", "sha256"), sourceName = "w"))
    val all = QueryJob.run(spark, db, QueryJob.Params("", limit = 10))
    assert(all.count() == 2)
    val md5Only = QueryJob.run(spark, db, QueryJob.Params("", Some("md5"), 10))
    assert(md5Only.select("algorithm").collect().map(_.getString(0)).toSeq == Seq("md5"))
  }

  test("append-merge: sources union, existing preimage wins (integration.rs:237-325)") {
    val db = tmp() + "/db"
    BuildJob.run(spark, wordsDs("hello", "world"), db,
      BuildJob.Config(Seq("sha256"), sourceName = "wordlist1"))
    BuildJob.run(spark, wordsDs("hello", "test"), db,
      BuildJob.Config(Seq("sha256"), sourceName = "wordlist2", append = true))

    val rows = spark.read.parquet(db)
      .select(col("preimage"), col("sources"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
      .toMap
    assert(rows.keySet == Set("hello", "world", "test"))
    assert(rows("hello") == Seq("wordlist1", "wordlist2")) // set-union, sorted
    assert(rows("world") == Seq("wordlist1"))
    assert(rows("test") == Seq("wordlist2"))

    val stats = InfoJob.run(spark, db)
    assert(stats.totalRecords == 3)
    assert(stats.sources == Seq("wordlist1", "wordlist2"))
  }

  test("empty input writes nothing (integration.rs:472-481)") {
    val db = tmp() + "/db"
    val r = BuildJob.run(spark, wordsDs("", ""), db, BuildJob.Config(Seq("sha256")))
    assert(!r.written && r.records == 0)
    assert(!Files.exists(java.nio.file.Paths.get(db)))
    // missing db → zeroed stats (integration.rs:462-469)
    val stats = InfoJob.run(spark, db)
    assert(stats == InfoJob.Stats(0, Seq.empty, Seq.empty, 0))
  }

  /** Every regular file under `dir`: relative path → (bytes, mtime). */
  private def snapshot(dir: String): Map[String, (Seq[Byte], Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try {
      walk.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
        root.relativize(f).toString ->
          (Files.readAllBytes(f).toSeq, Files.getLastModifiedTime(f).toMillis)
      }.toMap
    } finally walk.close()
  }

  test("blank-only input leaves an existing db byte-identical and creates " +
      "nothing at a new path (K3)") {
    val db = tmp() + "/db"
    val cfg = BuildJob.Config(Seq("md5", "sha256"), sourceName = "w", footerBloom = true)
    assert(BuildJob.run(spark, wordsDs("hello", "world"), db, cfg).written)
    val before = snapshot(db)
    val blank = BuildJob.run(spark, wordsDs("", "", ""), db, cfg)
    assert(!blank.written && blank.records == 0)
    assert(snapshot(db) == before, "a blank-only build must not touch the db")

    val fresh = tmp() + "/db"
    assert(!BuildJob.run(spark, wordsDs(""), fresh, cfg.copy(append = true)).written)
    assert(!Files.exists(java.nio.file.Paths.get(fresh)))
  }

  test("the catalog observed on the write equals a re-scan of the written db " +
      "(fresh, append, partitionByAlgorithm, numFiles; AQE on and off)") {
    def rescan(db: String): SidecarMeta = {
      val r = spark.read.parquet(db).agg(count(lit(1)),
        array_sort(collect_set(col("algorithm"))),
        array_sort(array_distinct(flatten(collect_set(col("sources")))))).head()
      SidecarMeta(r.getLong(0), r.getSeq[String](1), r.getSeq[String](2), Nil)
    }
    def check(label: String, db: String, r: BuildJob.Result, want: SidecarMeta): Unit = {
      assert(r.written && r.records == want.totalRecords, label)
      assert(rescan(db) == want, label)
      assert(SidecarMeta.read(spark, db).get.copy(sourceHashes = Nil) == want, label)
      assert(FooterMeta.read(spark, db).get.copy(sourceHashes = Nil) == want, label)
    }
    val a = (0 until 400).map(i => f"obs-$i%04d")
    val b = a.drop(300) ++ (0 until 100).map(i => f"new-$i%04d")
    val cfg = BuildJob.Config(Seq("md5", "sha256"), sourceName = "a")
    val algos = Seq("md5", "sha256")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try for (on <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", on)
      val db = tmp() + "/db"
      check(s"fresh, AQE $on", db, BuildJob.run(spark, wordsDs(a: _*), db, cfg),
        SidecarMeta(800, algos, Seq("a"), Nil))
      check(s"append, AQE $on", db, BuildJob.run(spark, wordsDs(b: _*), db,
        cfg.copy(sourceName = "b", append = true)),
        SidecarMeta(1000, algos, Seq("a", "b"), Nil))
      val hive = tmp() + "/db"
      check(s"partitionByAlgorithm, AQE $on", hive, BuildJob.run(spark, wordsDs(a: _*),
        hive, cfg.copy(partitionByAlgorithm = true)), SidecarMeta(800, algos, Seq("a"), Nil))
      val three = tmp() + "/db"
      check(s"numFiles = 3, AQE $on", three, BuildJob.run(spark, wordsDs(a: _*),
        three, cfg.copy(numFiles = Some(3))), SidecarMeta(800, algos, Seq("a"), Nil))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  /** Spark jobs `f` runs, counted by job group. The status store is fed
    * asynchronously, so the count is read until it settles.
    */
  private def jobsOf(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    var seen = -1
    var now = sc.statusTracker.getJobIdsForGroup(group).length
    while (seen != now) {
      seen = now
      Thread.sleep(300)
      now = sc.statusTracker.getJobIdsForGroup(group).length
    }
    now
  }

  test("job-count gate: a fresh 2-algorithm bloom-stamped build runs 4 Spark " +
      "jobs, an append onto it 3") {
    // Pass by pass, with AQE on (the session default). Fresh build:
    //   1  K3: LIMIT-1 scan of the word list for a non-blank word
    //   2  the distinct's shuffle stage
    //   3  the tile shuffle stage, fed by the digest fan-out; the tiles are
    //      fixed by the digest prefix, so no range-sampling job runs
    //   4  the write's result stage: it observes the catalog stats (count,
    //      algorithms, sources), and the writer stamps each file's footer
    //      bloom as it closes the file
    // Append: its catalog has records, so no K3 scan; then the distinct, one
    // tile shuffle of the old rows and the new, and the write stage, which
    // also merges each tile's runs of equal keys.
    // No job re-scans the written db for stats, counts rows to size the
    // blooms, or reads the hash column back to build them.
    val dir = tmp()
    val list = java.nio.file.Paths.get(dir, "words.txt")
    val more = java.nio.file.Paths.get(dir, "more.txt")
    Files.write(list, (0 until 500).map(i => s"job-$i").asJava)
    Files.write(more, (250 until 750).map(i => s"job-$i").asJava)
    val cfg = BuildJob.Config(Seq("md5", "sha256"), footerBloom = true)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val fresh = jobsOf("build-job-audit-fresh") {
        assert(BuildJob.run(spark, spark.read.textFile(list.toString), dir + "/db", cfg)
          .records == 1000)
      }
      assert(fresh <= 4, s"$fresh jobs for a fresh build")
      val append = jobsOf("build-job-audit-append") {
        assert(BuildJob.run(spark, spark.read.textFile(more.toString), dir + "/db",
          cfg.copy(sourceName = "more", append = true)).records == 1500)
      }
      assert(append <= 3, s"$append jobs for an append")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("incremental build skips an already-ingested source (build.rs:113-125)") {
    val db = tmp() + "/db"
    val hash = Some(Hashers.hex(Blake3.hash("wordfile-v1".getBytes)))
    val first = BuildJob.run(spark, wordsDs("hello"), db,
      BuildJob.Config(Seq("sha256")), contentHash = hash)
    assert(first.written)
    val second = BuildJob.run(spark, wordsDs("hello"), db,
      BuildJob.Config(Seq("sha256"), append = true), contentHash = hash)
    assert(second.skippedUpToDate && !second.written)
    val forced = BuildJob.run(spark, wordsDs("hello"), db,
      BuildJob.Config(Seq("sha256"), append = true, force = true), contentHash = hash)
    assert(forced.written)
  }

  test("output is globally hash-sorted with bloom filters on hash (O1/K1)") {
    val db = tmp() + "/db"
    BuildJob.run(spark, wordsDs((1 to 500).map(i => s"word$i"): _*), db,
      BuildJob.Config(Seq("md5", "sha256"), numFiles = Some(2)))
    // global order across range-partitioned files
    val hashes = spark.read.parquet(db)
      .select(graft.sql.functions.hexLower(col("hash"))).collect().map(_.getString(0))
    // within-file order is what parquet stats care about; with
    // repartitionByRange the part files tile the hash space
    val files = new java.io.File(db).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 2)
    assert(hashes.length == 1000)

    val sortedRead = spark.read.parquet(db).orderBy("hash")
      .select(graft.sql.functions.hexLower(col("hash"))).collect().map(_.getString(0))
    assert(sortedRead.toSeq == sortedRead.sorted.toSeq)

    // bloom filter actually present on the hash column of each file
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try {
        val cols = reader.getFooter.getBlocks.get(0).getColumns
        val hashCol = (0 until cols.size).map(cols.get)
          .find(_.getPath.toDotString == "hash").get
        assert(hashCol.getBloomFilterOffset > 0,
          s"no bloom filter on hash in ${f.getName}")
        val preimageCol = (0 until cols.size).map(cols.get)
          .find(_.getPath.toDotString == "preimage").get
        assert(preimageCol.getBloomFilterOffset <= 0,
          "bloom unexpectedly enabled beyond the hash column")
      } finally reader.close()
    }
  }

  test("algorithm-partitioned layout: directory pruning on algorithm filters") {
    val db = tmp() + "/db"
    BuildJob.run(spark, wordsDs((1 to 300).map(i => s"w$i"): _*), db,
      BuildJob.Config(Seq("md5", "sha256", "blake3"), partitionByAlgorithm = true))
    // hive-style directories per algorithm
    val dirs = new java.io.File(db).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == Set("algorithm=md5", "algorithm=sha256", "algorithm=blake3"))

    val q = QueryJob.run(spark, db, QueryJob.Params("", Some("blake3"), 1000))
    assert(q.count() == 300)
    val plan = q.queryExecution.executedPlan.toString
    // the algorithm predicate must prune partitions, not filter rows
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("algorithm"),
      s"algorithm not in PartitionFilters:\n$plan")

    // stats still correct over the partitioned layout
    assert(InfoJob.run(spark, db).totalRecords == 900)
  }

  test("query formats: plain, json, table with result summary (R1-R3, R6)") {
    val db = tmp() + "/db"
    BuildJob.run(spark, wordsDs("password"), db,
      BuildJob.Config(Seq("sha256"), sourceName = "rockyou"))
    val full = "5e884898da28047151d0e56f8dc6292773603d0d6aabbdd62a11ef721d1542d8"
    val plain = QueryJob.render(spark, db, QueryJob.Params(full))
    assert(plain == "password (sha256, rockyou)\nFound 1 result(s)")
    val json = QueryJob.render(spark, db, QueryJob.Params(full), "json")
    assert(json.contains(s""""hash": "$full"""") && json.contains("Found 1 result(s)"))
    val table = QueryJob.render(spark, db, QueryJob.Params(full), "table")
    assert(table.contains("| HASH") && table.contains("password"))
    val miss = QueryJob.render(spark, db, QueryJob.Params("ff" * 32))
    assert(miss == "Found 0 result(s)")
  }

  test("info falls back to a full scan when the sidecar is missing or corrupt") {
    val db = tmp() + "/db"
    BuildJob.run(spark, wordsDs("alpha", "beta"), db,
      BuildJob.Config(Seq("md5", "sha256"), sourceName = "w"))
    val withSidecar = InfoJob.run(spark, db)

    // corrupt sidecar → parse yields None → aggregate fallback
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(db, SidecarMeta.FileName), "not json at all {")
    val corrupt = InfoJob.run(spark, db)
    assert(corrupt.totalRecords == withSidecar.totalRecords)
    assert(corrupt.algorithms == withSidecar.algorithms)

    // missing sidecar → same fallback
    java.nio.file.Files.delete(java.nio.file.Paths.get(db, SidecarMeta.FileName))
    val missing = InfoJob.run(spark, db)
    assert(missing.totalRecords == 4 && missing.sources == Seq("w"))
  }

  test("typed Dataset[HashRecord] view round-trips the canonical schema") {
    val db = tmp() + "/db"
    BuildJob.run(spark, wordsDs("hello"), db,
      BuildJob.Config(Seq("sha256", "blake3"), sourceName = "w"))
    val ds = graft.core.HashRecord.read(spark, db)
    val byAlgo = ds.collect().map(r => r.algorithm -> r).toMap
    assert(byAlgo.keySet == Set("sha256", "blake3"))
    assert(byAlgo("sha256").hashHex ==
      "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824")
    assert(byAlgo("blake3").preimage == "hello")
    assert(byAlgo("blake3").sources == Seq("w"))
    // typed transforms compose with the Dataset API
    import spark.implicits._
    assert(ds.filter(_.algorithm == "blake3").map(_.hashHex).head() ==
      "ea8f163db38682925e4491c5e58d4bb3506ef8c14eb78a86e908c5624a67200f")
  }

  test("sidecar metadata JSON round-trips including escapes") {
    val meta = SidecarMeta(7, Seq("md5"), Seq("""a"b""", "c\\d"), Seq("ff00"))
    assert(SidecarMeta.parse(meta.toJson) == Some(meta))
    assert(SidecarMeta.parse("""{"broken":""") == None)
    assert(SidecarMeta.parse("""{"total_records":0,"algorithms":[],"sources":[],"source_hashes":[]}""")
      == Some(SidecarMeta(0, Nil, Nil, Nil)))
  }

  test("file source: parse grammar, stem naming, content hash (S1/S2/F6/S11)") {
    val f = Files.createTempFile("words", ".txt")
    Files.writeString(f, "alpha\n\nbeta\n")
    val src = WordSource.parse(f.toString)
    assert(src.isInstanceOf[FileSource])
    assert(src.name == f.getFileName.toString.stripSuffix(".txt"))
    assert(src.words(spark).collect().toSet == Set("alpha", "beta"))
    // content hash = blake3 of raw bytes, deterministic (integration.rs:442-459)
    assert(src.contentHash == Some(Hashers.hex(Blake3.hash(Files.readAllBytes(f)))))
    assert(WordSource.parse("-") == graft.sources.StdinSource)
    assert(WordSource.parse("aspell:en") == graft.sources.AspellSource("en"))
    assert(WordSource.parse("seclists:x/y.txt") == graft.sources.SecListsSource("x/y.txt"))
    assert(WordSource.parse("https://h/x.txt") == graft.sources.UrlSource("https://h/x.txt"))
  }
}
