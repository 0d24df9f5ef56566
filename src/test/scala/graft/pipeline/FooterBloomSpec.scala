package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Reference footer-bloom interop (`shaha:bloom_*` — reference
  * parquet.rs:204-256, 444-461, 481-487): graft both WRITES the
  * reference-format bloom onto its own output and CONSUMES it on exact
  * lookups, rejecting files — or whole databases — without touching a
  * single data row-group.
  */
class FooterBloomSpec extends AnyFunSuite with SparkTestBase {

  private def fileScans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }

  test("bloom set/check round-trip, serialization, and fp behavior") {
    val bloom = FooterBloom.forCapacity(10000, seed = "spec")
    val rnd = new scala.util.Random(7)
    val present = Seq.fill(1000)(Array.fill(32)(rnd.nextInt().toByte))
    present.foreach(bloom.add)
    // no false negatives, ever
    assert(present.forall(bloom.mightContain))
    // footer KV round-trip is bit-exact
    val kv = bloom.toKv.toMap
    assert(kv.keySet == Set(FooterBloom.KeyBitmap, FooterBloom.KeyKeys,
      FooterBloom.KeyItems))
    val back = FooterBloom.fromKv(kv).get
    assert(java.util.Arrays.equals(back.bitmap, bloom.bitmap))
    assert(back.keys == bloom.keys && back.items == bloom.items)
    // absent keys reject at roughly the configured 1% fp
    val absent = Seq.fill(2000)(Array.fill(32)(rnd.nextInt().toByte))
    val falseAccepts = absent.count(back.mightContain)
    assert(falseAccepts < 100, s"fp too high: $falseAccepts/2000")
    // reload k is capped at the write-side 7 even for huge item counts
    // (the reference's items-as-k_num reload would probe `items` times
    // and false-reject — parquet.rs:246-251 vs bloomfilter 1.0.16)
    assert(new FooterBloom(bloom.bitmap, bloom.keys, 1000000L).kNum == 7)
    assert(new FooterBloom(bloom.bitmap, bloom.keys, 3L).kNum == 3)
  }

  test("probe count follows fp (crate: k = ceil(log2(1/fp))); bitmap sizing " +
      "rejects Int overflow instead of silently truncating") {
    assert(FooterBloom.kForFp(0.01) == 7)
    assert(FooterBloom.kForFp(0.001) == 10)
    assert(FooterBloom.kForFp(0.5) == 1)
    // at fp=0.001 the writer sets 10 probes and the reader probes all 10
    val b = FooterBloom.forCapacity(5000, seed = "fp3", fp = 0.001)
    assert(b.writeK == 10 && b.kNum == 10)
    val rnd = new scala.util.Random(11)
    val present = Seq.fill(500)(Array.fill(32)(rnd.nextInt().toByte))
    present.foreach(b.add)
    assert(present.forall(b.mightContain), "no false negatives at fp=0.001")
    // the tighter fp actually buys a lower false-accept rate than 1%
    val absent = Seq.fill(4000)(Array.fill(32)(rnd.nextInt().toByte))
    assert(absent.count(b.mightContain) < 40)
    // reference files (fromKv) always reload with the reference's k=7
    assert(FooterBloom.fromKv(b.toKv.toMap).get.writeK == 7)
    // ~1.79e9 capacity at fp=0.01 is the Int-array ceiling; beyond it the
    // sizing must fail loudly, never hand back a tiny wrapped bitmap
    intercept[IllegalArgumentException] {
      FooterBloom.bitmapBytes(3000000000L, 0.01)
    }
    assert(FooterBloom.bitmapBytes(1000000000L, 0.01) > 0)
  }

  test("negative exact lookup on a bloom-stamped db reads zero data row-groups") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-bloom").toString + "/db"
    val words = (0 until 500).map(i => f"word-$i%04d").toDS()
    val cfg = BuildJob.Config(algorithms = Seq("md5", "sha256"), numFiles = Some(4))
    assert(BuildJob.run(spark, words, out, cfg).written)
    assert(FooterMeta.writeBlooms(spark, out, minCapacity = 10000) == 4)
    // catalog keys coexist with the bloom keys after both writers ran
    assert(FooterMeta.read(spark, out).get.totalRecords == 1000)

    // a hash that is NOT in the db: every file's bloom rejects → the
    // answer comes from footers alone, with NO parquet scan in the plan.
    // sha256-length probe: nothing in this db has a longer digest, so
    // the fast-reject is sound (no prefix-of-longer-digest ambiguity)
    val absent = graft.core.Hashers.hex(
      graft.core.Hashers("sha256").hash("never-in-db".getBytes("UTF-8")))
    val miss = QueryJob.run(spark, out, QueryJob.Params(absent))
    assert(miss.count() == 0)
    assert(fileScans(miss).isEmpty,
      "all-files bloom reject must not plan a file scan")

    // a present hash passes its file's bloom and is found
    val hit = graft.core.Hashers.hex(
      graft.core.Hashers("sha256").hash("word-0123".getBytes("UTF-8")))
    val found = QueryJob.run(spark, out, QueryJob.Params(hit)).collect()
    assert(found.map(_.getString(1)).toSeq == Seq("word-0123"))

    // an md5-LENGTH probe on this md5+sha256 db is ambiguous — it is
    // also a potential sha256 PREFIX, whose range component the bloom
    // cannot answer — so the fast-reject must NOT engage (the reference
    // applies its bloom here and would wrongly return empty)
    val md5Absent = graft.core.Hashers.hex(
      graft.core.Hashers("md5").hash("never-in-db".getBytes("UTF-8")))
    val ambiguous = QueryJob.run(spark, out, QueryJob.Params(md5Absent))
    assert(ambiguous.count() == 0)
    assert(fileScans(ambiguous).nonEmpty,
      "ambiguous-length probe must fall back to the range-pruned scan")
    // …but pinning the algorithm restores the fast path
    val pinned = QueryJob.run(spark, out,
      QueryJob.Params(md5Absent, algorithm = Some("md5")))
    assert(pinned.count() == 0 && fileScans(pinned).isEmpty)

    // prefix (non-full-hash) queries bypass the bloom path entirely
    val prefix = QueryJob.run(spark, out, QueryJob.Params(hit.take(8)))
    assert(prefix.count() == 1)
  }

  test("each file's footer: bloom_items = total_records = num_rows, no false " +
      "negatives; 0-row files get no bloom; re-stamping is idempotent and keeps " +
      "foreign keys") {
    import spark.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft-bloom-files")
      .toString + "/db"
    val words = (0 until 600).map(i => f"pf-$i%04d").toDS()
    val cfg = BuildJob.Config(algorithms = Seq("md5", "sha256"), numFiles = Some(3),
      footerBloom = true)
    assert(BuildJob.run(spark, words, out, cfg).written)
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(conf)
    def files = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith(".")).toSeq
    /** Each file's (footer num_rows, footer key/values). */
    def footers: Map[String, (Long, Map[String, String])] = files.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try p.getName -> (r.getRecordCount,
        r.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap)
      finally r.close()
    }.toMap

    val built = footers
    assert(built.size == 3)
    for ((name, (rows, kv)) <- built) {
      assert(rows > 0 && kv("shaha:total_records").toLong == rows, name)
      assert(kv(FooterBloom.KeyItems).toLong == rows, name)
      val bloom = FooterBloom.fromKv(kv).get
      val hashes = spark.read.parquet(s"$out/$name").select("hash").as[Array[Byte]]
        .collect()
      assert(hashes.length == rows && hashes.forall(bloom.mightContain), name)
    }

    // a foreign footer key and a 0-row file, then stamp again
    val tagged = files.head
    FooterMeta.spliceFooter(fs, tagged)(_ => Seq("other:key" -> "kept"))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      BuildJob.schema).coalesce(1).write.mode("append").parquet(out)
    val before = footers
    val empty = (before.keySet -- built.keySet).toSeq
    assert(empty.size == 1 && before(empty.head)._1 == 0)
    FooterMeta.write(spark, out, SidecarMeta.read(spark, out).get)
    assert(FooterMeta.writeBlooms(spark, out) == 3)
    val after = footers
    assert(after(tagged.getName)._2.get("other:key").contains("kept"))
    for (name <- built.keySet) assert(after(name) == before(name), name)
    val (_, emptyKv) = after(empty.head)
    assert(emptyKv.get("shaha:total_records").contains("0"))
    assert(FooterBloom.fromKv(emptyKv).isEmpty && !emptyKv.contains(FooterBloom.KeyItems))
    assert(FooterMeta.read(spark, out).get.totalRecords == 1200)
  }

  test("bloom pruning on a hive algorithm= layout keeps the partition column") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-bloom-hive")
      .toString + "/db"
    val words = (0 until 300).map(i => f"hive-$i%04d").toDS()
    val cfg = BuildJob.Config(algorithms = Seq("md5", "sha256"),
      numFiles = Some(2), partitionByAlgorithm = true, footerBloom = true)
    assert(BuildJob.run(spark, words, out, cfg).written)

    // negative with a pinned algorithm (length-unambiguous): every
    // partition's blooms reject without a scan
    val absent = graft.core.Hashers.hex(
      graft.core.Hashers("md5").hash("nope".getBytes("UTF-8")))
    val miss = QueryJob.run(spark, out,
      QueryJob.Params(absent, algorithm = Some("md5")))
    assert(miss.count() == 0 && fileScans(miss).isEmpty)

    // positive with algorithm filter: the partition column survives the
    // surviving-files read (basePath), so P3 filtering still works and
    // the result carries the right algorithm value
    val hit = graft.core.Hashers.hex(
      graft.core.Hashers("md5").hash("hive-0077".getBytes("UTF-8")))
    val found = QueryJob.run(spark, out,
      QueryJob.Params(hit, algorithm = Some("md5"))).collect()
    assert(found.map(r => (r.getString(1), r.getString(2))).toSeq ==
      Seq(("hive-0077", "md5")))
  }

  test("incompatible blooms are detected and discarded, never trusted") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-bloom-bad")
      .toString + "/db"
    val words = (0 until 100).map(i => f"bad-$i%04d").toDS()
    val cfg = BuildJob.Config(algorithms = Seq("md5"), numFiles = Some(1))
    assert(BuildJob.run(spark, words, out, cfg).written)
    // splice a bloom whose bitmap is all zeros — it rejects EVERYTHING,
    // the signature of a writer with an incompatible bit layout/framing
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(conf)
    val file = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet")).head
    val fake = FooterBloom.forCapacity(1000, seed = "incompatible")
    FooterMeta.spliceFooter(fs, file)(_ => fake.toKv)

    // without the probe validation this present-hash lookup would return
    // empty; with it, the bloom is discarded and the scan finds the row
    val hit = graft.core.Hashers.hex(
      graft.core.Hashers("md5").hash("bad-0042".getBytes("UTF-8")))
    val found = QueryJob.run(spark, out, QueryJob.Params(hit))
    assert(found.collect().map(_.getString(1)).toSeq == Seq("bad-0042"))
    assert(fileScans(found).nonEmpty,
      "a distrusted bloom must fall back to scanning")
  }

  test("compaction recomputes footer blooms for the new file set") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-bloom-compact")
      .toString + "/db"
    val words = (0 until 400).map(i => f"cpt-$i%04d").toDS()
    val cfg = BuildJob.Config(algorithms = Seq("md5"), numFiles = Some(8),
      footerBloom = true)
    assert(BuildJob.run(spark, words, out, cfg).written)

    val comp = Compact.run(spark, out, targetBytes = 512L << 20)
    assert(comp.filesAfter < comp.filesBefore)

    // the rewritten files carry fresh blooms: a negative exact lookup
    // still answers metadata-only, a positive still resolves
    val absent = graft.core.Hashers.hex(
      graft.core.Hashers("md5").hash("gone".getBytes("UTF-8")))
    val miss = QueryJob.run(spark, out, QueryJob.Params(absent))
    assert(miss.count() == 0 && fileScans(miss).isEmpty,
      "compacted db must keep the bloom fast-reject")
    val hit = graft.core.Hashers.hex(
      graft.core.Hashers("md5").hash("cpt-0123".getBytes("UTF-8")))
    assert(QueryJob.run(spark, out, QueryJob.Params(hit)).collect()
      .map(_.getString(1)).toSeq == Seq("cpt-0123"))
  }

  test("files without blooms fall back to scanning; mixed dbs prune per file") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-bloom-mixed")
      .toString + "/db"
    val words = (0 until 200).map(i => f"mixed-$i%04d").toDS()
    val cfg = BuildJob.Config(algorithms = Seq("md5"), numFiles = Some(2))
    assert(BuildJob.run(spark, words, out, cfg).written)

    // no blooms stamped: negative lookup still scans (correct, just slower)
    val absent = graft.core.Hashers.hex(
      graft.core.Hashers("md5").hash("never".getBytes("UTF-8")))
    val noBloom = QueryJob.run(spark, out, QueryJob.Params(absent))
    assert(noBloom.count() == 0)
    assert(fileScans(noBloom).nonEmpty, "bloomless db must scan")

    // stamp blooms, then verify per-file pruning: a present hash lives in
    // exactly one of the two hash-range files, so the scan reads one file
    assert(FooterMeta.writeBlooms(spark, out, minCapacity = 10000) == 2)
    val hit = graft.core.Hashers.hex(
      graft.core.Hashers("md5").hash("mixed-0042".getBytes("UTF-8")))
    val found = QueryJob.run(spark, out, QueryJob.Params(hit))
    assert(found.collect().map(_.getString(1)).toSeq == Seq("mixed-0042"))
    val scanned = fileScans(found).flatMap(_.relation.location.inputFiles)
    assert(scanned.size == 1,
      s"bloom should prune to the single containing file, scanned: $scanned")
  }
}
