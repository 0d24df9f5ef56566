package graft.pipeline

import java.io.File
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** A minimal non-`file` Hadoop FileSystem: `mock3a://bucket/path` stores
  * at local `path` (authority carried in URIs, identity path mapping —
  * remapping the root breaks RawLocalFileSystem's listStatus, which
  * reconstructs child Paths from local File paths), but NOTHING in the
  * pipeline knows that — every access goes through the FileSystem API
  * with a foreign scheme and an authority component, the contract
  * `s3a://` implements. This is the offline stand-in for the
  * object-store paths (SURVEY.md §2 S10/K4): the hadoop-aws jar isn't in
  * this environment, so the real S3AFileSystem can't even classload —
  * what CAN be proven is that the build/read/query pipeline is
  * FS-agnostic, which is the property s3a relies on.
  */
class Mock3aFileSystem extends RawLocalFileSystem {
  private var scheme_uri: URI = _

  override def getScheme: String = "mock3a"
  // the superclass constructor resolves the working dir through getUri
  // before initialize() runs — fall back to the bare scheme until then
  override def getUri: URI =
    if (scheme_uri == null) URI.create("mock3a:///") else scheme_uri

  override def initialize(name: URI, conf: Configuration): Unit = {
    scheme_uri = URI.create(
      "mock3a://" + Option(name.getAuthority).getOrElse(""))
    super.initialize(name, conf)
  }

  // RawLocalFileSystem's lazy permission loading does `new File(pathUri)`,
  // which rejects non-file schemes — materialize statuses eagerly with a
  // fixed permission instead (object stores fake permissions anyway)
  private def fix(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime,
      FsPermission.valueOf("-rwxrwxrwx"), "", "", s.getPath)

  override def getFileStatus(f: Path): FileStatus = fix(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(fix)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (f.getName.endsWith(".footer.tmp")) Mock3aFileSystem.footerCopies.add(f.toString)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object Mock3aFileSystem {
  /** Every `.footer.tmp` copy created: one per remote footer splice. */
  val footerCopies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** End-to-end object-store semantics over the mock scheme: the staging
  * swap, the REMOTE footer-rewrite branch (copy-prefix + swap — the
  * in-place splice is a `file`-scheme-only fast path), metadata reads,
  * reverse lookup, and append-merge, none of which had ever executed
  * against a non-local FileSystem before this spec.
  */
class ObjectStoreSpec extends AnyFunSuite with SparkTestBase {

  private def withMockFs[T](f: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory("mock3a").toFile
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock3a.impl", classOf[Mock3aFileSystem].getName)
    try f(s"mock3a://bucket${root.getAbsolutePath}/db")
    finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("build → footer stamp → stats → lookup → append all run on mock3a://") {
    import spark.implicits._
    withMockFs { out =>
      val cfg = BuildJob.Config(algorithms = Seq("md5", "sha256"),
        sourceName = "unit", bloomNdv = 1000L)
      val res = BuildJob.run(spark, Seq("alpha", "beta", "gamma", "alpha").toDS,
        out, cfg, contentHash = Some("h1"))
      assert(res.written && res.records == 6) // 3 unique words × 2 algos

      // plain read-back through the scheme
      val df = spark.read.schema(BuildJob.schema).parquet(out)
      assert(df.count() == 6)
      assert(df.select("preimage").distinct().count() == 3)

      // sidecar AND footer metadata both live behind the scheme; the
      // footer write took the remote copy-swap branch (scheme != file)
      val side = SidecarMeta.read(spark, out).get
      val foot = FooterMeta.read(spark, out).get
      assert(side.totalRecords == 6 && foot.totalRecords == 6)
      assert(foot.algorithms == Seq("md5", "sha256"))
      assert(foot.sourceHashes.contains("h1"))

      // exact reverse lookup (bloom + range pruning run over mock3a IO)
      val hex = graft.core.Hashers.hex(
        graft.core.Hashers("sha256").hash("beta".getBytes("UTF-8")))
      val hit = QueryJob.run(spark, out,
        QueryJob.Params(hex, algorithm = Some("sha256"))).collect()
      assert(hit.map(_.getString(1)).toSeq == Seq("beta"))

      // incremental skip consults the sidecar through the scheme
      val skip = BuildJob.run(spark, Seq("zeta").toDS, out, cfg,
        contentHash = Some("h1"))
      assert(skip.skippedUpToDate && !skip.written)

      // append-merge: stage → FS rename swap, metadata refreshed
      val app = BuildJob.run(spark, Seq("delta").toDS, out,
        cfg.copy(append = true), contentHash = Some("h2"))
      assert(app.written && app.records == 8)
      assert(FooterMeta.read(spark, out).get.totalRecords == 8)
      assert(SidecarMeta.read(spark, out).get.sourceHashes.toSet == Set("h1", "h2"))
      assert(spark.read.schema(BuildJob.schema).parquet(out)
        .filter(col("preimage") === "delta").count() == 2)

      // compaction's stage-and-rename + catalog re-stamp also run on the
      // foreign scheme (the append left a fragmented multi-file db)
      val before = FooterMeta.read(spark, out).get
      val comp = Compact.run(spark, out, targetBytes = 512L << 20, cfg = cfg)
      assert(comp.records == 8 && comp.filesAfter <= comp.filesBefore)
      assert(FooterMeta.read(spark, out).get.totalRecords == 8)
      assert(SidecarMeta.read(spark, out).get.sourceHashes.toSet ==
        before.sourceHashes.toSet)

      // footer blooms behind the scheme: the splice takes the remote
      // copy-swap branch, and the exact-lookup fast-reject answers a
      // negative from footers alone — zero parquet scans over mock3a
      assert(FooterMeta.writeBlooms(spark, out, minCapacity = 10000) >= 1)
      assert(FooterMeta.read(spark, out).get.totalRecords == 8) // KVs coexist
      val absent = graft.core.Hashers.hex(
        graft.core.Hashers("sha256").hash("never".getBytes("UTF-8")))
      val miss = QueryJob.run(spark, out, QueryJob.Params(absent))
      assert(miss.count() == 0)
      assert(miss.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.isEmpty, "all-files bloom reject must not plan a scan")
      // and a present hash still resolves through the bloom
      val hex2 = graft.core.Hashers.hex(
        graft.core.Hashers("md5").hash("delta".getBytes("UTF-8")))
      assert(QueryJob.run(spark, out, QueryJob.Params(hex2)).collect()
        .map(_.getString(1)).toSeq == Seq("delta"))
    }
  }

  test("a bloom-stamped build copies each data file once to stamp its footer") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    withMockFs { out =>
      val cfg = BuildJob.Config(algorithms = Seq("md5", "sha256"), numFiles = Some(3),
        bloomNdv = 1000L, footerBloom = true)
      assert(BuildJob.run(spark, (0 until 300).map(i => s"copy-$i").toDS, out, cfg)
        .records == 600)
      val root = new Path(out)
      val files = root.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(root).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
      val copies = Mock3aFileSystem.footerCopies.asScala.filter(_.startsWith(out)).toSeq
      assert(files.length == 3)
      // the catalog and the bloom went into one splice, so one copy per file
      assert(copies.sorted == files.map(p => s"$out/.${p.getName}.footer.tmp").toSeq.sorted)
      assert(FooterMeta.read(spark, out).get.totalRecords == 600)
      assert(FooterMeta.readBlooms(spark, out).forall(_._2.isDefined))
    }
  }

  test("s3a credential layering maps config keys onto the Hadoop conf") {
    val cfg = new graft.config.GraftConfig(Map(
      "s3.endpoint" -> "https://ep.example", "s3.access_key_id" -> "AK",
      "s3.secret_access_key" -> "SK"))
    val m = cfg.s3aSettings
    assert(m("fs.s3a.endpoint") == "https://ep.example")
    assert(m("fs.s3a.access.key") == "AK")
    assert(m("fs.s3a.secret.key") == "SK")
    assert(m("fs.s3a.path.style.access") == "true")
  }

  /** LIVE variant — auto-enabled when the hadoop-aws jar is on the
    * classpath AND `GRAFT_LIVE_S3_URL` names a writable `s3a://` prefix
    * (credentials via the ambient provider chain / GraftConfig);
    * visibly CANCELED otherwise. Same build→stats→lookup→append chain
    * the mock3a test pins, against a real object store
    * (TESTDATA.md §live-paths).
    */
  test("LIVE s3a: build → stats → lookup round-trip on a real bucket") {
    val jarPresent =
      try { Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem"); true }
      catch { case _: ClassNotFoundException => false }
    assume(jarPresent, "hadoop-aws (S3AFileSystem) not on the classpath")
    val url = sys.env.get("GRAFT_LIVE_S3_URL")
    assume(url.isDefined, "set GRAFT_LIVE_S3_URL=s3a://bucket/prefix to enable")
    import spark.implicits._
    val out = url.get.stripSuffix("/") + s"/graft-live-${System.nanoTime()}/db"
    val cfg = BuildJob.Config(algorithms = Seq("md5"))
    val res = BuildJob.run(spark, Seq("alpha", "beta").toDS, out, cfg,
      contentHash = Some("live1"))
    assert(res.written && res.records == 2)
    assert(FooterMeta.read(spark, out).get.totalRecords == 2)
    val hex = graft.core.Hashers.hex(
      graft.core.Hashers("md5").hash("alpha".getBytes("UTF-8")))
    assert(QueryJob.run(spark, out, QueryJob.Params(hex)).collect()
      .map(_.getString(1)).toSeq == Seq("alpha"))
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(out).getParent, true)
  }
}
