package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.core.Hashers
import graft.pipeline.{BuildJob, FooterMeta, SidecarMeta}
import graft.sources.WordSource

/** `hashdb_build`: the write path. One op is a fresh nine-algorithm
  * `BuildJob.run` (footer blooms on) of wordlist A followed by an append
  * `BuildJob.run` of wordlist B, which half-overlaps A (the J1 merge
  * shuffle). The database is deleted before each op.
  */
object HashDbBuild {
  val UniqueA = 8000
  val UniqueB = 4000
  val Overlap = 0.5
  val DupShare = 0.2
  val NonAsciiShare = 0.03
  val Algos: Seq[String] = Hashers.names
  /** Words per algorithm in the traced run's digest-alone calls. */
  val DigestWords = 200000

  /** Reference known answers for "hello" (the algorithms the JDK lacks). */
  val HelloKat: Map[String, String] = Map(
    "keccak256" -> "1c8aff950685c2ed4bc3174f3472287b56d9517b9c948127319a09a7a36deac8",
    "ripemd160" -> "108f07b8382412612c048d07d13f814118445acd",
    "blake3" -> "ea8f163db38682925e4491c5e58d4bb3506ef8c14eb78a86e908c5624a67200f",
    "hash160" -> "b6a9c8c230722b7c748331a8b450f05566dc7d0f",
    "hash256" -> "9595c9df90075148eb06860365df33584b75bff782a510c6cd4883a419833d50")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def dbFiles(db: Path): Seq[Path] = {
    val s = Files.walk(db)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.filter(p => p.getFileName.toString.endsWith(".parquet")).toList
    } finally s.close()
  }

  def run(ctx: Ctx): Unit = {
    import ctx.{spark, tracer}
    val pathA = ctx.work.resolve("lists/wordsA.txt")
    val pathB = ctx.work.resolve("lists/wordsB.txt")
    val lists = ctx.setupMedian("generate_s", 3) {
      val l = Gen.buildLists(ctx.args.seed, UniqueA, UniqueB, Overlap, DupShare, NonAsciiShare)
      Gen.write(pathA, l.linesA)
      Gen.write(pathB, l.linesB)
      l
    }
    val recordsA = lists.a.size.toLong * Algos.size
    val union = (lists.a ++ lists.b).distinct.size.toLong
    val incoming = lists.b.size.toLong * Algos.size
    ctx.inputs ++= Seq("lines_a" -> lists.linesA.length, "unique_a" -> lists.a.size,
      "lines_b" -> lists.linesB.length, "unique_b" -> lists.b.size,
      "shared_ab" -> lists.shared, "dup_line_share" -> DupShare,
      "non_ascii_word_share" -> NonAsciiShare, "algorithms" -> Algos.size,
      "length_mix" -> "30% 4-7, 50% 8-12, 20% 13-24 chars")

    val db = ctx.work.resolve("db")
    val srcA = WordSource.parse(pathA.toString)
    val srcB = WordSource.parse(pathB.toString)
    val freshCfg = BuildJob.Config(algorithms = Algos, sourceName = srcA.name,
      footerBloom = true)
    val appendCfg = freshCfg.copy(sourceName = srcB.name, append = true)

    var freshNs = Vector.empty[Long]
    var appendNs = Vector.empty[Long]
    /** Untimed hook between the two builds of an op (checks the fresh db). */
    var afterFresh: () => Unit = () => ()
    /** One op: fresh build of A, then append of B. */
    def op(i: Int): Unit = {
      deleteTree(db)
      val t0 = System.nanoTime()
      val fresh = tracer.span("BuildJob.run", "pipeline.build") {
        val (words, hash) = tracer.span("FileSource.words", "sources")(
          (srcA.words(spark), srcA.contentHash))
        BuildJob.run(spark, words, db.toString, freshCfg, hash)
      }
      val t1 = System.nanoTime()
      afterFresh()
      val t2 = System.nanoTime()
      val app = tracer.span("BuildJob.run append", "pipeline.build") {
        val (words, hash) = tracer.span("FileSource.words", "sources")(
          (srcB.words(spark), srcB.contentHash))
        BuildJob.run(spark, words, db.toString, appendCfg, hash)
      }
      val t3 = System.nanoTime()
      freshNs :+= t1 - t0
      appendNs :+= t3 - t2
      tracer.span("records", "check") {
        ctx.check(s"fresh records = unique x algorithms")(fresh.records == recordsA)
        ctx.check(s"append records = union x algorithms")(app.records == union * Algos.size)
      }
    }

    // the warm-up op also checks the fresh database; check time is not set-up
    var checkS = 0.0
    afterFresh = () => {
      val t0 = System.nanoTime()
      val bytes = dbFiles(db).map(Files.size).sum
      ctx.detail("db_bytes_per_record") = bytes.toDouble / recordsA
      checkDb(ctx, db, "fresh", lists.a.take(200))
      checkS = (System.nanoTime() - t0) / 1e9
    }
    // two warm-up ops: the JIT keeps making ops faster over the first few
    ctx.setupOnce("warmup_s") {
      op(-2)
      afterFresh = () => ()
      op(-1)
    }
    ctx.setup("warmup_s", ctx.setupParts("warmup_s") - checkS)
    freshNs = Vector.empty
    appendNs = Vector.empty

    ctx.timed(minOps = 3)(op)(itemsPerOp = (recordsA + incoming).toDouble) {
      isolate(ctx, lists, pathA, srcA, srcB, freshCfg, ctx.work.resolve("db_isolate"))
    }
    val freshS = Stats.median(freshNs.map(_ / 1e9))
    val appendS = Stats.median(appendNs.map(_ / 1e9))
    ctx.detail ++= Seq("build_records_per_s" -> recordsA / freshS,
      "append_records_per_s" -> incoming / appendS,
      "build_run_s_p50" -> freshS, "append_run_s_p50" -> appendS,
      "ops" -> freshNs.size)

    // the last op left the appended database
    checkDb(ctx, db, "append", lists.b.take(100) ++ lists.a.takeRight(100))
    checkSources(ctx, lists, srcA, srcB, db)
  }

  /** Calls that isolate one layer (traced runs only). */
  private def isolate(ctx: Ctx, lists: Gen.BuildLists, pathA: Path, srcA: WordSource,
      srcB: WordSource, cfg: BuildJob.Config, db: Path): Unit = {
    import ctx.{spark, tracer}
    import spark.implicits._
    def secs(name: String, layer: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      tracer.span(name, layer)(f)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.layers("sources.lines") = lists.linesA.length
    ctx.layers("sources.scan_s") =
      secs("FileSource.words", "sources")(ctx.noop(srcA.words(spark).toDF("w")))
    // digests alone, over enough words that the per-job floor is small;
    // one untimed pass first, so no algorithm pays the others' JIT warm-up
    val many = Gen.uniqueWords(new java.util.SplittableRandom(ctx.args.seed), DigestWords,
      NonAsciiShare)
    val words = many.toDF("w").localCheckpoint(true)
    def digestAll(a: String): Unit =
      ctx.noop(words.select(graft.sql.functions.digest(a, col("w"))))
    Algos.foreach(digestAll)
    for (a <- Algos)
      ctx.layers(s"digest.$a.ns_per_word") =
        secs(s"digest $a", "digest")(digestAll(a)) * 1e9 / many.size
    ctx.layers("build.expand_s") = secs("BuildJob.expand", "pipeline.build") {
      ctx.noop(BuildJob.expand(srcA.words(spark), cfg))
    }
    ctx.layers("build.unique_ratio") = lists.a.size.toDouble / lists.linesA.length
    deleteTree(db)
    val runS = secs("BuildJob.run", "pipeline.build") {
      BuildJob.run(spark, srcA.words(spark), db.toString, cfg, srcA.contentHash)
    }
    val meta = SidecarMeta.read(spark, db.toString).get
    val stampS = secs("FooterMeta.write+writeBlooms", "pipeline.footer") {
      FooterMeta.write(spark, db.toString, meta)
      FooterMeta.writeBlooms(spark, db.toString)
    }
    ctx.layers("build.run_s") = runS
    ctx.layers("footer.stamp_s") = stampS
    ctx.layers("build.sort_write_s") = runS - ctx.layers("build.expand_s") - stampS
    ctx.layers("build.files") = dbFiles(db).size
    ctx.layers("build.bytes_written") = dbFiles(db).map(Files.size).sum.toDouble
    ctx.layers("append.merge_s") = secs("BuildJob.merge", "pipeline.build") {
      ctx.noop(BuildJob.merge(spark.read.schema(BuildJob.schema).parquet(db.toString),
        BuildJob.expand(srcB.words(spark), cfg.copy(sourceName = srcB.name))))
    }
    ctx.layers("append.overlap_ratio") = lists.shared.toDouble / lists.b.size
    HashDbLookup.isolatedLookups(ctx, pathA, lists.a, ctx.work.resolve("db_lookup").toString)
  }

  /** Sources are set-unioned: shared words carry both lists' names. */
  private def checkSources(ctx: Ctx, lists: Gen.BuildLists, srcA: WordSource,
      srcB: WordSource, db: Path): Unit = {
    val bySources = ctx.spark.read.parquet(db.toString)
      .groupBy(concat_ws(",", col("sources"))).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = Algos.size.toLong
    val expected = Map(
      Seq(srcA.name, srcB.name).sorted.mkString(",") -> lists.shared * n,
      srcA.name -> (lists.a.size - lists.shared) * n,
      srcB.name -> (lists.b.size - lists.shared) * n)
    ctx.check("append: sources are the set union")(bySources == expected)
  }

  private def checkDb(ctx: Ctx, db: Path, label: String, sample: Seq[String]): Unit = {
    import ctx.spark
    import spark.implicits._
    val df = spark.read.parquet(db.toString)
    // files tile the hash space: per-file [min, max] ranges do not overlap
    val ranges = df.groupBy(input_file_name()).agg(min("hash"), max("hash"))
      .collect().map(r => (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)))
      .sortWith((x, y) => compareBytes(x._1, y._1) < 0)
    ctx.check(s"$label: files tile the hash space")(
      ranges.sliding(2).forall {
        case Array(x, y) => compareBytes(x._2, y._1) < 0
        case _ => true
      })
    ctx.check(s"$label: (hash, algorithm) keys are unique") {
      val r = df.agg(count(lit(1)), countDistinct(col("hash"), col("algorithm"))).head()
      r.getLong(0) == r.getLong(1)
    }
    val probe = (sample :+ "hello").distinct
    val rows = df.filter(col("preimage").isin(probe: _*))
      .select(col("preimage"), col("algorithm"), col("hash")).as[(String, String, Array[Byte])]
      .collect()
    val got = rows.map { case (p, a, h) => (p, a) -> Gen.hex(h) }.toMap
    for (a <- Seq("md5", "sha1", "sha256", "sha512"))
      ctx.check(s"$label: $a digests match the JDK")(
        probe.forall(w => got.get((w, a)).contains(Gen.hex(Gen.jdkDigest(a, w)))))
    for ((a, want) <- HelloKat)
      ctx.check(s"$label: $a known answer for hello")(got.get(("hello", a)).contains(want))
  }

  /** Unsigned lexicographic order, as Spark orders binary values. */
  def compareBytes(x: Array[Byte], y: Array[Byte]): Int = {
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }
}
