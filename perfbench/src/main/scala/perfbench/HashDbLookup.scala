package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

import graft.pipeline.{BuildJob, FooterMeta, QueryJob}
import graft.sources.WordSource

/** `hashdb_lookup`: the read path. Set-up builds an md5+sha256 database
  * of `Words` seeded words in `Files` range-tiled files with footer
  * blooms; one op is one `QueryJob.run(...).collect()` of a probe from a
  * round-robin mix of three classes of seeded probes (see [[Gen.probes]]).
  */
object HashDbLookup {
  val Words = 60000
  val Files = 4
  val PerClass = 400
  val Limit = 10
  val NonAsciiShare = 0.03
  val Classes = Seq("hit", "miss", "prefix")

  def buildDb(spark: SparkSession, list: Path, db: String): Unit =
    BuildJob.run(spark, WordSource.parse(list.toString).words(spark), db,
      BuildJob.Config(algorithms = Seq("md5", "sha256"), sourceName = "words",
        numFiles = Some(Files), footerBloom = true))

  def lookup(spark: SparkSession, db: String, p: Gen.Probe): Array[Row] =
    QueryJob.run(spark, db, QueryJob.Params(p.hex, None, Limit)).collect()

  def checkProbe(p: Gen.Probe, rows: Array[Row]): Boolean = p.cls match {
    case "hit" => rows.exists(r => r.getString(1) == p.expectPreimage.get &&
      r.getString(2) == "sha256" && Gen.hex(r.getAs[Array[Byte]](0)) == p.hex)
    case "miss" => rows.isEmpty
    case _ => rows.length == p.expectRows &&
      rows.forall(r => Gen.hex(r.getAs[Array[Byte]](0)).startsWith(p.hex))
  }

  /** One traced lookup and its check; returns the probe's class and the
    * rows it returned.
    */
  private def tracedLookup(ctx: Ctx, db: String, p: Gen.Probe): (String, Int) = {
    val rows = ctx.tracer.span(s"QueryJob.run ${p.cls}", "pipeline.query")(lookup(ctx.spark, db, p))
    ctx.tracer.span("probe", "check")(ctx.check(s"lookup ${p.cls} ${p.hex}")(checkProbe(p, rows)))
    (p.cls, rows.length)
  }

  def run(ctx: Ctx): Unit = {
    import ctx.tracer
    val list = ctx.work.resolve("lists/words.txt")
    val (words, probes) = ctx.setupMedian("generate_s", 3) {
      val r = new SplittableRandom(ctx.args.seed)
      val w = Gen.uniqueWords(r, Words, NonAsciiShare)
      Gen.write(list, w.toArray)
      (w, Gen.probes(r, w, PerClass, Limit, NonAsciiShare))
    }
    ctx.inputs ++= Seq("words" -> words.size, "algorithms" -> "md5,sha256",
      "records" -> 2L * words.size, "files" -> Files,
      "probes_per_class" -> PerClass, "limit" -> Limit)
    val db = ctx.work.resolve("db").toString
    ctx.setupOnce("build_db_s")(buildDb(ctx.spark, list, db))

    val lat = Classes.map(_ -> Vector.newBuilder[Double]).toMap
    /** Class and row count of each traced op. */
    val traced = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    def op(i: Int): Unit = {
      val p = probes(math.floorMod(i, probes.size))
      val t0 = System.nanoTime()
      val out = tracedLookup(ctx, db, p)
      lat(p.cls) += (System.nanoTime() - t0) / 1e6
      if (tracer.enabled) traced += out
    }

    // warm-up: every class 20 times, from the end of the probe list
    ctx.setupOnce("warmup_s")((1 to 60).foreach(k => op(-k)))
    lat.values.foreach(_.clear())
    ctx.timed(minOps = 30)(op)(itemsPerOp = 1) {
      layerFigures(ctx, db, probes, traced.toSeq)
    }
    for (c <- Classes) {
      val xs = lat(c).result()
      ctx.detail ++= Seq(s"lookup_${c}_ms_p50" -> Stats.median(xs),
        s"lookup_${c}_ms_p90" -> Stats.quantile(xs, 0.9), s"lookup_${c}_n" -> xs.size)
    }
  }

  /** The lookup layers for a workload whose timed loop does no lookups
    * (the traced `hashdb_build` run): an md5+sha256 database of `words`
    * from `list`, 10 untimed lookups per class, then `IsolatedPerClass`
    * traced ones.
    */
  val IsolatedPerClass = 20
  def isolatedLookups(ctx: Ctx, list: Path, words: Vector[String], db: String): Unit = {
    ctx.tracer.span("lookup database", "pipeline.build")(buildDb(ctx.spark, list, db))
    val probes = Gen.probes(new SplittableRandom(ctx.args.seed), words,
      10 + IsolatedPerClass, Limit, NonAsciiShare)
    probes.take(30).foreach(p => lookup(ctx.spark, db, p))
    val traced = probes.drop(30).map(tracedLookup(ctx, db, _))
    layerFigures(ctx, db, probes, traced)
  }

  /** Per-class layer figures from the traced lookups' spans (`ops` in
    * span order), and the footer-bloom reads in isolation.
    */
  private def layerFigures(ctx: Ctx, db: String, probes: Seq[Gen.Probe],
      ops: Seq[(String, Int)]): Unit = {
    import ctx.tracer
    val all = tracer.spans
    val kids = SpanReport.childrenOf(all)
    val opSpans = all.filter(s => s.layer == "pipeline.query").sortBy(_.startNs)
    val plans = tracer.planning.toArray(Array.empty[(Long, Long)])
    for (c <- Classes) {
      val mine = opSpans.zip(ops).filter(_._2._1 == c)
      val n = mine.size.max(1).toDouble
      val planMs = mine.map { case (s, _) =>
        plans.filter { case (_, st) => st >= s.startNs && st <= s.endNs }.map(_._1).sum.toDouble
      }
      ctx.layers(s"lookup.$c.plan_ms") = planMs.sum / n
      ctx.layers(s"lookup.$c.exec_ms") = (mine.map(_._1.durNs / 1e6).sum - planMs.sum) / n
      ctx.layers(s"lookup.$c.jobs_per_op") =
        mine.map(s => kids.getOrElse(s._1.id, Nil).count(_.layer == "spark.job")).sum / n
      val examined = mine.map(s => Option(tracer.inputBySpan.get(s._1.id)).map(_.get).getOrElse(0L)).sum
      ctx.layers(s"lookup.$c.rows_examined_per_result") =
        examined.toDouble / mine.map(_._2._2).sum.max(1)
    }
    // cold footer-bloom reads: a path spelling the lookups never used
    // misses the reader's per-path cache
    val abs = new java.io.File(db).getAbsolutePath
    val reads = Seq(s"file:$abs", s"file:$abs/", s"$abs/").map { d =>
      val t0 = System.nanoTime()
      val b = tracer.span("FooterMeta.readBlooms", "pipeline.footer")(FooterMeta.readBlooms(ctx.spark, d))
      ((System.nanoTime() - t0) / 1e6, b)
    }
    ctx.layers("footer.bloom_read_ms") = Stats.median(reads.map(_._1))
    val blooms = reads.head._2.flatMap(_._2)
    val misses = probes.filter(_.cls == "miss").map(p =>
      p.hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    ctx.layers("lookup.files_pruned_ratio") =
      misses.map(h => blooms.count(!_.mightContain(h)).toDouble / blooms.size.max(1)).sum /
        misses.size.max(1)
  }
}
