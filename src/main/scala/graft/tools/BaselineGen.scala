package graft.tools

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Generator + reader for `BASELINE_QUERIES.json` — the machine-readable
  * per-query quiet-baseline table the bench's baseline-aware retry reads
  * (see [[graft.Bench]]): one row per registered query with its quiet
  * median wall seconds (and process-CPU seconds when the source record
  * carries them), plus provenance.
  *
  * Usage: `runMain graft.tools.BaselineGen [benchRecord.json]` — default
  * source is the committed `BENCH.json` (which [[graft.Bench]] only
  * promotes on full-battery sf0.1 runs). Generate it FROM A QUIET RUN:
  * the whole point is that the committed number is the machine-noise-free
  * reference; check the source record's `loadavg` map before promoting.
  * BaselineSpec gates parity (every registered query has a row, no
  * orphans), so regenerate after adding queries.
  */
object BaselineGen {
  val Path = "BASELINE_QUERIES.json"

  /** query → quiet median wall sec; empty map when `path` is absent or
    * unparsable (the bench then simply runs without baseline retries).
    */
  def read(path: String): Map[String, Double] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return Map.empty
    try {
      val root = new ObjectMapper().readTree(Files.readString(p))
      val qs = root.get("queries")
      if (qs == null) return Map.empty
      val it = qs.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        val sec = e.getValue.get("sec")
        if (sec != null) b += e.getKey -> sec.asDouble()
      }
      b.result()
    } catch {
      case e: Throwable =>
        System.err.println(s"[baseline] unreadable $path: ${e.getMessage}")
        Map.empty
    }
  }

  /** Core count the table was measured at (absent in older tables →
    * None; the bench treats that as "arm at any count").
    */
  def cpusOf(path: String): Option[Int] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return None
    try {
      val meta = new ObjectMapper().readTree(Files.readString(p)).get("_meta")
      Option(meta).flatMap(m => Option(m.get("cpus"))).map(_.asInt())
    } catch { case _: Throwable => None }
  }

  def main(args: Array[String]): Unit = {
    // --replace: overwrite rows even when the existing baseline is
    // LOWER. Default is a MIN-MERGE with the committed table: every
    // known noise source (co-tenants, host throttling, page-cache
    // misses) INFLATES a measurement and none deflates it, so the
    // best-known quiet median per query is the min over quiet runs —
    // a single battery under a degraded host must not raise the bar
    // the retry trigger compares against. Use --replace only when a
    // query's plan deliberately changed to something slower.
    val replace = args.contains("--replace")
    val srcs = args.filterNot(_ == "--replace").toSeq match {
      case Seq() => Seq("BENCH.json")
      case s => s
    }
    val roots = srcs.map(s =>
      s -> new ObjectMapper().readTree(Files.readString(Paths.get(s))))
    roots.foreach { case (s, r) =>
      require(r.get("queries") != null && r.get("queries").size() > 0,
        s"no queries map in $s")
    }
    val qsAll = roots.map(_._2.get("queries"))
    val cpu = Option(roots.head._2.get("cpu_sec"))
    val names = {
      val it = qsAll.head.fieldNames(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result().sorted
    }
    // several source records (e.g. two same-day full batteries) min-
    // merge per query: a baseline must be REPRODUCIBLE on a normal
    // quiet box, and min over same-condition runs rejects per-run
    // noise without enshrining a one-off turbo-host reading
    val prior = if (replace) Map.empty[String, Double] else read(Path)
    val date = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    val sf = Option(roots.head._2.get("sf")).map(_.asText()).getOrElse("?")
    val rows = names.map { n =>
      val fromSrcs = qsAll.flatMap(qs => Option(qs.get(n)))
        .map(_.asDouble())
      require(fromSrcs.nonEmpty, s"query $n missing from a source record")
      val sec = (fromSrcs ++ prior.get(n)).min
      val c = cpu.flatMap(m => Option(m.get(n))).map(_.asDouble())
      val cpuPart = c.map(v => f""","cpu_sec":$v%.3f""").getOrElse("")
      f"""    "$n": {"sec":$sec%.3f$cpuPart}"""
    }
    // cpus recorded so the bench arms baseline retries ONLY at the
    // measurement shape: at a lower driver core count every query
    // legitimately exceeds a 32-core baseline, and mass retries would
    // pollute the scaling run
    val cpus = graft.GraftSession.cpus
    val json =
      s"""{
         |  "_meta": {"src": "${srcs.mkString(",")}", "generated": "$date", "sf": "$sf",
         |    "cpus": $cpus, "stat": "median", "n_queries": ${names.size}},
         |  "queries": {
         |${rows.mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    Files.writeString(Paths.get(Path), json)
    println(s"[baseline] wrote $Path (${names.size} queries from ${srcs.mkString(",")})")
  }
}
