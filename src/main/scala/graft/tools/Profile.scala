package graft.tools

/** Dev utility: time registered queries cold, then warm, each forced
  * through the noop sink (`runMain graft.tools.Profile <query ...>`).
  *
  * The tables come from `SPARK_GRAFT_SF_DIR` (default
  * [[graft.Bench.DefaultSfDir]]), so a corpus-growth curve is
  * `python3 tools/scale_gen.py <src> <out> <R>` followed by
  * `SPARK_GRAFT_SF_DIR=<out> ... Profile <query ...>`. The session is
  * [[graft.GraftSession]]'s, so Profile times the plans Bench times.
  * Formatted plans: [[PlanDump]]; hash-db build and lookup layers:
  * perfbench's `hashdb_build` / `hashdb_lookup` with `--trace 1`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val code = run(args.toSeq, System.err)
    if (code != 0) sys.exit(code)
  }

  private[graft] def run(queries: Seq[String], err: java.io.PrintStream): Int = {
    val unknown = queries.filterNot(graft.queries.Registry.all.contains)
    if (queries.isEmpty || unknown.nonEmpty) {
      err.println("usage: Profile <query ...>" +
        (if (unknown.isEmpty) "" else s" (unknown: ${unknown.mkString(", ")})"))
      2
    } else {
      time(queries)
      0
    }
  }

  private def time(queries: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", graft.Bench.DefaultSfDir)
    val spark = graft.GraftSession.build(logLevel = "ERROR")
    queries.foreach { q =>
      for (pass <- Seq("cold", "warm")) {
        val t0 = System.nanoTime()
        graft.queries.Registry.all(q).build(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"TIME $q $pass ${(System.nanoTime() - t0) / 1e9}%.3f")
      }
    }
    spark.stop()
  }
}
