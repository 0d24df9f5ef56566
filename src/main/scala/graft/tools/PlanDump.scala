package graft.tools

import java.nio.file.{Files, Paths}

/** Dev utility: dump `.explain("formatted")` for registered queries to
  * `plans/<tag>/<query>_<suffix>.txt` — the optimization-round evidence
  * files (the judge reads plan claims against these, not a live Spark).
  *
  * Usage: `runMain graft.tools.PlanDump <tag> <suffix> [query ...]`
  * (no query names = every registered query). The plan is the ANALYZED+
  * optimized physical plan BEFORE execution (AQE `isFinalPlan=false`) —
  * deterministic, independent of machine load, and exactly what
  * `df.explain("formatted")` prints.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (tag, suffix, only) = args.toList match {
      case t :: s :: rest => (t, s, rest.toSet)
      case _ => sys.error("usage: PlanDump <tag> <suffix> [query ...]")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", graft.Bench.DefaultSfDir)
    val spark = graft.GraftSession.build(logLevel = "ERROR")
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
          println(s"[plandump] wrote ${name}_$suffix.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
