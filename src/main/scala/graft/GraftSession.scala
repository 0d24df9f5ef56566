package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: Bench, Verify, Main, Profile, PlanDump and the
  * specs all run on these confs, so the plans the oracle checks are the
  * plans the bench times.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else this machine's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The confs every session shares, for `cpus` local cores. */
  def confs(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "32m",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session (or `master`) on [[confs]]. A live session is
    * returned as it is: `getOrCreate` would re-apply the confs to it and
    * rewrite its shuffle-partition count (Main runs inside the specs'
    * shared `local[4]` session).
    */
  def build(cpus: Int = GraftSession.cpus, master: Option[String] = None,
      logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .getOrElse(SparkSession.builder()
        .master(master.getOrElse(s"local[$cpus]"))
        .appName("graft")
        .config(confs(cpus))
        .getOrCreate())
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
