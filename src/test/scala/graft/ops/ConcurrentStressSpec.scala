package graft.ops

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Stress repro for the cross-suite flake: the md5 minhash pipeline
  * intermittently returned ZERO rows when an identical pipeline ran
  * concurrently on the shared session (full-suite runs only). Two
  * threads composing the same op + cache churn should reproduce it
  * in-JVM if the cause is library/Spark-level rather than test-harness.
  */
class ConcurrentStressSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")

  /** The noise threads below (cache clearing, conf churn) are hostile to
    * every OTHER suite sharing the session, so this spec only runs when
    * asked for explicitly:
    *   GRAFT_STRESS=true sbt "testOnly graft.ops.ConcurrentStressSpec"
    * Without the scope-tag fix in [[graft.util.AutoUnpersist]] it fails
    * within a run or two (intermittent EMPTY results); with it, it's
    * stable across repeated runs on an otherwise-idle machine.
    *
    * Round-5 controlled measurement of the RESIDUAL failure mode: with a
    * full sf0.1 bench saturating all 32 cores as co-tenant load, the
    * spec still fails ~1/3 of runs with AQE ON (one or two of the 12
    * pipelines return zero rows) and passed 8/8 with
    * GRAFT_STRESS_AQE_OFF=true under the same load. The trigger is the
    * noise thread's `spark.catalog.clearCache()` landing mid-query —
    * i.e. an adversarial actor dropping ANOTHER thread's in-flight
    * cached plan, a hazard for any cached plan in any Spark app, not a
    * graft-specific lifetime bug (the scope-tag fix removed those).
    *
    * Second campaign (same round, idle machine, 5+ runs per mode):
    * AQE on fails even idle (1/5, plus 2/2 ad-hoc runs with residual
    * Spark-shutdown load — the first campaign's "quiet = stable" was a
    * small sample); GRAFT_STRESS_AQE_EXCLUDE=true (AQE kept, only
    * AQEPropagateEmptyRelation excluded) fails at the same rate (2/8) —
    * so the silent-empty path is NOT just the empty-relation rule;
    * AQE off stays 12/12 clean across both campaigns. Operational
    * guidance, sharpened: never share a session with code that may
    * clearCache mid-flight; failing that, disable AQE for those jobs —
    * surgical rule exclusion is insufficient.
    */
  private def stressTest(name: String)(body: => Unit): Unit =
    if (sys.env.get("GRAFT_STRESS").contains("true")) test(name)(body)
    else ignore(name)(body)

  stressTest("concurrent identical minhash pipelines never lose rows") {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val stop = new AtomicBoolean(false)
    val noise = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        try {
          Dedup.minhashLsh(docs).count()
          if (i % 2 == 0) spark.catalog.clearCache()
          i += 1
        } catch { case _: Throwable => () }
      }
    })
    // a second thread churns the session shuffle parallelism the way
    // PartitionInvarianceSpec does (conf is session-shared)
    val isolate = sys.env.get("GRAFT_STRESS_NEWSESSION").contains("true")
    val confNoise = new Thread(() => {
      val s2 = if (isolate) spark.newSession() else spark
      val docs2 = s2.read.parquet(s"${sf()}/documents.parquet")
      val vals = Array("1", "7", "32", "4")
      var i = 0
      while (!stop.get()) {
        try {
          s2.conf.set("spark.sql.shuffle.partitions", vals(i % vals.length))
          Dedup.ngramJaccard(docs2).count()
          i += 1
        } catch { case _: Throwable => () }
      }
    })
    val aqeOff = sys.env.get("GRAFT_STRESS_AQE_OFF").contains("true")
    if (aqeOff) spark.conf.set("spark.sql.adaptive.enabled", "false")
    // surgical variant: keep AQE (coalescing, skew splitting) but drop
    // only the empty-relation propagation rule the silent-empty path
    // runs through — the mitigation a production pipeline would ship
    val aqeExclude = sys.env.get("GRAFT_STRESS_AQE_EXCLUDE").contains("true")
    if (aqeExclude) spark.conf.set(
      "spark.sql.adaptive.optimizer.excludedRules",
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
    Seq(noise, confNoise).foreach { t => t.setDaemon(true); t.start() }
    try {
      val runs = (1 to 12).map { _ =>
        Dedup.minhashLsh(docs).select("i", "j").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(runs.forall(_ == runs.head) && runs.head.nonEmpty,
        s"pair sets varied under concurrency: sizes=${runs.map(_.size)}")
    } finally {
      stop.set(true)
      noise.join(30000)
      confNoise.join(30000)
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
      if (aqeOff) spark.conf.set("spark.sql.adaptive.enabled", "true")
      if (aqeExclude)
        spark.conf.unset("spark.sql.adaptive.optimizer.excludedRules")
    }
  }
}
