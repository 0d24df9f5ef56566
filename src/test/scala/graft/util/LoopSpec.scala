package graft.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The round loop's contract on toy frames: one checkpoint job per
  * round, flat plans, a settle-run that stops at its first settled round,
  * and an unconverged counter that moves only on a capped exit.
  */
class LoopSpec extends AnyFunSuite with SparkTestBase {

  /** The call sites (stage names) of the Spark jobs `body` launches. */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = "loop-spec-audit"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // count only this thread's job group: stray jobs from other specs on
    // the shared session must not count
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(j.stageInfos.map(_.name).mkString(" | "))
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "loop audit")
    try {
      val out = body
      // the listener bus is asynchronous: wait until the count settles
      var seen = -1
      while (seen != jobs.size) { seen = jobs.size; Thread.sleep(500) }
      (out, jobs.toArray(Array.empty[String]).toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def toy: DataFrame =
    spark.range(16).toDF("x").localCheckpoint(true)

  private def inc(f: DataFrame): DataFrame = f.withColumn("x", col("x") + 1)

  /** The jobs launched from inside `Loop`: its round checkpoints. */
  private def loopJobs(jobs: Seq[String]) =
    jobs.filter(_.contains(" at Loop.scala:"))

  private def planSize(f: DataFrame): Int =
    f.queryExecution.analyzed.collect { case p => p }.size

  test("rounds: one checkpoint job per round, and round N's analyzed " +
      "plan is no larger than round 1's") {
    val init = toy
    val sizes = ArrayBuffer[Int]()
    val seen = ArrayBuffer[Int]()
    val (out, jobs) = jobsOf(Loop.rounds(init, 6) { (f, r) =>
      seen += r
      val next = inc(f)
      sizes += planSize(next)
      next
    })
    assert(seen == (1 to 6), "step gets the 1-based round index")
    assert(jobs.size == 6, jobs.mkString(s"${jobs.size} jobs:\n", "\n", ""))
    assert(sizes.last <= sizes.head, s"plan sizes per round: $sizes")
    assert(out.agg(org.apache.spark.sql.functions.min("x")).head().getLong(0)
      == 6L)
    assert(Loop.rounds(init, 0)((f, _) => inc(f)) eq init,
      "zero rounds hand back the initial frame")
  }

  test("until: stops at its first settled round; a converged run leaves " +
      "the counter alone and a capped exit raises it by exactly 1") {
    val op = "loop-spec"
    val before = Loop.unconvergedCount(op)
    val init = toy
    var steps = 0
    val (_, jobs) = jobsOf(Loop.until(op, init, 10) { (f, _) =>
      steps += 1
      inc(f)
    } { f => f.agg(org.apache.spark.sql.functions.min("x")).head()
      .getLong(0) >= 3L })
    assert(steps == 3, s"ran $steps rounds; the third settles")
    assert(loopJobs(jobs).size == 3, jobs.mkString("\n"))
    assert(Loop.unconvergedCount(op) == before)
    var capped = 0
    Loop.until(op, toy, 2) { (f, _) => capped += 1; inc(f) }(_ => false)
    assert(capped == 2)
    assert(Loop.unconvergedCount(op) == before + 1)
  }

  test("kCore on an edge-free graph returns empty with no round run") {
    import spark.implicits._
    val exits = Loop.unconvergedCount("kCore")
    // self-loops only: nothing is left after normalization
    val (n, jobs) = jobsOf(graft.ops.Graph.kCore(
      Seq((1L, 1L), (2L, 2L)).toDF("u", "v"), k = 1).count())
    assert(n == 0L)
    assert(loopJobs(jobs).isEmpty, jobs.mkString("\n"))
    // control: a triangle does run a round, and its call site shows
    val (m, tri) = jobsOf(graft.ops.Graph.kCore(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v"), k = 2).count())
    assert(m == 3L)
    assert(loopJobs(tri).nonEmpty, tri.mkString("\n"))
    assert(Loop.unconvergedCount("kCore") == exits)
  }
}
