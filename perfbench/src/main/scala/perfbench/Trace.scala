package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of a traced run. `layer` names the module a call went
  * into (see README.md), or `workload`/`phase` for the enclosing spans,
  * or `spark.job` for a Spark job attached to the call that submitted it.
  * Times are epoch nanoseconds (Spark job times have millisecond
  * resolution).
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long, run: String) {
  def durNs: Long = endNs - startNs
}

/** Engine totals at one instant; `minus` gives the counts of an interval. */
final case class EngineCounters(
    jobs: Long, tasks: Long, taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, compiles: Long,
    compileNs: Long, planningMs: Long) {
  def minus(o: EngineCounters): EngineCounters = EngineCounters(
    jobs - o.jobs, tasks - o.tasks, taskRunMs - o.taskRunMs,
    taskCpuNs - o.taskCpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, compiles - o.compiles,
    compileNs - o.compileNs, planningMs - o.planningMs)
}

/** Spans and engine counters for one run, registered only by the
  * benchmark: a SparkListener (jobs, tasks, task time, GC, shuffle,
  * spill), a QueryExecutionListener (planning phases) and Spark's
  * codegen counters. Spans stay in memory until [[writeJsonl]].
  *
  * Outside [[enable]] ... [[disable]] nothing is registered and [[span]]
  * only runs its body, so untraced ops pay no tracing cost.
  */
final class Tracer(spark: SparkSession, val run: String) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  def now: Long = epoch0 + (System.nanoTime() - nano0)

  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  @volatile var enabled = false

  // engine counters, written by the listener-bus thread
  private val jobs, tasks, taskRunMs, taskCpuNs, gcMs, shWrite, shRead,
    spill, planningMs = new AtomicLong(0)
  private val jobParent = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (parent span, start ns)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** Input records read by tasks, keyed by the span that submitted the
    * task's job.
    */
  val inputBySpan = new ConcurrentHashMap[Long, AtomicLong]()
  /** (analysis+optimization+planning ms, first phase start ns) per query
    * execution, attributed to spans later by time.
    */
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  /** Codegen compiles inside each span. */
  val compilesBySpan = mutable.Map.empty[Long, Long]

  private val Key = "perfbench.span"

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val p = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toLong).getOrElse(0L)
      jobParent.put(e.jobId, (p, e.time * 1000000L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobParent.get(e.jobId)).foreach { case (p, s) =>
        add(Span(ids.incrementAndGet(), p, s"job ${e.jobId}", "spark.job", s,
          e.time * 1000000L, run))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        val span = Option(stageJob.get(e.stageId))
          .flatMap(j => Option(jobParent.get(j))).map(_._1).getOrElse(0L)
        inputBySpan.computeIfAbsent(span, _ => new AtomicLong)
          .addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    private def note(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => p.endTimeMs - p.startTimeMs).sum
      val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
      planningMs.addAndGet(ms)
      planning.add((ms, start * 1000000L))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = note(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = note(qe)
  }

  /** Register the listeners and start recording spans. */
  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
    enabled = true
  }

  /** Stop recording; spans and counters so far are kept. */
  def disable(): Unit = if (enabled) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(JobListener)
    spark.listenerManager.unregister(PlanListener)
    enabled = false
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNs: Long = CodeGenerator.compileTime

  /** Run `body` as a span named `name` in `layer`, the child of the
    * innermost open span; Spark jobs it submits attach below it.
    */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      stack = id :: stack
      val c0 = compiles
      val s = now
      try body
      finally {
        val e = now
        stack = stack.tail
        sc.setLocalProperty(Key, prev)
        compilesBySpan.synchronized(compilesBySpan(id) = compiles - c0)
        add(Span(id, parent, name, layer, s, e, run))
      }
    }

  private def add(s: Span): Unit = buf.synchronized { buf += s }

  /** Every span so far, after the listener bus has delivered its events. */
  def spans: Seq[Span] = {
    PerfbenchBus.drain(sc)
    buf.synchronized(buf.toList)
  }

  /** Engine totals now (listener totals are complete up to this call). */
  def counters: EngineCounters = {
    PerfbenchBus.drain(sc)
    EngineCounters(jobs.get, tasks.get, taskRunMs.get, taskCpuNs.get,
      gcMs.get, shWrite.get, shRead.get, spill.get, compiles, compileNs,
      planningMs.get)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("run" -> s.run, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Self times and accounting over a finished span tree. */
object SpanReport {
  /** Length of the union of `[s, e)` intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part its children cover
    * (children clipped to the span's own interval).
    */
  def selfNs(s: Span, children: Seq[Span]): Long =
    s.durNs - unionNs(children.map(c =>
      (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a })

  def childrenOf(all: Seq[Span]): Map[Long, Seq[Span]] = all.groupBy(_.parent)
}
