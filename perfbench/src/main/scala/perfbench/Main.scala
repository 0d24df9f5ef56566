package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry point of the benchmark JVM; `run.py` launches it after the build.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE [--inputs DIR --docs N]
  *
  * It runs one workload in one process (closed loop, one client thread)
  * and writes the run record to FILE; `run.py` adds the DuckDB oracle
  * checks and prints the final line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, inputs: Option[Path], docs: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath, m.get("inputs").map(Paths.get(_).toAbsolutePath),
      m.get("docs").map(_.toLong).getOrElse(0L))
  }

  val Workloads: Map[String, Ctx => Unit] = Map(
    "hashdb_build" -> HashDbBuild.run,
    "hashdb_lookup" -> HashDbLookup.run,
    "curate_chain" -> CurateChain.run,
    "loop_queries" -> LoopQueries.run)

  /** The session `graft.Bench` uses, on this machine's cores. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val body = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    Files.createDirectories(args.work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, args.work)
    val ctx = new Ctx(spark, args, cores)
    // JVM start to a ready session is part of every run's set-up
    ctx.setup("jvm_session_s",
      (System.currentTimeMillis - java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime) / 1000.0)
    try body(ctx)
    finally {
      ctx.writeRecord()
      spark.stop()
    }
  }
}

/** State of one run: the session, the tracer, the counters of attempted
  * and failed operations, and the metrics the record reports.
  */
final class Ctx(val spark: SparkSession, val args: Main.Args, val cores: Int) {
  val tracer = new Tracer(spark, s"${args.workload}-${args.seed}")
  val work: Path = args.work
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Set-up components in seconds; `setup_s` is their sum. */
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  /** End-to-end metrics (untraced runs). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics (traced runs). */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Workload figures under the names of the metric map in README.md. */
  val detail = mutable.LinkedHashMap.empty[String, Any]
  /** Result sets for the DuckDB oracle: (query, parquet dir, oracle SQL). */
  val oracleChecks = mutable.ArrayBuffer.empty[(String, String, String)]
  val inputs = mutable.LinkedHashMap.empty[String, Any]

  def setup(name: String, seconds: Double): Unit = setupParts(name) = seconds

  /** Time `f`, `reps` times, and record the median as set-up part `name`;
    * returns the last result. Generation is deterministic, so every
    * repetition does the same work.
    */
  def setupMedian[T](name: String, reps: Int)(f: => T): T = {
    var last: T = null.asInstanceOf[T]
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      last = f
      (System.nanoTime() - t0) / 1e9
    }
    setup(name, Stats.median(ts))
    last
  }

  def setupOnce[T](name: String)(f: => T): T = setupMedian(name, 1)(f)

  /** One correctness check; a false result or an exception is a failure. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass =
      try ok
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] check $name threw: $e"); false
      }
    if (!pass) {
      failures += name
      System.err.println(s"[perfbench] check failed: $name")
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `op` until `seconds` have passed and it has run at least
    * `minOps` times; returns the wall of each call in ns. The floor keeps
    * the op count from hopping between runs when an op takes about as
    * long as the window. Every op counts as attempted; one that throws
    * counts as failed.
    */
  def loop(seconds: Double, minOps: Int)(op: Int => Unit): Vector[Op] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Vector.newBuilder[Op]
    var i = 0
    var t = System.nanoTime()
    while (i < minOps || t < deadline) {
      val t0 = System.nanoTime()
      val c0 = Ctx.processCpuNs
      attempted += 1
      try op(i)
      catch {
        case e: Exception =>
          failures += s"op $i: $e"
          System.err.println(s"[perfbench] op $i failed: $e")
      }
      t = System.nanoTime()
      out += Op(t - t0, Ctx.processCpuNs - c0)
      i += 1
    }
    out.result()
  }

  /** Retained heap after a full GC, in MB. The second GC, after Spark's
    * ContextCleaner has had time to drop blocks of collected RDDs and
    * broadcasts, makes the reading repeat.
    */
  def heapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
  }

  /** The timed phase. Untraced runs time `op` for the whole window (at
    * least `minOps` times) and report the end-to-end metrics, with
    * `itemsPerOp` items done by each op; the throughput is taken over the
    * median op, so one op disturbed by the machine or a late JIT compile
    * does not set it. Traced runs time a quarter of the window untraced,
    * half of it traced inside a `timed` phase span, and a last quarter
    * untraced again, then run `isolate` (calls that isolate one layer) in
    * an `isolate` phase span. The tracing overhead compares the traced
    * ops' median with the untraced ops' on both sides of it, so a warm-up
    * trend cancels out.
    */
  def timed(minOps: Int)(op: Int => Unit)(itemsPerOp: Double)(
      isolate: => Unit): Unit = {
    if (!args.trace) {
      val ts = loop(args.seconds, minOps)(op)
      detail("op_ms") = ts.map(_.wallNs / 1e6)
      detail("op_cpu_ms") = ts.map(_.cpuNs / 1e6)
      detail("op_ms_p50") = Stats.median(ts.map(_.wallNs / 1e6))
      detail("op_cpu_ms_p50") = Stats.median(ts.map(_.cpuNs / 1e6))
      e2e("setup_s") = setupParts.values.sum
      // read after the loop only: full GCs just before it made the first
      // timed op 10-40% slower
      e2e("peak_heap_mb") = heapMb()
      e2e("items_per_s") = itemsPerOp / (Stats.median(ts.map(_.wallNs.toDouble)) / 1e9)
    } else {
      val quarterOps = (minOps / 2).max(1)
      val before = loop(args.seconds / 4, quarterOps)(op)
      tracer.enable()
      val c0 = tracer.counters
      var traced = Vector.empty[Op]
      val n0 = System.nanoTime()
      tracer.span("timed", "phase") {
        traced = loop(args.seconds / 2, minOps)(i => op(before.size + i))
      }
      val wall = (System.nanoTime() - n0) / 1e9
      val eng = tracer.counters.minus(c0)
      tracer.disable()
      val after = loop(args.seconds / 4, quarterOps)(i => op(before.size + traced.size + i))
      val ops = traced.size.toDouble
      layers("trace.overhead_share") = Stats.median(traced.map(_.wallNs.toDouble)) /
        Stats.median((before ++ after).map(_.wallNs.toDouble)) - 1
      layers("trace.timed_ops") = ops
      layers("engine.jobs") = eng.jobs / ops
      layers("engine.tasks") = eng.tasks / ops
      layers("engine.task_run_s") = eng.taskRunMs / 1e3 / ops
      layers("engine.task_cpu_s") = eng.taskCpuNs / 1e9 / ops
      layers("engine.gc_s") = eng.gcMs / 1e3 / ops
      layers("engine.shuffle_write_bytes") = eng.shuffleWrite / ops
      layers("engine.shuffle_read_bytes") = eng.shuffleRead / ops
      layers("engine.spill_bytes") = eng.spill / ops
      layers("engine.codegen_compiles") = eng.compiles / ops
      layers("engine.codegen_compile_s") = eng.compileNs / 1e9 / ops
      layers("engine.planning_s") = eng.planningMs / 1e3 / ops
      layers("engine.outside_task_share") = 1 - eng.taskRunMs / 1e3 / (wall * cores)
      // layer self times inside the timed phase; what no layer span covers
      // is the benchmark loop's own residual
      val all = tracer.spans
      val kids = SpanReport.childrenOf(all)
      def below(id: Long): Seq[Span] =
        kids.getOrElse(id, Nil).flatMap(c => c +: below(c.id))
      val phase = all.find(s => s.layer == "phase" && s.name == "timed").get
      for ((layer, ss) <- below(phase.id).groupBy(_.layer))
        layers(s"self_ms_per_op.$layer") =
          ss.map(s => SpanReport.selfNs(s, kids.getOrElse(s.id, Nil))).sum / 1e6 / ops
      layers("trace.residual_share") =
        SpanReport.selfNs(phase, kids.getOrElse(phase.id, Nil)).toDouble / phase.durNs
      tracer.enable()
      tracer.span("isolate", "phase")(isolate)
    }
  }

  def writeRecord(): Unit = {
    val rec = Json.obj(Seq(
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace,
      "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures.toList,
      "e2e" -> e2e, "per_layer" -> layers, "detail" -> detail,
      "setup_parts" -> setupParts, "inputs" -> inputs,
      "oracle_checks" -> oracleChecks.map { case (q, p, sql) =>
        Map("query" -> q, "path" -> p, "sql" -> sql) },
      "provenance" -> Provenance(spark, cores)))
    Files.createDirectories(args.out.getParent)
    Files.write(args.out, rec.getBytes("UTF-8"))
    if (tracer.enabled)
      tracer.writeJsonl(args.out.resolveSibling(
        args.out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl"))
  }
}

/** Wall and process CPU time of one op, in ns. */
final case class Op(wallNs: Long, cpuNs: Long)

object Ctx {
  /** CPU time of every thread of this JVM; under local[n] that is the
    * driver, the tasks, GC and JIT, and not the time other processes on
    * the machine take from it.
    */
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Conditions a result record was measured under. */
object Provenance {
  def apply(spark: SparkSession, cores: Int): Map[String, Any] = {
    val confs = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.session.timeZone")
      .map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap
    Map(
      "nproc" -> cores,
      "session_confs" -> confs,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "write_policy" -> ("local filesystem through the Spark commit protocol, " +
        "no fsync; outputs are deleted between iterations; latencies are " +
        "this machine's, not a storage device's"))
  }
}
