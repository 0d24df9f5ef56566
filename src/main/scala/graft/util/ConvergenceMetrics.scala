package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Observed-metric registry for iterative DataFrame loops (label
  * propagation, k-core peeling, EM trainers): a loop that exits at its
  * round cap WITHOUT having reached a fixed point records the event here
  * and logs a warning, so an unconverged result is a visible fact rather
  * than a silent superset/approximation. Driver-side only (the loops run
  * on the driver; rounds are Spark jobs), so plain atomics suffice —
  * no accumulator plumbing needed.
  */
object ConvergenceMetrics {

  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** Record an unconverged exit of loop `op` after `rounds` rounds. */
  def unconvergedExit(op: String, rounds: Int, detail: String = ""): Unit = {
    counters.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()
    log.warn(s"graft: $op exited UNCONVERGED after $rounds rounds" +
      (if (detail.nonEmpty) s" ($detail)" else "") +
      "; result may be a superset/approximation — raise the round cap")
  }

  /** Unconverged-exit count for `op` since JVM start (0 if never). */
  def unconvergedCount(op: String): Long =
    Option(counters.get(op)).map(_.get()).getOrElse(0L)

  /** Test hook: reset one counter. */
  def reset(op: String): Unit = counters.remove(op)
}
