package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

/** The round loop of every iterative DataFrame operator in `graft.ops`
  * (PageRank, label propagation, k-core peeling, duplicate clustering,
  * the Dawid–Skene and Bradley–Terry fits, MMR re-ranking, BPE and
  * unigram training).
  *
  * Every round's frame is materialized by an eager `localCheckpoint(true)`
  * before the next round reads it. That runs the round exactly once and
  * truncates its lineage, so round N analyzes and plans a checkpointed
  * leaf of the same size as round 1; without it the plan grows with every
  * round and Catalyst re-analysis, not data, dominates. The blocks of a
  * superseded round are reclaimed by the ContextCleaner once its frame is
  * unreachable.
  *
  * An exit at the cap of a run-until-settled loop logs a WARN and counts
  * one unconverged exit for its op: the result is then the operator's
  * documented approximation (a k-core superset, over-segmented clusters).
  * Rounds are launched from the calling thread, so the counter is a
  * plain atomic.
  */
object Loop {

  private val unconverged = new ConcurrentHashMap[String, AtomicLong]()
  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** `n` rounds of `step` from `init`. `step` gets the frame of the round
    * before and the 1-based round index.
    */
  def rounds(init: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((f, r) => step(f, r).localCheckpoint(true))

  /** Rounds of `step` from `init` until `settled` holds on the
    * just-checkpointed round, at most `cap` rounds. `settled` reads a
    * materialized frame, so a count or a filter there replays no lineage.
    */
  def until(op: String, init: DataFrame, cap: Int)(
      step: (DataFrame, Int) => DataFrame)(
      settled: DataFrame => Boolean): DataFrame = {
    var cur = init
    var r = 0
    var done = false
    while (!done && r < cap) {
      r += 1
      cur = step(cur, r).localCheckpoint(true)
      done = settled(cur)
    }
    if (!done) {
      unconverged.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()
      log.warn(s"graft: $op exited UNCONVERGED after $cap rounds; " +
        "result may be a superset/approximation — raise the round cap")
    }
    cur
  }

  /** Unconverged exits of `op` since JVM start (0 if never). */
  def unconvergedCount(op: String): Long =
    Option(unconverged.get(op)).map(_.get()).getOrElse(0L)
}
