package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Parity gate for the committed per-query baseline table
  * (`BASELINE_QUERIES.json`, generated by [[graft.tools.BaselineGen]]
  * and read by [[graft.Bench]]'s baseline-aware quiet-retry): every
  * registered query must have a baseline row and the table must carry
  * no orphans — otherwise a new query silently runs without noise
  * adjudication, or a renamed one keeps a stale row forever.
  */
class BaselineSpec extends AnyFunSuite {

  private val path = java.nio.file.Paths.get(graft.tools.BaselineGen.Path)

  test("every registered query has a baseline row, and no orphans") {
    assume(java.nio.file.Files.exists(path),
      s"$path present (generate with `runMain graft.tools.BaselineGen`)")
    val rows = graft.tools.BaselineGen.read(path.toString)
    val registered = Registry.all.keySet
    val missing = registered -- rows.keySet
    val orphans = rows.keySet -- registered
    assert(missing.isEmpty,
      s"registered queries without a baseline row (regenerate): $missing")
    assert(orphans.isEmpty,
      s"baseline rows for unregistered queries (regenerate): $orphans")
    assert(rows.values.forall(v => v > 0.0 && v.isFinite),
      "baseline seconds must be positive and finite")
  }

  test("baseline table records its measurement core count (the bench " +
      "arms baseline retries only at that count)") {
    assume(java.nio.file.Files.exists(path))
    // the driver's lower-core scaling run must NOT compare against
    // 32-core baselines — Bench skips loading the table on a mismatch
    assert(graft.tools.BaselineGen.cpusOf(path.toString).contains(32),
      "BASELINE_QUERIES.json must carry _meta.cpus = 32 " +
        "(regenerate with SPARK_GRAFT_CPUS=32, or unset on a 32-core box)")
  }
}
