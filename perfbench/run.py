#!/usr/bin/env python3
"""The repository benchmark: one command, four workloads, seeded inputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark from source (`sbt compile` in this directory); later runs reuse
the build. A run generates its inputs from the seed, starts one JVM
(local[nproc], one client thread, closed loop), times the workload for S
seconds, checks the outputs, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics. The full run record (inputs, set-up parts, workload
figures, provenance) and, for traced runs, the span file are kept under
.bench_build/perfbench/runs/. See README.md for the metric map.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, os.path.join(ROOT, "tools")]  # corpus, check_oracle
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170  # a run, after the build, must end within 180 s

# workload -> corpus sample (documents, replicas, embeddings, events).
# loop_queries takes the whole sf0.1 tables: its rows join documents to
# embeddings on doc_id = vec_id and events by user, links that independent
# row samples would cut.
CORPUS = {
    "curate_chain": (2500, 2, 0, 0),
    "loop_queries": (5000, 1, 2000, 100000),
}

E2E = {
    "setup_s": "s",
    "peak_heap_mb": "MB",
    "items_per_s": "1/s",
}

# The per-layer metrics every traced run prints (the `loop_queries`
# workload's per-row figures stay in its run record).
ALGOS = ["md5", "sha1", "sha256", "sha512", "keccak256", "ripemd160",
         "blake3", "hash160", "hash256"]
PER_LAYER = dict(
    [("trace.overhead_share", "ratio"), ("trace.timed_ops", "count"),
     ("trace.residual_share", "ratio")]
    + [(f"self_ms_per_op.{layer}", "ms") for layer in
       ("sources", "pipeline.build", "queries", "check", "spark.job")]
    + [("engine.jobs", "count"), ("engine.tasks", "count"),
       ("engine.task_run_s", "s"), ("engine.task_cpu_s", "s"),
       ("engine.gc_s", "s"), ("engine.shuffle_write_bytes", "bytes"),
       ("engine.shuffle_read_bytes", "bytes"), ("engine.spill_bytes", "bytes"),
       ("engine.codegen_compiles", "count"), ("engine.codegen_compile_s", "s"),
       ("engine.planning_s", "s"), ("engine.outside_task_share", "ratio")]
    + [("sources.lines", "count"), ("sources.scan_s", "s")]
    + [(f"digest.{a}.ns_per_word", "ns") for a in ALGOS]
    + [("build.expand_s", "s"), ("build.unique_ratio", "ratio"),
       ("build.run_s", "s"), ("build.sort_write_s", "s"),
       ("build.files", "count"), ("build.bytes_written", "bytes"),
       ("append.merge_s", "s"), ("append.overlap_ratio", "ratio"),
       ("footer.stamp_s", "s"), ("footer.bloom_read_ms", "ms"),
       ("lookup.files_pruned_ratio", "ratio")]
    + [(f"lookup.{c}.{m}", u) for c in ("hit", "miss", "prefix")
       for m, u in (("plan_ms", "ms"), ("exec_ms", "ms"),
                    ("jobs_per_op", "count"),
                    ("rows_examined_per_result", "ratio"))]
    + [("ops.quality_gate_s", "s"), ("ops.exact_dedup_s", "s"),
       ("ops.minhash_lsh_s", "s"), ("ops.incremental_minhash_s", "s"),
       ("curate.docs_kept_ratio", "ratio")]
    + [(f"query.{q}.{m}", u)
       for q in ("q_pipeline_curate", "q_pipeline_stream_curate")
       for m, u in (("wall_s", "s"), ("jobs", "count"), ("codegen_compiles", "count"))]
)

JAVA_OPTS = [
    "--add-opens", "java.base/java.lang=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens", "java.base/java.io=ALL-UNNAMED",
    "--add-opens", "java.base/java.net=ALL-UNNAMED",
    "--add-opens", "java.base/java.nio=ALL-UNNAMED",
    "--add-opens", "java.base/java.util=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens", "java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens", "java.base/sun.util.calendar=ALL-UNNAMED",
    "-Xmx3g", "-Dspark.ui.enabled=false",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Digest of the paths, sizes and mtimes of every build input, so a
    changed source rebuilds."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        for d, _, files in sorted(os.walk(top)) if os.path.isdir(top) else [("", [], [top])]:
            for f in sorted(files):
                st = os.stat(os.path.join(d, f))
                h.update(f"{d}/{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark once per checkout; returns the
    runtime classpath."""
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        built_stamp, _, cp = open(cp_file).read().partition("\n")
        if built_stamp == stamp:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.supershell=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    log("building program and benchmark (sbt compile)")
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines() if os.pathsep in l or l.endswith(".jar")]
    if not lines:
        fail("build printed no classpath")
    os.makedirs(STATE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    log(f"build done in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def generate_corpus(workload, seed, out):
    """Corpus tables for the query workloads, sampled three times; the
    median sampling time is a set-up part."""
    import corpus
    docs, replicas, emb, ev = CORPUS[workload]
    times = []
    for _ in range(3):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        sizes = corpus.generate(out, seed, docs, replicas, emb, ev)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), sizes


def oracle_checks(checks, inputs):
    """Compare each result set with DuckDB running the row's oracle SQL over
    the same tables, with the repository's oracle gate: columns, column
    types and order-insensitive values must agree. Returns (attempted,
    failures)."""
    if not checks:
        return 0, []
    import duckdb
    import check_oracle
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures = []
    for c in checks:
        q, got_sql = c["query"], f"SELECT * FROM read_parquet('{c['path']}/*.parquet')"
        try:
            got_cols, got = check_oracle.rows_of(con.execute(got_sql))
            want_cols, want = check_oracle.rows_of(con.execute(c["sql"]))
            got_types = check_oracle.types_of(con, got_sql)
            want_types = check_oracle.types_of(con, c["sql"])
            if got_cols != want_cols:
                failures.append(f"oracle {q}: columns {got_cols} vs {want_cols}")
            elif got_types != want_types:
                failures.append(f"oracle {q}: types {got_types} vs {want_types}")
            elif sorted(map(repr, got)) != sorted(map(repr, want)):
                failures.append(f"oracle {q}: values differ, spark {len(got)} rows, "
                                f"duckdb {len(want)} rows")
        except Exception as e:  # a failing oracle is a failed check
            failures.append(f"oracle {q}: {e}")
    return len(checks), failures


def cpu_times():
    """The machine's aggregate CPU jiffies from /proc/stat (None elsewhere)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: on a shared virtual machine the wall-clock
    metrics move with it."""
    if not before or not after or len(after) < 8:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total > 0 else None


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["hashdb_build", "hashdb_lookup", "curate_chain", "loop_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not here")
    classpath = build()
    start = time.time()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record_path = os.path.join(STATE, "runs", f"{tag}.json")
    try:
        jvm = ["java"] + JAVA_OPTS + ["-cp", classpath, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--work", work, "--out", record_path]
        gen_s, sample = 0.0, None
        if a.workload in CORPUS:
            inputs = os.path.join(work, "inputs")
            gen_s, sample = generate_corpus(a.workload, a.seed, inputs)
            jvm += ["--inputs", inputs, "--docs", str(sample["docs"])]
        left = DEADLINE_S - (time.time() - start)
        # Spark's scratch and the JVM's temporary files stay in the work dir
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "SPARK_HOME")}
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        jvm.insert(1, f"-Djava.io.tmpdir={tmp}")
        cpu0 = cpu_times()
        p = subprocess.run(jvm, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, timeout=max(left, 1))
        cpu1 = cpu_times()
        if p.returncode != 0:
            fail(f"benchmark JVM exited with {p.returncode}")
        rec = json.load(open(record_path))
        attempted, failures = oracle_checks(rec["oracle_checks"],
                                            os.path.join(work, "inputs"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["setup_parts"]["generate_corpus_s"] = gen_s
    rec["e2e"]["setup_s"] = rec["e2e"].get("setup_s", 0.0) + gen_s
    if sample:
        rec["inputs"].update(sample)
    rec["attempted"] += attempted
    rec["failures"] += failures
    rec["failed"] = len(rec["failures"])
    rec["provenance"]["git_commit"] = git_commit()
    rec["provenance"]["cpu_steal_share"] = steal_share(cpu0, cpu1)
    if a.trace:
        rec["not_on_path"] = [k for k in PER_LAYER if k not in rec["per_layer"]]
        metrics = {k: {"value": rec["per_layer"].get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": rec["e2e"][k], "unit": u} for k, u in E2E.items()}
    with open(record_path, "w") as f:
        json.dump(rec, f, indent=1)
    for msg in rec["failures"]:
        log(f"FAILED: {msg}")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "inputs": rec["inputs"],
                      "setup_parts": rec["setup_parts"], "detail": rec["detail"],
                      "cpu_steal_share": rec["provenance"]["cpu_steal_share"],
                      "record": os.path.relpath(record_path, ROOT)}))
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
