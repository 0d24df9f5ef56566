package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Event-stream semantics exercised as batch queries over `events` (the
  * batch plans are exactly what Structured Streaming would run per
  * micro-batch; the streaming wiring itself lives in graft.streaming and
  * its spec). Timestamps are nanos in parquet — read as long + truncated
  * to micros (Tables.events); all oracle outputs format time as strings so
  * ns-vs-µs physical types can't skew the compare.
  */
object EventQueries extends QueryGroup {

  /** The 5-NN co-purchase item-similarity graph both graph-analytics
    * queries build on: co-occurrence scores → per-node top-5 by
    * (cos2_bp desc, neighbor) → directed edge list (u, v).
    */
  private def copurchaseKnn(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val inter = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)
    val sim = graft.ops.CoOccurrence.itemSimilarity(inter,
      "user_id", "item", minSupport = 2L, maxItemsPerUser = 64)
    val sym = sim.select(col("i").as("n"), col("j").as("m"), col("cos2_bp"))
      .unionByName(sim.select(col("j").as("n"), col("i").as("m"),
        col("cos2_bp")))
    val w = Window.partitionBy("n").orderBy(desc("cos2_bp"), col("m"))
    sym.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= 5)
      .select(col("n").as("u"), col("m").as("v"))
  }

  /** DuckDB CTEs for [[copurchaseKnn]], ending in `knn(n, m)`. */
  private val knnEdgeSql: String =
    """ui AS (
      |  SELECT DISTINCT user_id AS u,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS it
      |  FROM events
      |  WHERE event_type = 'purchase'
      |    AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
      |        IS NOT NULL),
      |elig AS (SELECT u FROM ui GROUP BY u HAVING count(*) <= 64),
      |kept AS (SELECT ui.* FROM ui JOIN elig USING (u)),
      |ic AS (SELECT it, count(*) AS c FROM kept GROUP BY 1),
      |prs AS (
      |  SELECT a.it AS i, b.it AS j, count(*) AS c_ij
      |  FROM kept a JOIN kept b ON a.u = b.u AND a.it < b.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |scq AS (
      |  SELECT i, j, c_ij * c_ij * 10000 // (ci.c * cj.c) AS cos2_bp
      |  FROM prs JOIN ic ci ON ci.it = prs.i
      |           JOIN ic cj ON cj.it = prs.j),
      |symq AS (
      |  SELECT i AS n, j AS m, cos2_bp FROM scq
      |  UNION ALL SELECT j, i, cos2_bp FROM scq),
      |knn AS (
      |  SELECT n, m FROM (
      |    SELECT n, m, row_number() OVER (PARTITION BY n
      |        ORDER BY cos2_bp DESC, m) AS rn
      |    FROM symq) WHERE rn <= 5)""".stripMargin

  /** `rounds` k-core peel rounds from `e0` — each MATERIALIZED (plain
    * DuckDB CTEs inline at every reference; six chained self-referential
    * rounds would re-evaluate the whole prefix exponentially).
    */
  private def kcoreRoundsSql(k: Int, rounds: Int): String =
    (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT n, count(*) AS d FROM (
         |    SELECT a AS n FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
         |  GROUP BY 1),
         |k$r AS MATERIALIZED (SELECT n FROM d$r WHERE d >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${r - 1} e
         |  JOIN k$r ka ON ka.n = e.a
         |  JOIN k$r kb ON kb.n = e.b)""".stripMargin
    }.mkString(",\n")

  /** `rounds` label-propagation rounds from `nb`/`l0` (MATERIALIZED for
    * the same inlining reason).
    */
  private def lpaRoundsSql(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT n, lbl FROM (
         |    SELECT bo.n, l.lbl,
         |      row_number() OVER (PARTITION BY bo.n
         |          ORDER BY count(*) DESC, l.lbl) AS rn
         |    FROM nb bo JOIN l${r - 1} l ON l.n = bo.m
         |    GROUP BY bo.n, l.lbl) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  val defs: Map[String, QueryDef] = Map(

    // Tumbling 1-hour windows per event type (windowed aggregation).
    "q_events_hourly_window" -> QueryDef(
      (s, d) =>
        Tables.events(s, d)
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
            col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("hour", "event_type")
          .limit(2000),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
             |  event_type,
             |  count(*) AS n_events,
             |  round(sum(value), 2) AS sum_value,
             |  count(DISTINCT user_id) AS n_users
             |FROM events
             |GROUP BY 1, 2 ORDER BY hour, event_type LIMIT 2000""".stripMargin)
    ),

    // Custom-state sessionization through flatMapGroupsWithState (the
    // typed GroupState path — batch mode of graft.streaming.Sessionize):
    // one row per (user, session) with µs bounds and event count, oracled
    // against DuckDB's window-function formulation. The per-session float
    // sum is deliberately NOT in the compared projection (per-engine
    // summation order); SessionizeSpec pins it.
    "q_events_flatmap_sessions" -> QueryDef(
      (s, d) =>
        graft.streaming.Sessionize
          .batchSessions(Tables.events(s, d), 1800L * 1000000L)
          .toDF()
          .filter(col("user_id") < 200)
          .select("user_id", "session_start_us", "session_end_us", "n_events")
          .orderBy("user_id", "session_start_us"),
      Some("""WITH flagged AS (
             |  SELECT user_id, event_id, ts, epoch_ns(ts) // 1000 AS ts_us,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             |    THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT *, sum(brk) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flagged)
             |SELECT user_id,
             |  min(ts_us) AS session_start_us,
             |  max(ts_us) AS session_end_us,
             |  CAST(count(*) AS BIGINT) AS n_events
             |FROM sess WHERE user_id < 200
             |GROUP BY user_id, sid
             |ORDER BY user_id, session_start_us""".stripMargin)
    ),

    // Sliding sessionization: a >30-minute gap starts a new session
    // (lag window function + running conditional sum).
    "q_events_sessions" -> QueryDef(
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        Tables.events(s, d)
          .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ns").isNull ||
              col("ts_ns") - col("prev_ns") > 1800L * 1000000000L, 1).otherwise(0))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum("new_session").as("n_sessions"))
          .filter(col("user_id") < 300)
          .orderBy("user_id")
      },
      Some("""WITH flagged AS (
             |  SELECT user_id,
             |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |           IS NULL
             |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |           > INTERVAL 30 MINUTE
             |    THEN 1 ELSE 0 END AS new_session
             |  FROM events)
             |SELECT user_id, count(*) AS n_events,
             |  CAST(sum(new_session) AS BIGINT) AS n_sessions
             |FROM flagged WHERE user_id < 300
             |GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),

    // Stateful-dedup analog: first event per (user, type, minute) kept.
    "q_events_dedup" -> QueryDef(
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("user_id"), col("event_type"),
            date_format(date_trunc("minute", col("ts")), "yyyy-MM-dd HH:mm").as("minute"))
          .agg(min("event_id").as("first_event"), count(lit(1)).as("n_in_bucket"))
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("n_in_bucket") - 1).as("n_dropped")),
      Some("""WITH buckets AS (
             |  SELECT user_id, event_type,
             |    strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute,
             |    min(event_id) AS first_event, count(*) AS n_in_bucket
             |  FROM events GROUP BY 1, 2, 3)
             |SELECT count(*) AS n_kept,
             |  CAST(sum(n_in_bucket - 1) AS BIGINT) AS n_dropped
             |FROM buckets""".stripMargin)
    ),

    // Event-type transition matrix (Markov flow analysis): per-user
    // consecutive event pairs fold into (prev_type, type) counts plus
    // row-normalized probabilities in exact integer bp — one lag window
    // per user, one small groupBy; the transitions table is
    // |types|²-bounded at any event volume.
    "q_events_transitions" -> QueryDef(
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        Tables.events(s, d)
          .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
          .filter(col("prev_type").isNotNull)
          .groupBy("prev_type", "event_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("row_total",
            sum("n").over(Window.partitionBy("prev_type")))
          .withColumn("p_bp", expr("(10000 * n) div row_total").cast("long"))
          .select("prev_type", "event_type", "n", "row_total", "p_bp")
          .orderBy("prev_type", "event_type")
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |t AS (
             |  SELECT prev_type, event_type, count(*) AS n
             |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
             |w AS (
             |  SELECT *, CAST(sum(n) OVER (PARTITION BY prev_type)
             |    AS BIGINT) AS row_total
             |  FROM t)
             |SELECT prev_type, event_type, n, row_total,
             |  CAST((10000 * n) // row_total AS BIGINT) AS p_bp
             |FROM w ORDER BY prev_type, event_type""".stripMargin)
    ),

    // Interval-OVERLAP join (the third non-native join shape, after
    // as-of and point-in-range): per-user view-sessions × click-sessions
    // that overlap in time (24 h activity-interval gap — the fixture's
    // per-user event cadence is daily-scale, so 30-min web sessions are
    // all single points and can never overlap; activity intervals do).
    // Intervals replicate into 1-day buckets,
    // equi-join on (user, bucket), residual overlap predicate, and the
    // first-common-bucket rule dedups multi-bucket pairs without a
    // distinct. The oracle replays sessionization and runs the naive
    // theta join — agreement proves the bucketed plan emits exactly the
    // overlap set, once per pair.
    "q_events_interval_overlap" -> QueryDef(
      (s, d) => {
        val byKey = Window.partitionBy("user_id", "event_type")
          .orderBy("ts_ns", "event_id")
        val sess = Tables.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .withColumn("prev", lag(col("ts_ns"), 1).over(byKey))
          .withColumn("brk",
            when(col("prev").isNull ||
              col("ts_ns") - col("prev") > 86400L * 1000000000L, 1L)
              .otherwise(0L))
          .withColumn("sid", sum("brk").over(byKey.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "event_type", "sid")
          .agg(min("ts_ns").as("lo"), max("ts_ns").as("hi"))
        val views = sess.filter(col("event_type") === "view")
          .select(col("user_id"), col("lo").as("v_lo"), col("hi").as("v_hi"))
        val clicks = sess.filter(col("event_type") === "click")
          .select(col("user_id"), col("lo").as("c_lo"), col("hi").as("c_hi"))
        graft.ops.RangeJoin.overlapJoin(views, clicks, "user_id",
            "v_lo", "v_hi", "c_lo", "c_hi", 86400L * 1000000000L)
          .orderBy("user_id", "v_lo", "c_lo")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS ts_ns
             |  FROM events WHERE event_type IN ('view', 'click')),
             |flagged AS (
             |  SELECT *, CASE WHEN lag(ts_ns) OVER w IS NULL
             |      OR ts_ns - lag(ts_ns) OVER w > 86400000000000
             |      THEN 1 ELSE 0 END AS brk
             |  FROM ev
             |  WINDOW w AS (PARTITION BY user_id, event_type
             |               ORDER BY ts_ns, event_id)),
             |runs AS (
             |  SELECT *, sum(brk) OVER
             |    (PARTITION BY user_id, event_type ORDER BY ts_ns, event_id
     |     ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flagged),
             |sess AS (
             |  SELECT user_id, event_type, sid,
             |    min(ts_ns) AS lo, max(ts_ns) AS hi
             |  FROM runs GROUP BY 1, 2, 3),
             |v AS (SELECT user_id, lo AS v_lo, hi AS v_hi FROM sess
             |      WHERE event_type = 'view'),
             |c AS (SELECT user_id, lo AS c_lo, hi AS c_hi FROM sess
             |      WHERE event_type = 'click')
             |SELECT v.user_id, v_lo, v_hi, c_lo, c_hi
             |FROM v JOIN c ON v.user_id = c.user_id
             |  AND v_lo <= c_hi AND c_lo <= v_hi
             |ORDER BY v.user_id, v_lo, c_lo""".stripMargin)
    ),

    // CUSUM change-point detection over per-type hourly volumes — the
    // drift/burst monitor in Page's one-sided form, computed as two
    // cumulative windows per key (closed form: s = P - min(0, run-min P);
    // the textbook recursion isn't windowable, this is). Reference level
    // and slack derive from each type's own mean hourly rate in exact
    // BIGINT division, so both engines replay every alarm bit-for-bit.
    "q_events_cusum" -> QueryDef(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"),
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00")
              .as("hour"))
          .agg(count(lit(1)).as("n"))
        val refs = hourly.groupBy("event_type")
          .agg(expr("sum(n) div count(*)").as("ref"))
        val joined = hourly.join(broadcast(refs), "event_type")
        graft.ops.TimeSeries.cusum(joined, Seq("event_type"), "hour", "n",
            col("ref"), expr("ref div 4"), col("ref") * 3)
          .select("event_type", "hour", "n", "drift", "cusum", "alarm")
          .orderBy("event_type", "hour")
      },
      Some("""WITH hourly AS (
             |  SELECT event_type,
             |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |refs AS (
             |  SELECT event_type,
             |    CAST(sum(n) // count(*) AS BIGINT) AS ref
             |  FROM hourly GROUP BY 1),
             |d AS (
             |  SELECT h.event_type, h.hour, h.n, r.ref,
             |    h.n - r.ref - (r.ref // 4) AS drift
             |  FROM hourly h JOIN refs r USING (event_type)),
             |p AS (
             |  SELECT *, CAST(sum(drift) OVER w AS BIGINT) AS pp FROM d
             |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
             |               ROWS UNBOUNDED PRECEDING)),
             |c AS (
             |  SELECT event_type, hour, n, drift, ref,
             |    pp - least(0, min(pp) OVER w) AS cusum
             |  FROM p
             |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
             |               ROWS UNBOUNDED PRECEDING))
             |SELECT event_type, hour, n, drift, cusum,
             |  (cusum >= 3 * ref) AS alarm
             |FROM c ORDER BY event_type, hour""".stripMargin)
    ),

    // Item-item co-occurrence similarity (neighborhood collaborative
    // filtering): distinct (user, item) purchases → within-user pairs →
    // exact squared-cosine in basis points (squaring instead of rooting
    // keeps the score integer and rank-equivalent to cosine). Power
    // users above the degree cap are dropped whole — the standard CF
    // guard, exercised here (a few users exceed 64 distinct items).
    "q_events_item_cooccurrence" -> QueryDef(
      (s, d) => {
        val inter = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .filter(col("item").isNotNull)
        graft.ops.CoOccurrence.itemSimilarity(inter, "user_id", "item",
            minSupport = 2L, maxItemsPerUser = 64)
          .orderBy("i", "j")
      },
      Some("""WITH ui AS (
             |  SELECT DISTINCT user_id AS u,
             |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS it
             |  FROM events
             |  WHERE event_type = 'purchase'
             |    AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
             |        IS NOT NULL),
             |elig AS (
             |  SELECT u FROM ui GROUP BY u HAVING count(*) <= 64),
             |kept AS (SELECT ui.* FROM ui JOIN elig USING (u)),
             |ic AS (SELECT it, count(*) AS c FROM kept GROUP BY 1),
             |pairs AS (
             |  SELECT a.it AS i, b.it AS j, count(*) AS c_ij
             |  FROM kept a JOIN kept b ON a.u = b.u AND a.it < b.it
             |  GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT i, j, ci.c AS c_i, cj.c AS c_j, c_ij,
             |  c_ij * c_ij * 10000 // (ci.c * cj.c) AS cos2_bp
             |FROM pairs
             |JOIN ic ci ON ci.it = pairs.i
             |JOIN ic cj ON cj.it = pairs.j
             |ORDER BY i, j""".stripMargin)
    ),

    // Seasonal anomaly flags: hourly volumes per type compared against
    // that (type, hour-of-week) slot's historical MEDIAN — the
    // calendar-aware baseline a flat threshold lacks (Monday 9am is
    // not Sunday 3am). Exact continuous median floored to integer;
    // flags at ≥2.5× (integer cross-multiplication, no doubles) or
    // ≤0.25×. Hour-of-week from pure epoch arithmetic, no calendar lib.
    "q_events_seasonal_anomaly" -> QueryDef(
      (s, d) => {
        val vols = Tables.events(s, d)
          .select(col("event_type"),
            expr("ts_ns div 86400000000000").as("day"),
            expr("(ts_ns div 3600000000000) % 24").as("hour"))
          .groupBy("event_type", "day", "hour")
          .agg(count(lit(1)).as("n"))
          .withColumn("how", expr("(day % 7) * 24 + hour"))
        val base = vols.groupBy("event_type", "how")
          .agg(floor(expr("percentile(n, 0.5)")).cast("long").as("med"),
            count(lit(1)).as("n_obs"))
        vols.join(base, Seq("event_type", "how"))
          .withColumn("flag",
            when(col("n") * 10 >= col("med") * 25, lit("high"))
              .when(col("n") * 4 <= col("med"), lit("low")))
          .filter(col("flag").isNotNull)
          .select("event_type", "day", "hour", "n", "med", "n_obs", "flag")
          .orderBy("event_type", "day", "hour")
      },
      Some("""WITH vols AS (
             |  SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day,
             |    (epoch_ns(ts) // 3600000000000) % 24 AS hour,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2, 3),
             |v2 AS (SELECT *, (day % 7) * 24 + hour AS how FROM vols),
             |base AS (
             |  SELECT event_type, how,
             |    CAST(floor(quantile_cont(n, 0.5)) AS BIGINT) AS med,
             |    CAST(count(*) AS BIGINT) AS n_obs
             |  FROM v2 GROUP BY 1, 2)
             |SELECT v.event_type, v.day, v.hour, v.n, b.med, b.n_obs,
             |  CASE WHEN v.n * 10 >= b.med * 25 THEN 'high'
             |       WHEN v.n * 4 <= b.med THEN 'low' END AS flag
             |FROM v2 v JOIN base b USING (event_type, how)
             |WHERE v.n * 10 >= b.med * 25 OR v.n * 4 <= b.med
             |ORDER BY v.event_type, v.day, v.hour""".stripMargin)
    ),

    // k-core spam-ring isolation: the 5-NN item-similarity graph (a
    // regular, organically-thin structure) + a planted 8-clique of
    // synthetic items (the coordinated ring: every member co-occurs
    // with every other). Peeling at k=7 cascades the ENTIRE natural
    // graph away — no organic node sustains degree 7 among degree-7
    // survivors — and leaves exactly the ring, at every SF. The Spark
    // side peels to its fixed point; the oracle replays the similarity
    // graph, the kNN selection, the planted clique, and 16 peel rounds —
    // peeling is idempotent once converged, so a fixed replay count ≥
    // the convergence round (≤6 observed at every SF) is exact.
    "q_events_kcore_ring" -> QueryDef(
      (s, d) => {
        val ring = {
          import s.implicits._
          (0 until 8).flatMap(i => (i + 1 until 8).map(j =>
            (900L + i, 900L + j))).toDF("u", "v")
        }
        graft.ops.Graph.kCore(
            copurchaseKnn(s, d).unionByName(ring), k = 7)
          .orderBy("n")
      },
      Some(s"""WITH $knnEdgeSql,
             |ring AS (
             |  SELECT 900 + x.i AS n, 900 + y.j AS m
             |  FROM unnest(generate_series(0, 7)) x(i),
             |       unnest(generate_series(0, 7)) y(j)
             |  WHERE x.i < y.j),
             |e0 AS MATERIALIZED (
             |  SELECT DISTINCT least(n, m) AS a, greatest(n, m) AS b
             |  FROM (SELECT n, m FROM knn UNION ALL SELECT n, m FROM ring)),
             |${kcoreRoundsSql(7, 16)}
             |SELECT n, CAST(count(*) AS BIGINT) AS core_degree
             |FROM (SELECT a AS n FROM e16 UNION ALL SELECT b FROM e16)
             |GROUP BY n ORDER BY n""".stripMargin)
    ),

    // Community detection on the 5-NN item-similarity graph by
    // deterministic synchronous label propagation (Raghavan et al.
    // 2007): 4 rounds, most-frequent neighbor label, ties to the
    // smallest — dense local structure separates clusters that mere
    // connectivity (connected components) cannot. The oracle replays
    // the graph build and all 4 rounds.
    "q_events_communities" -> QueryDef(
      (s, d) =>
        graft.ops.Graph.labelPropagation(copurchaseKnn(s, d), rounds = 4)
          .orderBy("node"),
      Some(s"""WITH $knnEdgeSql,
             |e0 AS MATERIALIZED (
             |  SELECT DISTINCT least(n, m) AS a, greatest(n, m) AS b
             |  FROM knn),
             |nb AS MATERIALIZED (
             |  SELECT a AS n, b AS m FROM e0
             |  UNION ALL SELECT b, a FROM e0),
             |l0 AS MATERIALIZED (SELECT DISTINCT n, n AS lbl FROM nb),
             |${lpaRoundsSql(4)}
             |SELECT n AS node, lbl AS community FROM l4
             |ORDER BY node""".stripMargin)
    ),

    // Position-based (U-shaped) multi-touch attribution: each user's
    // first purchase distributes exactly 10000 bp of credit over the
    // touches before it — 40/40 to first and last, the middle 2000
    // split by integer division with the remainder pinned to the
    // first middle touch (so every conversion's credit sums to
    // exactly 10000 — an auditable invariant float attribution
    // models lack). Two per-user windows, one groupBy; channel =
    // event_type.
    "q_events_attribution" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
        val conv = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(min(struct(col("ts_ns"), col("event_id"))).as("_c"))
          .select(col("user_id"), col("_c.ts_ns").as("_cts"),
            col("_c.event_id").as("_cid"))
        val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        val touches = ev.filter(col("event_type") =!= "purchase")
          .join(conv, "user_id")
          .filter(col("ts_ns") < col("_cts") ||
            (col("ts_ns") === col("_cts") && col("event_id") < col("_cid")))
          .withColumn("r", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy("user_id")))
        val credited = touches.withColumn("credit_bp",
          when(col("n") === 1, lit(10000L))
            .when(col("n") === 2, lit(5000L))
            .when(col("r") === 1, lit(4000L))
            .when(col("r") === col("n"), lit(4000L))
            .otherwise(expr("2000 div (n - 2) + " +
              "if(r = 2, 2000 - (n - 2) * (2000 div (n - 2)), 0)")))
        credited.groupBy("event_type")
          .agg(count(lit(1)).as("n_touches"),
            countDistinct("user_id").as("n_users"),
            sum("credit_bp").as("credit_bp_total"))
          .orderBy("event_type")
      },
      Some("""WITH conv AS (
             |  SELECT user_id, cts, cid FROM (
             |    SELECT user_id, epoch_ns(ts) AS cts, event_id AS cid,
             |      row_number() OVER (PARTITION BY user_id
             |                         ORDER BY epoch_ns(ts), event_id)
             |        AS rn
             |    FROM events WHERE event_type = 'purchase')
             |  WHERE rn = 1),
             |touches AS (
             |  SELECT e.user_id, e.event_type,
             |    row_number() OVER (PARTITION BY e.user_id
             |                       ORDER BY epoch_ns(e.ts), e.event_id)
             |      AS r,
             |    count(*) OVER (PARTITION BY e.user_id) AS n
             |  FROM events e JOIN conv c USING (user_id)
             |  WHERE e.event_type <> 'purchase'
             |    AND (epoch_ns(e.ts) < c.cts
             |         OR (epoch_ns(e.ts) = c.cts AND e.event_id < c.cid))),
             |cr AS (
             |  SELECT event_type, user_id,
             |    CASE WHEN n = 1 THEN 10000
             |         WHEN n = 2 THEN 5000
             |         WHEN r = 1 THEN 4000
             |         WHEN r = n THEN 4000
             |         ELSE 2000 // (n - 2)
             |              + CASE WHEN r = 2
             |                     THEN 2000 - (n - 2) * (2000 // (n - 2))
             |                     ELSE 0 END
             |    END AS credit_bp
             |  FROM touches)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  CAST(sum(credit_bp) AS BIGINT) AS credit_bp_total
             |FROM cr GROUP BY 1 ORDER BY event_type""".stripMargin)
    ),

    // Per-type volume trend line: daily counts → closed-form OLS on
    // exact BIGINT sums (slope/intercept in micro-units, r² in basis
    // points, divide-early so nothing squares out of BIGINT). One
    // aggregation per series; both engines replay the divisions
    // bit-for-bit.
    "q_events_trend" -> QueryDef(
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(col("event_type"),
            expr("ts_ns div 86400000000000").as("x"))
          .groupBy("event_type", "x").agg(count(lit(1)).as("y"))
        graft.ops.TimeSeries.trend(daily, "event_type", "x", "y")
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS x,
             |    CAST(count(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2),
             |a AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx,
             |    CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM daily GROUP BY 1),
             |b AS (
             |  SELECT event_type, n, n * sxy - sx * sy AS num,
             |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
             |    sx, sy
             |  FROM a)
             |SELECT event_type, n,
             |  CASE WHEN dx > 0 THEN num * 1000000 // dx END AS slope_micro,
             |  CASE WHEN dx > 0
             |       THEN (sy * 1000000 - (num * 1000000 // dx) * sx) // n
             |       END AS intercept_micro,
             |  CASE WHEN dx > 0 AND dy > 0
             |       THEN (num * 10000 // dx) * num // dy END AS r2_bp
             |FROM b ORDER BY event_type""".stripMargin)
    ),

    // Frequent 3-itemsets over purchase baskets by A-Priori pruning
    // (Agrawal & Srikant 1994): L1-restricted baskets → frequent pairs
    // → F₂⋈F₂ prefix-join candidates pruned by the (b,c)-frequent rule
    // → one exact counting pass, all at RELATIVE support 2% of baskets
    // (floor 3) so the lattice stays sparse at every SF. A planted
    // cohort itemset (every 7th purchaser also "buys" items
    // 1001-1003) is the association the miner must — and does —
    // surface at all three SFs. The oracle replays the planting, every
    // lattice level, and the final supports.
    "q_events_itemsets3" -> QueryDef(
      (s, d) => {
        val nat = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .filter(col("item").isNotNull)
        val planted = nat.select("user_id").distinct()
          .filter(pmod(col("user_id"), lit(7)) === 0)
          .select(col("user_id"),
            explode(array(lit(1001L), lit(1002L), lit(1003L))).as("item"))
        graft.ops.CoOccurrence.frequentTriples(
            nat.unionByName(planted), "user_id", "item",
            minSupport = 3L, maxItemsPerUser = 64, relPerMille = 20L)
          .orderBy("a", "b", "c")
      },
      Some("""WITH nat AS (
             |  SELECT DISTINCT user_id AS u,
             |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS it
             |  FROM events
             |  WHERE event_type = 'purchase'
             |    AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
             |        IS NOT NULL),
             |pl AS (
             |  SELECT u, 1000 + g.i AS it
             |  FROM (SELECT DISTINCT u FROM nat WHERE u % 7 = 0),
             |       unnest(generate_series(1, 3)) AS g(i)),
             |ui AS (SELECT * FROM nat UNION SELECT * FROM pl),
             |elig AS (
             |  SELECT u FROM ui GROUP BY u HAVING count(*) <= 64),
             |b0 AS (SELECT ui.* FROM ui JOIN elig USING (u)),
             |thr AS (
             |  SELECT greatest(3, count(DISTINCT u) * 20 // 1000) AS t
             |  FROM b0),
             |l1 AS (
             |  SELECT it FROM b0 GROUP BY it
             |  HAVING count(*) >= (SELECT t FROM thr)),
             |kept AS (SELECT b0.* FROM b0 JOIN l1 USING (it)),
             |l2 AS (
             |  SELECT a.it AS i, b.it AS j
             |  FROM kept a JOIN kept b ON a.u = b.u AND a.it < b.it
             |  GROUP BY 1, 2 HAVING count(*) >= (SELECT t FROM thr)),
             |cand AS (
             |  SELECT x.i AS a, x.j AS b, y.j AS c
             |  FROM l2 x JOIN l2 y ON x.i = y.i AND x.j < y.j
             |  JOIN l2 z ON z.i = x.j AND z.j = y.j),
             |sup AS (
             |  SELECT t.a, t.b, t.c, CAST(count(*) AS BIGINT) AS c_abc
             |  FROM cand t
             |  JOIN kept ka ON ka.it = t.a
             |  JOIN kept kb ON kb.it = t.b AND kb.u = ka.u
             |  JOIN kept kc ON kc.it = t.c AND kc.u = ka.u
             |  GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT t FROM thr))
             |SELECT a, b, c, c_abc FROM sup ORDER BY a, b, c""".stripMargin)
    ),

    // Sequential pattern mining, n-gram support form: per-user
    // event-time-ordered journeys → sliding event-type trigrams (two
    // LEADs over the per-user window — no explode, no self-join) →
    // per-pattern total occurrences and DISTINCT-user support. The
    // pattern table is alphabet-bounded (≤ |event_types|³ rows however
    // big the corpus), so the support ranking is a tiny-table sort; the
    // corpus pass shards by user_id like every journey query here. The
    // deeper-pattern generalization is PrefixSpan's candidate growth —
    // this fixed-k form is the scale-stable report a pipeline publishes.
    "q_events_journey_patterns" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        val grams = Tables.events(s, d)
          .select(col("user_id"), col("ts_ns"), col("event_id"),
            col("event_type"))
          .withColumn("_t2", lead("event_type", 1).over(w))
          .withColumn("_t3", lead("event_type", 2).over(w))
          .filter(col("_t2").isNotNull && col("_t3").isNotNull)
          .select(col("user_id"),
            concat_ws(">", col("event_type"), col("_t2"), col("_t3"))
              .as("pattern"))
        val sup = grams.groupBy("pattern")
          .agg(count(lit(1)).as("n_occ"),
            countDistinct("user_id").as("n_users"))
          .filter(col("n_users") >= 5)
        val rw = Window.orderBy(desc("n_occ"), col("pattern"))
        sup.withColumn("rank", row_number().over(rw))
          .filter(col("rank") <= 20)
          .orderBy("rank")
      },
      Some("""WITH s AS (
             |  SELECT user_id, event_type,
             |    lead(event_type, 1) OVER w AS t2,
             |    lead(event_type, 2) OVER w AS t3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id
             |               ORDER BY epoch_ns(ts), event_id)),
             |p AS (
             |  SELECT user_id, event_type || '>' || t2 || '>' || t3 AS pattern
             |  FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL),
             |a AS (
             |  SELECT pattern, CAST(count(*) AS BIGINT) AS n_occ,
             |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |  FROM p GROUP BY 1 HAVING count(DISTINCT user_id) >= 5),
             |r AS (
             |  SELECT pattern, n_occ, n_users,
             |    CAST(row_number() OVER (ORDER BY n_occ DESC, pattern)
             |      AS INTEGER) AS rank
             |  FROM a)
             |SELECT * FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin)
    ),

    // Triangle counting + local clustering coefficient over the
    // co-purchase item graph (edges = the co-occurrence pair table) via
    // degree-ordered orientation (Suri & Vassilvitskii 2011) — every
    // triangle found once, hub fan-out bounded by the orientation, all
    // equi-joins. The oracle replays the pair construction, the
    // orientation, the wedge closure, and the integer coefficients.
    "q_events_copurchase_triangles" -> QueryDef(
      (s, d) => {
        val inter = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .filter(col("item").isNotNull)
        val edges = graft.ops.CoOccurrence.itemSimilarity(inter,
            "user_id", "item", minSupport = 2L, maxItemsPerUser = 64)
          .select(col("i").as("u"), col("j").as("v"))
        graft.ops.Graph.triangles(edges).orderBy("node")
      },
      Some("""WITH ui AS (
             |  SELECT DISTINCT user_id AS u,
             |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS it
             |  FROM events
             |  WHERE event_type = 'purchase'
             |    AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
             |        IS NOT NULL),
             |elig AS (
             |  SELECT u FROM ui GROUP BY u HAVING count(*) <= 64),
             |kept AS (SELECT ui.* FROM ui JOIN elig USING (u)),
             |e AS (
             |  SELECT a.it AS ea, b.it AS eb
             |  FROM kept a JOIN kept b ON a.u = b.u AND a.it < b.it
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS (
             |  SELECT n, count(*) AS d FROM (
             |    SELECT ea AS n FROM e UNION ALL SELECT eb FROM e)
             |  GROUP BY 1),
             |o AS (
             |  SELECT
             |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.ea < e.eb)
             |         THEN e.ea ELSE e.eb END AS lo,
             |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.ea < e.eb)
             |         THEN e.eb ELSE e.ea END AS hi,
             |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.ea < e.eb)
             |         THEN db.d ELSE da.d END AS hd
             |  FROM e
             |  JOIN deg da ON da.n = e.ea
             |  JOIN deg db ON db.n = e.eb),
             |tri AS (
             |  SELECT w1.lo AS ta, w1.hi AS tb, w2.hi AS tc
             |  FROM o w1
             |  JOIN o w2 ON w1.lo = w2.lo
             |    AND (w1.hd < w2.hd OR (w1.hd = w2.hd AND w1.hi < w2.hi))
             |  JOIN o e3 ON e3.lo = w1.hi AND e3.hi = w2.hi),
             |tn AS (
             |  SELECT n, CAST(count(*) AS BIGINT) AS t FROM (
             |    SELECT ta AS n FROM tri UNION ALL SELECT tb FROM tri
             |    UNION ALL SELECT tc FROM tri)
             |  GROUP BY 1)
             |SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
             |  coalesce(tn.t, 0) AS n_triangles,
             |  CASE WHEN deg.d >= 2
             |       THEN coalesce(tn.t, 0) * 20000 // (deg.d * (deg.d - 1))
             |       ELSE 0 END AS clustering_bp
             |FROM deg LEFT JOIN tn ON tn.n = deg.n
             |ORDER BY node""".stripMargin)
    ),

    // Rolling 24 h distinct users + volume per hour — the trailing-
    // window cardinality a live dashboard shows. Window count-distinct
    // is not a frame aggregate either engine runs exactly, so the exact
    // form is the offset-explode: each (user, hour, n) contributes to
    // the 24 windows it falls in, then ONE groupBy per window end.
    // Work = hourly-pair volume × window, linear in the corpus.
    "q_events_rolling_distinct" -> QueryDef(
      (s, d) => {
        val pairs = Tables.events(s, d)
          .select(col("user_id"), expr("ts_ns div 3600000000000").as("h"))
          .groupBy("user_id", "h").agg(count(lit(1)).as("n"))
        val bounds = pairs.agg(max("h").as("hmax"))
        pairs
          .withColumn("off", explode(sequence(lit(0L), lit(23L))))
          .withColumn("wend", col("h") + col("off"))
          .crossJoin(broadcast(bounds))
          .filter(col("wend") <= col("hmax"))
          .groupBy("wend")
          .agg(countDistinct(col("user_id")).as("n_users_24h"),
            sum("n").as("n_events_24h"))
          .orderBy("wend")
      },
      Some("""WITH p AS (
             |  SELECT user_id, epoch_ns(ts) // 3600000000000 AS h,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |mx AS (SELECT max(h) AS hmax FROM p),
             |x AS (
             |  SELECT user_id, h + g.off AS wend, n
             |  FROM p, unnest(generate_series(0, 23)) AS g(off))
             |SELECT wend, count(DISTINCT user_id) AS n_users_24h,
             |  CAST(sum(n) AS BIGINT) AS n_events_24h
             |FROM x, mx WHERE wend <= hmax
             |GROUP BY wend ORDER BY wend""".stripMargin)
    ),

    // k-anonymity / l-diversity release audit: after PII scrubbing the
    // residual risk is linkage — quasi-identifier combos shared by few
    // subjects. One QI groupBy with two distinct aggregates; output is
    // QI-domain-sized. Flags: <5 subjects (k) / <2 sensitive values (l).
    "q_events_k_anonymity" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_type"),
          expr("(ts_ns div 3600000000000) % 24").as("hod"),
          floor(col("value") * 100).cast("long").as("cents"),
          col("user_id"))
          .withColumn("vb", least(expr("cents div 2000"), lit(9L)))
        graft.ops.Privacy.kAnonymity(ev, Seq("event_type", "hod", "vb"),
            "user_id", "cents", k = 5, l = 2)
          .orderBy("event_type", "hod", "vb")
      },
      Some("""WITH e AS (
             |  SELECT event_type,
             |    (epoch_ns(ts) // 3600000000000) % 24 AS hod,
             |    CAST(floor(value * 100) AS BIGINT) AS cents, user_id
             |  FROM events),
             |b AS (
             |  SELECT event_type, hod,
             |    least(cents // 2000, 9) AS vb, user_id, cents
             |  FROM e)
             |SELECT event_type, hod, vb, count(*) AS n_rows,
             |  count(DISTINCT user_id) AS n_subjects,
             |  count(DISTINCT cents) AS n_sensitive,
             |  count(DISTINCT user_id) < 5 AS at_risk,
             |  count(DISTINCT cents) < 2 AS low_div
             |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)
    ),

    // Offline single change-point per event type over its hourly count
    // series (the retrospective "WHERE did the level shift" companion
    // to the online CUSUM): both engines maximize the same exact-BIGINT
    // scaled prefix-mean deviation T*cum_t - t*total with the
    // smallest-t tie-break, and replay the split hour and exact
    // hundredth segment means.
    "q_events_changepoint" -> QueryDef(
      (s, d) => {
        val hours = Tables.events(s, d)
          .select(col("event_type"),
            expr("ts_ns div 3600000000000").as("h"))
          .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
        graft.ops.TimeSeries.changepoint(hours, "event_type", "h", "c")
          .orderBy("event_type")
      },
      Some("""WITH b AS (
             |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
             |    count(*)::BIGINT AS c
             |  FROM events GROUP BY 1, 2),
             |w AS (
             |  SELECT event_type, h, c,
             |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY h)
             |      AS BIGINT) AS cum,
             |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY h)
             |      AS BIGINT) AS t,
             |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT)
             |      AS total,
             |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
             |      AS n
             |  FROM b),
             |d AS (
             |  SELECT event_type, h, cum, t, total, n,
             |    n * cum - t * total AS dd
             |  FROM w),
             |best AS (
             |  SELECT event_type, h, dd, cum, t
             |  FROM d WHERE t < n
             |  QUALIFY row_number() OVER (PARTITION BY event_type
             |    ORDER BY abs(dd) DESC, t ASC) = 1),
             |uni AS (
             |  SELECT event_type, max(n) AS n_buckets, max(total) AS total
             |  FROM d GROUP BY 1)
             |SELECT uni.event_type, uni.n_buckets, uni.total,
             |  best.h AS split_ord, best.dd AS d_split,
             |  100 * best.cum // best.t AS mean_pre_x100,
             |  100 * (uni.total - best.cum) // (uni.n_buckets - best.t)
             |    AS mean_post_x100
             |FROM uni LEFT JOIN best USING (event_type)
             |ORDER BY event_type""".stripMargin)
    ),

    // Lead-lag cross-correlation between event types' hourly series at
    // lags -2..2: does one type's volume move before another's
    // (lag > 0 = key_a leads — x = a(t) pairs with y = b(t + lag)).
    // Signed squared Pearson in e8 via the exact staged-division rho2
    // form; overlap-bucket join, (types² × 5)-row output.
    "q_events_leadlag" -> QueryDef(
      (s, d) => {
        val hours = Tables.events(s, d)
          .select(col("event_type"),
            expr("ts_ns div 3600000000000").as("h"))
          .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
        graft.ops.TimeSeries.leadLag(hours, "event_type", "h", "c", 2)
      },
      Some("""WITH h AS (
             |  SELECT event_type AS k, epoch_ns(ts) // 3600000000000 AS o,
             |    count(*)::BIGINT AS x
             |  FROM events GROUP BY 1, 2),
             |b AS (
             |  SELECT h.k AS kb, h.o - l AS o, l AS lag, h.x AS y
             |  FROM h, unnest(generate_series(-2, 2)) AS g(l)),
             |j AS (
             |  SELECT a.k AS key_a, b.kb AS key_b, b.lag,
             |    count(*)::BIGINT AS n,
             |    sum(a.x::HUGEINT) AS sx, sum(b.y::HUGEINT) AS sy,
             |    sum(a.x::HUGEINT * b.y) AS sxy,
             |    sum(a.x::HUGEINT * a.x) AS sxx,
             |    sum(b.y::HUGEINT * b.y) AS syy
             |  FROM h a JOIN b ON a.o = b.o AND a.k <> b.kb
             |  GROUP BY 1, 2, 3),
             |dd AS (
             |  SELECT key_a, key_b, lag, n,
             |    n * sxy - sx * sy AS num,
             |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
             |  FROM j)
             |SELECT key_a, key_b, CAST(lag AS INTEGER) AS lag, n,
             |  CASE WHEN dx > 0 AND dy > 0 THEN
             |    CAST((CASE WHEN num >= 0 THEN 1 ELSE -1 END) *
             |      ((abs(num) * 10000 // dx) * (abs(num) * 10000 // dy))
             |      AS BIGINT) END AS corr2_e8
             |FROM dd ORDER BY key_a, key_b, lag""".stripMargin)
    ),

    // Per-type autocorrelation of the hourly count series at lags
    // 1..24: the daily-rhythm/persistence readout. Equi-join on
    // (type, hour) — fully partitioned; output is types × 24 rows.
    "q_events_acf" -> QueryDef(
      (s, d) => {
        val hours = Tables.events(s, d)
          .select(col("event_type"),
            expr("ts_ns div 3600000000000").as("h"))
          .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
        graft.ops.TimeSeries.acf(hours, "event_type", "h", "c", 24)
      },
      Some("""WITH h AS (
             |  SELECT event_type AS k, epoch_ns(ts) // 3600000000000 AS o,
             |    count(*)::BIGINT AS x
             |  FROM events GROUP BY 1, 2),
             |b AS (
             |  SELECT h.k, h.o - l AS o, l AS lag, h.x AS y
             |  FROM h, unnest(generate_series(1, 24)) AS g(l)),
             |j AS (
             |  SELECT a.k, b.lag, count(*)::BIGINT AS n,
             |    sum(a.x::HUGEINT) AS sx, sum(b.y::HUGEINT) AS sy,
             |    sum(a.x::HUGEINT * b.y) AS sxy,
             |    sum(a.x::HUGEINT * a.x) AS sxx,
             |    sum(b.y::HUGEINT * b.y) AS syy
             |  FROM h a JOIN b ON a.k = b.k AND a.o = b.o
             |  GROUP BY 1, 2),
             |dd AS (
             |  SELECT k, lag, n,
             |    n * sxy - sx * sy AS num,
             |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
             |  FROM j)
             |SELECT k AS event_type, CAST(lag AS INTEGER) AS lag, n,
             |  CASE WHEN dx > 0 AND dy > 0 THEN
             |    CAST((CASE WHEN num >= 0 THEN 1 ELSE -1 END) *
             |      ((abs(num) * 10000 // dx) * (abs(num) * 10000 // dy))
             |      AS BIGINT) END AS corr2_e8
             |FROM dd ORDER BY event_type, lag""".stripMargin)
    ),

    // Truncated-exact EWMA smoothing + pre-observation burst test: the
    // dyadic (α=1/2) exponential moving average as 16 windowed lag
    // terms — weights are powers of two, the mass below the truncation
    // is under the micro-unit output quantum, and the only division is
    // one integer div, so both engines replay level, forecast, and
    // every spike verdict bit-for-bit. Complements CUSUM: this is the
    // per-event anomaly view, CUSUM the drift view.
    "q_events_ewma" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .filter(pmod(col("user_id"), lit(50)) === 0)
          .select(col("event_id"), col("user_id"), col("ts_ns"),
            floor(col("value") * 100).cast("long").as("cents"))
        graft.ops.TimeSeries.ewma(ev, Seq("user_id"),
            Seq("ts_ns", "event_id"), "cents")
          .withColumn("spike",
            coalesce(
              col("cents") * 1000000L > lit(3L) * col("ewma_prior_micro"),
              lit(false)))
          .orderBy("user_id", "ts_ns", "event_id")
      },
      Some(ewmaSql)
    ),

    // SCD2 (slowly-changing-dimension) interval construction: each
    // user's event-type stream collapses into validity runs — one row
    // per CHANGE with [valid_from_ns, valid_to_ns) bounds, the open
    // current row ending NULL. Gaps-and-islands via one lag + running
    // sum + one groupBy + one lead; all per-user windows, so the work
    // partitions by user at any scale (the same shape Sessionize runs).
    "q_events_scd2" -> QueryDef(
      (s, d) => {
        val byUser = Window.partitionBy("user_id")
          .orderBy(col("ts_ns"), col("event_id"))
        val byRun = Window.partitionBy("user_id").orderBy(col("run_id"))
        Tables.events(s, d)
          .filter(pmod(col("user_id"), lit(20)) === 0)
          .withColumn("chg",
            when(lag(col("event_type"), 1).over(byUser).isNull ||
              col("event_type") =!= lag(col("event_type"), 1).over(byUser), 1L)
              .otherwise(0L))
          .withColumn("run_id", sum(col("chg")).over(byUser))
          .groupBy(col("user_id"), col("run_id"))
          .agg(first(col("event_type")).as("segment"),
            min(col("ts_ns")).as("valid_from_ns"),
            count(lit(1)).as("n_events"))
          .withColumn("valid_to_ns",
            lead(col("valid_from_ns"), 1).over(byRun))
          .select("user_id", "segment", "valid_from_ns", "valid_to_ns",
            "n_events")
          .orderBy("user_id", "valid_from_ns")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS ts_ns
             |  FROM events WHERE user_id % 20 = 0),
             |flagged AS (
             |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
             |      OR event_type <> lag(event_type) OVER w THEN 1 ELSE 0 END
             |      AS chg
             |  FROM ev
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
             |runs AS (
             |  SELECT *, sum(chg) OVER
             |    (PARTITION BY user_id ORDER BY ts_ns, event_id
             |     ROWS UNBOUNDED PRECEDING) AS run_id
             |  FROM flagged),
             |grouped AS (
             |  SELECT user_id, run_id, min(event_type) AS segment,
             |    min(ts_ns) AS valid_from_ns, count(*) AS n_events
             |  FROM runs GROUP BY user_id, run_id)
             |SELECT user_id, segment, valid_from_ns,
             |  lead(valid_from_ns) OVER
             |    (PARTITION BY user_id ORDER BY run_id) AS valid_to_ns,
             |  n_events
             |FROM grouped ORDER BY user_id, valid_from_ns""".stripMargin)
    ),

    // Incremental rollup maintenance — the warehouse ETL core: history
    // partials (3/4 of events, the "yesterday" table) merge with the new
    // shard's partials by bucket-wise SUM, never re-scanning history.
    // Sums run on exact integer cents, so partial-then-merge is
    // bit-identical to a direct aggregate in any engine and any order.
    "q_events_incremental_rollup" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("cents", floor(col("value") * 100).cast("long"))
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        val hist = partial(ev.filter(pmod(col("event_id"), lit(4)) =!= 0))
        val incr = partial(ev.filter(pmod(col("event_id"), lit(4)) === 0))
        hist.unionByName(incr)
          .groupBy("user_id", "event_type")
          .agg(sum("n").as("n_events"), sum("cents").as("sum_cents"))
          .filter(pmod(col("user_id"), lit(10)) === 0)
          .orderBy("user_id", "event_type")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, event_id,
             |    CAST(floor(value * 100) AS BIGINT) AS cents
             |  FROM events),
             |hist AS (
             |  SELECT user_id, event_type, count(*) AS n,
             |    CAST(sum(cents) AS BIGINT) AS cents
             |  FROM ev WHERE event_id % 4 <> 0 GROUP BY 1, 2),
             |incr AS (
             |  SELECT user_id, event_type, count(*) AS n,
             |    CAST(sum(cents) AS BIGINT) AS cents
             |  FROM ev WHERE event_id % 4 = 0 GROUP BY 1, 2),
             |merged AS (
             |  SELECT * FROM hist UNION ALL SELECT * FROM incr)
             |SELECT user_id, event_type,
             |  CAST(sum(n) AS BIGINT) AS n_events,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM merged WHERE user_id % 10 = 0
             |GROUP BY user_id, event_type
             |ORDER BY user_id, event_type""".stripMargin)
    ),

    // Stream-enrichment join: events × broadcast customer dimension.
    "q_events_enrich_join" -> QueryDef(
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
        Tables.events(s, d)
          .join(broadcast(c), col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment", "event_type")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
          .orderBy("c_mktsegment", "event_type")
      },
      Some("""SELECT c_mktsegment, event_type, count(*) AS n,
             |  round(sum(value), 2) AS sum_value
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY c_mktsegment, event_type
             |ORDER BY c_mktsegment, event_type""".stripMargin)
    ),

    // As-of join: attribute each purchase to the user's most recent click
    // (point-in-time semantics). The Spark side is the union+window
    // composition (graft.ops.AsOf); the oracle is DuckDB's NATIVE ASOF
    // JOIN — an independent implementation of the same semantics.
    "q_events_asof_attribution" -> QueryDef(
      (s, d) => {
        import graft.ops.AsOf
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_ns"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts_ns") // dedupe simultaneous clicks: max id
          .agg(max("event_id").as("click_event"))
          .withColumn("click_ts_ns", col("ts_ns"))
        AsOf.join(purchases, clicks, "user_id", "ts_ns")
          .select(col("event_id"), col("user_id"),
            col("asof.click_event").as("click_event"),
            expr("(ts_ns - asof.click_ts_ns) div 1000000000").as("gap_s"))
          .orderBy("event_id")
          .limit(5000)
      },
      Some("""WITH p AS (
             |  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (
             |  SELECT user_id, epoch_ns(ts) AS ts_ns, max(event_id) AS click_event
             |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
             |SELECT p.event_id, p.user_id, c.click_event,
             |  (p.ts_ns - c.ts_ns) // 1000000000 AS gap_s
             |FROM p ASOF LEFT JOIN c
             |  ON p.user_id = c.user_id AND p.ts_ns >= c.ts_ns
             |ORDER BY p.event_id LIMIT 5000""".stripMargin)
    ),

    // Range join: clicks within the 10 minutes before each purchase —
    // bucketized equi-join formulation vs DuckDB's plain range predicate.
    "q_events_range_join" -> QueryDef(
      (s, d) => {
        import graft.ops.RangeJoin
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            (col("ts_ns") - lit(600L * 1000000000L)).as("lo"),
            col("ts_ns").as("hi"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts_ns"))
        RangeJoin.intervalJoin(clicks, purchases,
            "user_id", "ts_ns", "lo", "hi", bucketWidth = 600L * 1000000000L)
          .groupBy("purchase_id")
          .agg(count(lit(1)).as("n_clicks_before"),
            max("click_id").as("latest_click"))
          .orderBy("purchase_id")
      },
      Some("""WITH p AS (
             |  SELECT event_id AS purchase_id, user_id, epoch_ns(ts) AS hi,
             |    epoch_ns(ts) - 600000000000 AS lo
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (
             |  SELECT event_id AS click_id, user_id, epoch_ns(ts) AS ts_ns
             |  FROM events WHERE event_type = 'click')
             |SELECT purchase_id, count(*) AS n_clicks_before,
             |  max(click_id) AS latest_click
             |FROM c JOIN p ON c.user_id = p.user_id
             |  AND c.ts_ns >= p.lo AND c.ts_ns <= p.hi
             |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin)
    ),

    // Late-data accounting: events arriving >N min after the max-so-far
    // per user (the batch shape of a watermark drop decision).
    "q_events_late" -> QueryDef(
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy("event_id")
        Tables.events(s, d)
          .withColumn("max_so_far",
            max(col("ts_ns")).over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("late",
            when(col("max_so_far").isNotNull &&
              col("max_so_far") - col("ts_ns") > 600L * 1000000000L, 1).otherwise(0))
          .agg(sum("late").as("n_late"), count(lit(1)).as("n_total"))
      },
      Some("""WITH w AS (
             |  SELECT ts,
             |    max(ts) OVER (PARTITION BY user_id ORDER BY event_id
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS max_so_far
             |  FROM events)
             |SELECT CAST(coalesce(sum(CASE WHEN max_so_far IS NOT NULL
             |    AND max_so_far - ts > INTERVAL 10 MINUTE THEN 1 ELSE 0 END), 0)
             |    AS BIGINT) AS n_late,
             |  count(*) AS n_total
             |FROM w""".stripMargin)
    ),

    // Behavioral training sequences: each user's full event-type history
    // in event-time order, as the token stream a sequence model consumes.
    // The ordered concatenation is a sort_array(collect_list(struct)) —
    // one shuffle keyed by user, deterministic ties on (ts, event_id) —
    // and the md5 fingerprint value-checks the exact ordering engine-to-
    // engine, not just the counts.
    "q_events_user_sequences" -> QueryDef(
      (s, d) =>
        Tables.events(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            array_join(
              transform(
                sort_array(collect_list(struct(col("ts_ns"), col("event_id"),
                  col("event_type")))),
                e => e.getField("event_type")),
              ",").as("seq"))
          .select(col("user_id"), col("n_events"),
            length(col("seq")).as("seq_len"), md5(col("seq")).as("seq_md5"))
          .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(length(string_agg(event_type, ','
             |    ORDER BY epoch_ns(ts), event_id)) AS INTEGER) AS seq_len,
             |  md5(string_agg(event_type, ',' ORDER BY epoch_ns(ts), event_id))
             |    AS seq_md5
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),

    // Funnel analysis: view → click (strictly after the first view) →
    // purchase (strictly after that click), first-touch per user. Three
    // per-user conditional minimums chained through equi-joins on
    // user_id — every join co-partitions on the same key, so at scale
    // the three stages reuse one shuffle partitioning; counts only
    // (exact integers) in the compared output.
    "q_events_funnel" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts_ns").as("view_ns"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id")
          .filter(col("ts_ns") > col("view_ns"))
          .groupBy("user_id").agg(min("ts_ns").as("click_ns"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id")
          .filter(col("ts_ns") > col("click_ns"))
          .groupBy("user_id").agg(min("ts_ns").as("purchase_ns"))
        v.join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .agg(count(lit(1)).as("n_view"),
            count(col("click_ns")).as("n_view_click"),
            count(col("purchase_ns")).as("n_view_click_purchase"))
      },
      Some("""WITH v AS (
             |  SELECT user_id, min(epoch_ns(ts)) AS view_ns
             |  FROM events WHERE event_type = 'view' GROUP BY 1),
             |c AS (
             |  SELECT e.user_id, min(epoch_ns(e.ts)) AS click_ns
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.view_ns
             |  GROUP BY 1),
             |p AS (
             |  SELECT e.user_id, min(epoch_ns(e.ts)) AS purchase_ns
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.click_ns
             |  GROUP BY 1)
             |SELECT count(*) AS n_view,
             |  count(c.click_ns) AS n_view_click,
             |  count(p.purchase_ns) AS n_view_click_purchase
             |FROM v LEFT JOIN c ON v.user_id = c.user_id
             |  LEFT JOIN p ON v.user_id = p.user_id""".stripMargin)
    ),

    // Trailing 1-hour rolling aggregates per user (RANGE frame over the
    // nanosecond event-time axis): event count and max value in the
    // window ending at each event. RANGE frames resolve peer rows by
    // value, so duplicate timestamps aggregate identically in any
    // engine; max is order-independent-exact on doubles (no float-sum
    // nondeterminism in the compared projection).
    "q_events_rolling" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts_ns")
          .rangeBetween(-3600L * 1000000000L, 0)
        Tables.events(s, d)
          .filter(col("user_id") < 40)
          .withColumn("n_1h", count(lit(1)).over(w))
          .withColumn("max_value_1h", max(col("value")).over(w))
          .select("event_id", "user_id", "n_1h", "max_value_1h")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  count(*) OVER w AS n_1h,
             |  max(value) OVER w AS max_value_1h
             |FROM events WHERE user_id < 40
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
             |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)
    ),

    // Semi-structured props: extract the JSON payload's integer field
    // with get_json_object (codegen'd Jackson path eval — no UDF) and
    // aggregate it per event type. The JSON parse happens inside the
    // scan projection, so column pruning still reaches parquet.
    "q_events_json" -> QueryDef(
      (s, d) =>
        Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            count(col("k")).as("n_with_k"),
            sum("k").as("sum_k"),
            min("k").as("min_k"),
            max("k").as("max_k"),
            countDistinct(col("k")).as("n_distinct_k"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             |  count(k) AS n_with_k,
             |  CAST(sum(k) AS BIGINT) AS sum_k,
             |  min(k) AS min_k, max(k) AS max_k,
             |  count(DISTINCT k) AS n_distinct_k
             |FROM (SELECT event_type,
             |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |  FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // Time-series resampling: each user's irregular event stream onto a
    // regular 1-hour grid, value forward-filled from the bucket's last
    // observation (ties on (ts, event_id) — deterministic), gaps
    // flagged. The fill copies exact doubles; no float arithmetic.
    "q_events_resample" -> QueryDef(
      (s, d) =>
        graft.ops.TimeSeries.resample(
            Tables.events(s, d).filter(col("user_id") < 10),
            "user_id", "ts_ns", "value", "event_id",
            stepNs = 3600L * 1000000000L)
          .orderBy("user_id", "bucket_start_ns"),
      Some("""WITH e AS (
             |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, value,
             |    epoch_ns(ts) // 3600000000000 AS b
             |  FROM events WHERE user_id < 10),
             |obs AS (
             |  SELECT user_id, b, value
             |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, b
             |          ORDER BY ts_ns DESC, event_id DESC) AS rn FROM e)
             |  WHERE rn = 1),
             |spans AS (
             |  SELECT user_id, min(b) AS b0, max(b) AS b1
             |  FROM e GROUP BY user_id),
             |grid AS (
             |  SELECT user_id, g.b FROM spans,
             |    unnest(generate_series(b0, b1)) AS g(b))
             |SELECT grid.user_id,
             |  CAST(grid.b * 3600000000000 AS BIGINT) AS bucket_start_ns,
             |  last_value(obs.value IGNORE NULLS) OVER (
             |    PARTITION BY grid.user_id ORDER BY grid.b
             |    ROWS UNBOUNDED PRECEDING) AS value,
             |  obs.value IS NULL AS is_gap
             |FROM grid LEFT JOIN obs
             |  ON grid.user_id = obs.user_id AND grid.b = obs.b
             |ORDER BY grid.user_id, bucket_start_ns""".stripMargin)
    ),

    // Cohort retention: users cohorted by first-seen day; for each cohort
    // and day offset (0..7), how many came back. Two user-keyed
    // aggregations plus one equi-join — all integer/date arithmetic.
    "q_events_retention" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("d"))
        val first = ev.groupBy("user_id").agg(min("d").as("cohort"))
        val sizes = first.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
        ev.distinct()
          .join(first, "user_id")
          .withColumn("day_offset", datediff(col("d"), col("cohort")))
          .filter(col("day_offset") <= 7)
          .groupBy("cohort", "day_offset")
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(sizes), "cohort")
          .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
            col("day_offset"), col("cohort_size"), col("n_active"))
          .orderBy("cohort_day", "day_offset")
      },
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS DATE) AS d FROM events),
             |f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1),
             |s AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1),
             |a AS (SELECT DISTINCT user_id, d FROM e)
             |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
             |  CAST(a.d - f.cohort AS INTEGER) AS day_offset,
             |  s.cohort_size,
             |  CAST(count(*) AS BIGINT) AS n_active
             |FROM a JOIN f USING (user_id) JOIN s USING (cohort)
             |WHERE a.d - f.cohort <= 7
             |GROUP BY 1, 2, 3 ORDER BY cohort_day, day_offset""".stripMargin)
    ),

    // Robust outlier detection: median/MAD per event type, outlier =
    // |v - med| > 3·MAD. Values are lifted to integer cents first, so
    // every intermediate (midpoint-interpolated medians, absolute
    // deviations, the 3·MAD threshold) is an exact dyadic rational —
    // bit-identical in any engine, no rounding slack needed. Two grouped
    // exact-percentile passes plus one counting pass, all keyed on
    // event_type with the 5-row stats frames broadcast back.
    // Metronome bot screen: a planted 60s-interval automation user joins
    // the event stream; per-user gap CV² in exact basis points flags it
    // at exactly 0. NOTE the synthetic generator's own users are
    // near-uniform too (cv2 < 800 bp — they also flag at this
    // threshold); real organic traffic sits near CV² ≈ 10⁴, and the
    // bursty-vs-metronomic separation is pinned by TimeSeriesSpec on
    // engineered gap streams. Both engines rebuild gaps, clamps, flags.
    "q_events_bot_screen" -> QueryDef(
      (s, d) => {
        val bot = s.range(0, 100).select(
          lit(9999999L).as("user_id"),
          (lit(1700000000000000000L) + col("id") * 60000000000L)
            .as("ts_ns"),
          (lit(900000L) + col("id")).as("event_id"))
        val ev = Tables.events(s, d).select("user_id", "ts_ns", "event_id")
          .unionByName(bot)
        graft.ops.TimeSeries.timingRegularity(ev).orderBy("user_id")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id FROM events
             |  UNION ALL
             |  SELECT 9999999, 1700000000000000000 + i * 60000000000,
             |    900000 + i
             |  FROM range(0, 100) t(i)),
             |lagged AS (
             |  SELECT user_id,
             |    lag(ts_ns) OVER (PARTITION BY user_id
             |      ORDER BY ts_ns, event_id) AS prev, ts_ns
             |  FROM ev),
             |g AS (
             |  SELECT user_id,
             |    least((ts_ns - prev) // 1000000, 3600000) AS g
             |  FROM lagged WHERE prev IS NOT NULL),
             |a AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             |    CAST(sum(g) AS BIGINT) AS sg,
             |    CAST(sum(g * g) AS BIGINT) AS sg2
             |  FROM g GROUP BY 1),
             |m AS (
             |  SELECT user_id, n_gaps, sg // n_gaps AS mean_gap_ms, sg2
             |  FROM a),
             |c AS (
             |  SELECT user_id, n_gaps, mean_gap_ms,
             |    CASE WHEN mean_gap_ms > 0
             |         THEN greatest(((sg2 // n_gaps)
             |              - mean_gap_ms * mean_gap_ms) * 10000
             |              // (mean_gap_ms * mean_gap_ms), 0)
             |    END AS cv2_bp
             |  FROM m)
             |SELECT user_id, n_gaps, mean_gap_ms, cv2_bp,
             |  (n_gaps >= 20 AND cv2_bp IS NOT NULL AND cv2_bp <= 500)
             |    AS flag_bot
             |FROM c ORDER BY user_id""".stripMargin)
    ),

    "q_events_outliers" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("vc"))
        val med = ev.groupBy("event_type")
          .agg(expr("percentile(vc, 0.5)").as("med"), count(lit(1)).as("n"))
        val adev = ev.join(broadcast(med), "event_type")
          .withColumn("adev", abs(col("vc") - col("med")))
        val mad = adev.groupBy("event_type")
          .agg(expr("percentile(adev, 0.5)").as("mad"))
        adev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(min(col("n")).as("n"),
            min(col("med")).as("med_cents"),
            min(col("mad")).as("mad_cents"),
            sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
              .as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
             |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
             |  FROM events),
             |s AS (
             |  SELECT event_type, quantile_cont(vc, 0.5) AS med,
             |    count(*) AS n
             |  FROM e GROUP BY 1),
             |a AS (
             |  SELECT e.event_type, vc, med, n, abs(vc - med) AS adev
             |  FROM e JOIN s USING (event_type)),
             |m AS (
             |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
             |  FROM a GROUP BY 1)
             |SELECT a.event_type, min(n) AS n,
             |  min(med) AS med_cents, min(mad) AS mad_cents,
             |  CAST(sum(CASE WHEN adev > 3.0::DOUBLE * mad THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_outliers
             |FROM a JOIN m USING (event_type)
             |GROUP BY a.event_type ORDER BY event_type""".stripMargin)
    ),

    // Mergeable histogram-quantile sketch: two half-corpus shards are
    // sketched independently, merged bucket-wise, and quantiles are
    // interpolated from the 64-bin cumulative counts — the full
    // shard → merge → estimate lifecycle in one oracled query (DuckDB
    // rebuilds the identical sketch from the whole corpus, which also
    // proves merge(shards) == sketch(whole)). Bounded error (one bin
    // width) instead of q_percentiles' exact full sort.
    "q_events_quantile_sketch" -> QueryDef(
      (s, d) => {
        import graft.ops.Sketches
        val ev = Tables.events(s, d)
        val a = Sketches.histogramSketch(
          ev.filter(col("event_id") % 2 === 0), col("value"), 0.0, 640.0, 64)
        val b = Sketches.histogramSketch(
          ev.filter(col("event_id") % 2 =!= 0), col("value"), 0.0, 640.0, 64)
        val sketch = Sketches.mergeHistograms(a.unionByName(b))
        Sketches.histogramQuantiles(sketch, Seq(0.5, 0.9, 0.99), 0.0, 640.0, 64)
          .orderBy("q")
      },
      Some("""WITH h AS (
             |  SELECT least(63, greatest(0,
             |      CAST(floor((value - 0.0) / 10.0) AS INTEGER))) AS bin,
             |    count(*) AS cnt
             |  FROM events GROUP BY 1),
             |c AS (
             |  SELECT bin, cnt,
             |    CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
             |      - cnt AS BIGINT) AS cum_before,
             |    CAST(sum(cnt) OVER () AS BIGINT) AS n
             |  FROM h),
             |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
             |SELECT q,
             |  0.0 + 10.0 * (bin +
             |    CAST(greatest(1, CAST(ceil(q * n) AS BIGINT)) - cum_before
             |      AS DOUBLE) / cnt) AS estimate
             |FROM qs JOIN c
             |  ON cum >= greatest(1, CAST(ceil(q * n) AS BIGINT))
             |  AND cum_before < greatest(1, CAST(ceil(q * n) AS BIGINT))
             |ORDER BY q""".stripMargin)
    ),

    // Streaming quantile monitor replayed in batch mode: 4 deterministic
    // shards (event_id mod 4) fold through quantileBatch into a fresh
    // state dir; the ledger — one (n, p50, p95, p99) row per batch over
    // the RUNNING histogram — is the output. DuckDB rebuilds every
    // running histogram and interpolation; values match bit-for-bit.
    "q_events_stream_quantiles" -> QueryDef(
      (s, d) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-squant-q").toString
        val ev = Tables.events(s, d).select(col("value").as("v"),
          pmod(col("event_id"), lit(4)).as("b"))
        (0L to 3L).foreach { b =>
          graft.streaming.StreamingQuantiles.quantileBatch(
            ev.filter(col("b") === b).select("v"), col("v"),
            s"$dir/counts", s"$dir/ledger", b, 0.0, 640.0, 64)
        }
        // materialize the 4-row ledger locally, then delete the temp
        // state dir — the bench runs this query 4× per round and the
        // counts/ledger parquet would otherwise accumulate in /tmp
        val ledger = s.read.parquet(s"$dir/ledger")
        val schema = ledger.schema
        val rows = ledger.orderBy("batch_id").collect()
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p): Unit)
        finally walk.close()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      },
      Some("""WITH ev AS (
             |  SELECT value AS v, event_id % 4 AS b FROM events),
             |h AS (
             |  SELECT b, least(63, greatest(0,
             |      CAST(floor((v - 0.0) / 10.0) AS INTEGER))) AS bin,
             |    count(*)::BIGINT AS c
             |  FROM ev GROUP BY 1, 2),
             |run AS (
             |  SELECT bb.b, h.bin, CAST(sum(h.c) AS BIGINT) AS cnt
             |  FROM (SELECT DISTINCT b FROM h) bb
             |  JOIN h ON h.b <= bb.b
             |  GROUP BY 1, 2),
             |c AS (
             |  SELECT b, bin, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY b ORDER BY bin
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY b ORDER BY bin
             |      ROWS UNBOUNDED PRECEDING) - cnt AS BIGINT) AS cum_before,
             |    CAST(sum(cnt) OVER (PARTITION BY b) AS BIGINT) AS n
             |  FROM run),
             |qs AS (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE,
             |                      0.99::DOUBLE]) AS q),
             |est AS (
             |  SELECT c.b, qs.q, c.n,
             |    0.0 + 10.0 * (c.bin +
             |      CAST(greatest(1, CAST(ceil(qs.q * c.n) AS BIGINT))
             |        - c.cum_before AS DOUBLE) / c.cnt) AS e
             |  FROM qs JOIN c
             |    ON c.cum >= greatest(1, CAST(ceil(qs.q * c.n) AS BIGINT))
             |    AND c.cum_before <
             |      greatest(1, CAST(ceil(qs.q * c.n) AS BIGINT)))
             |SELECT CAST(b AS BIGINT) AS batch_id, max(n) AS n,
             |  max(CASE WHEN q = 0.5 THEN e END) AS p50,
             |  max(CASE WHEN q = 0.95 THEN e END) AS p95,
             |  max(CASE WHEN q = 0.99 THEN e END) AS p99
             |FROM est GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Misra-Gries heavy hitters over user activity, replayed as the
    // SAME deterministic 4-batch merge chain in both engines (batches =
    // event_id mod 4, k = 8): per round, counter-wise sum then subtract
    // the 9th-largest count and drop non-positives. The final k-bounded
    // summary joins back to the exact counts — und = exact − c_lb is
    // the per-key undercount, non-negative and ≤ n/(k+1) by the MG
    // invariant (the never-overcount direction is structural).
    "q_events_heavy_hitters" -> QueryDef(
      (s, d) => {
        import graft.ops.Sketches
        val ev = Tables.events(s, d)
          .select(col("user_id").as("key"), col("event_id"))
        def counts(b: Int) = ev
          .filter(pmod(col("event_id"), lit(4)) === b)
          .groupBy("key").agg(count(lit(1)).as("c"))
        val summ = (1 to 3).foldLeft(
          Sketches.mgSubtract(counts(0), k = 8).localCheckpoint(true)) {
          (prev, b) =>
            Sketches.mgMerge(prev, counts(b), k = 8).localCheckpoint(true)
        }
        val exact = ev.groupBy("key").agg(count(lit(1)).as("c_exact"))
        summ.withColumnRenamed("c", "c_lb")
          .join(exact, "key")
          .withColumn("und", col("c_exact") - col("c_lb"))
          .select(col("key").as("user_id"), col("c_lb"), col("c_exact"),
            col("und"))
          .orderBy(desc("c_lb"), col("user_id"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id AS key, event_id % 4 AS b FROM events),
             |c0 AS (SELECT key, count(*)::BIGINT AS c FROM ev
             |       WHERE b = 0 GROUP BY 1),
             |d0 AS (SELECT coalesce((SELECT c FROM c0
             |         ORDER BY c DESC, key LIMIT 1 OFFSET 8), 0) AS d),
             |s0 AS (SELECT key, c - d AS c FROM c0, d0 WHERE c - d > 0),
             |c1 AS (SELECT key, count(*)::BIGINT AS c FROM ev
             |       WHERE b = 1 GROUP BY 1),
             |m1 AS (SELECT key, CAST(sum(c) AS BIGINT) AS c FROM
             |       (SELECT * FROM s0 UNION ALL SELECT * FROM c1)
             |       GROUP BY 1),
             |d1 AS (SELECT coalesce((SELECT c FROM m1
             |         ORDER BY c DESC, key LIMIT 1 OFFSET 8), 0) AS d),
             |s1 AS (SELECT key, c - d AS c FROM m1, d1 WHERE c - d > 0),
             |c2 AS (SELECT key, count(*)::BIGINT AS c FROM ev
             |       WHERE b = 2 GROUP BY 1),
             |m2 AS (SELECT key, CAST(sum(c) AS BIGINT) AS c FROM
             |       (SELECT * FROM s1 UNION ALL SELECT * FROM c2)
             |       GROUP BY 1),
             |d2 AS (SELECT coalesce((SELECT c FROM m2
             |         ORDER BY c DESC, key LIMIT 1 OFFSET 8), 0) AS d),
             |s2 AS (SELECT key, c - d AS c FROM m2, d2 WHERE c - d > 0),
             |c3 AS (SELECT key, count(*)::BIGINT AS c FROM ev
             |       WHERE b = 3 GROUP BY 1),
             |m3 AS (SELECT key, CAST(sum(c) AS BIGINT) AS c FROM
             |       (SELECT * FROM s2 UNION ALL SELECT * FROM c3)
             |       GROUP BY 1),
             |d3 AS (SELECT coalesce((SELECT c FROM m3
             |         ORDER BY c DESC, key LIMIT 1 OFFSET 8), 0) AS d),
             |s3 AS (SELECT key, c - d AS c FROM m3, d3 WHERE c - d > 0),
             |exact AS (SELECT key, count(*)::BIGINT AS c_exact FROM ev
             |          GROUP BY 1)
             |SELECT s3.key AS user_id, s3.c AS c_lb, exact.c_exact,
             |  exact.c_exact - s3.c AS und
             |FROM s3 JOIN exact USING (key)
             |ORDER BY c_lb DESC, user_id""".stripMargin)
    )
  )

  /** DuckDB replay of [[graft.ops.TimeSeries.ewma]]: the same 2×16 lag
    * terms spelled out — power-of-two weights, present-weight mass, one
    * integer division. Generated so the weights provably match the
    * Spark chain's `1L << (lags-1-j)`.
    */
  private def ewmaSql: String = {
    val lags = 16
    val termsIncl = (0 until lags).map { j =>
      val wt = 1L << (lags - 1 - j)
      if (j == 0) s"cents * $wt"
      else s"COALESCE(lag(cents, $j) OVER w * $wt, 0)"
    }.mkString("\n      + ")
    val massIncl = (0 until lags).map { j =>
      val wt = 1L << (lags - 1 - j)
      if (j == 0) s"$wt"
      else s"CASE WHEN lag(cents, $j) OVER w IS NULL THEN 0 ELSE $wt END"
    }.mkString("\n      + ")
    val termsPri = (1 to lags).map { j =>
      val wt = 1L << (lags - j)
      s"COALESCE(lag(cents, $j) OVER w * $wt, 0)"
    }.mkString("\n      + ")
    val massPri = (1 to lags).map { j =>
      val wt = 1L << (lags - j)
      s"CASE WHEN lag(cents, $j) OVER w IS NULL THEN 0 ELSE $wt END"
    }.mkString("\n      + ")
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
       |    CAST(floor(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE user_id % 50 = 0),
       |l AS (
       |  SELECT event_id, user_id, ts_ns, cents,
       |    CAST($termsIncl AS BIGINT) AS si,
       |    CAST($massIncl AS BIGINT) AS wi,
       |    CAST($termsPri AS BIGINT) AS sp,
       |    CAST($massPri AS BIGINT) AS wp
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id))
       |SELECT event_id, user_id, ts_ns, cents,
       |  si * 1000000 // wi AS ewma_micro,
       |  CASE WHEN wp > 0 THEN sp * 1000000 // wp END AS ewma_prior_micro,
       |  COALESCE(cents * 1000000 >
       |    3 * (CASE WHEN wp > 0 THEN sp * 1000000 // wp END), FALSE) AS spike
       |FROM l ORDER BY user_id, ts_ns, event_id""".stripMargin
  }
}
