package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.util.Tables

/** Deduplication operators over `documents`, each with an exact DuckDB
  * oracle (the md5-based MinHash family is engine-portable by design).
  * Jaccard values are emitted as floor(j*10000) basis points — floor of
  * identical doubles is tie-free across engines, unlike round().
  */
object DedupQueries extends QueryGroup {

  /** Shared DuckDB CTEs: distinct per-doc 3-shingles + per-doc counts. */
  private val shCte: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |shd AS (
      |  SELECT DISTINCT doc_id, w FROM (
      |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS w
      |    FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      |    WHERE len(t) >= 3)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id)""".stripMargin

  private val jaccardSql: String =
    """common AS (
      |  SELECT x.doc_id AS i, y.doc_id AS j, count(*) AS c
      |  FROM cand JOIN shd x ON x.doc_id = cand.i
      |            JOIN shd y ON y.doc_id = cand.j AND y.w = x.w
      |  GROUP BY x.doc_id, y.doc_id),
      |jac AS (
      |  SELECT i, j,
      |    CAST(floor(c::DOUBLE / (ci.n + cj.n - c) * 10000) AS BIGINT) AS jaccard_bp
      |  FROM common
      |  JOIN cnt ci ON ci.doc_id = i
      |  JOIN cnt cj ON cj.doc_id = j)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Benchmark decontamination: corpus docs (id ≥ 50) colliding with the
    // "evaluation set" (id < 50) on ≥2 distinct 5-gram shingles. The
    // collision join is an equi-join on the n-gram with the tiny benchmark
    // side broadcastable — the 100 TB-safe shape for contamination sweeps.
    "q_decontaminate" -> QueryDef(
      (s, d) => {
        val all = Tables.documents(s, d)
        graft.ops.Decontaminate.contaminationPairs(
            all.filter(col("doc_id") >= 50), all.filter(col("doc_id") < 50),
            n = 5, minHits = 2L)
          .orderBy("doc_id", "benchmark_id")
      },
      Some("""WITH toks5 AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |sh5 AS (
             |  SELECT DISTINCT doc_id, w FROM (
             |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
             |        || t[i+3] || ' ' || t[i+4] AS w
             |    FROM toks5, unnest(generate_series(1, len(t) - 4)) AS g(i)
             |    WHERE len(t) >= 5))
             |SELECT c.doc_id, b.doc_id AS benchmark_id,
             |  CAST(count(*) AS BIGINT) AS n_hits
             |FROM sh5 c JOIN sh5 b ON c.w = b.w
             |WHERE c.doc_id >= 50 AND b.doc_id < 50
             |GROUP BY 1, 2 HAVING count(*) >= 2
             |ORDER BY c.doc_id, benchmark_id""".stripMargin)
    ),

    // Span-level contamination: where each shared 5-gram sits in the
    // corpus document (first-occurrence char offset + length) — the
    // report a surgical-excision pass consumes instead of dropping the
    // whole document.
    "q_decontaminate_spans" -> QueryDef(
      (s, d) => {
        val all = Tables.documents(s, d)
        graft.ops.Decontaminate.contaminationSpans(
            all.filter(col("doc_id") >= 50), all.filter(col("doc_id") < 50),
            n = 5)
          .orderBy("doc_id", "benchmark_id", "ngram")
      },
      Some("""WITH toks5 AS (
             |  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
             |sh5 AS (
             |  SELECT DISTINCT doc_id, w FROM (
             |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
             |        || t[i+3] || ' ' || t[i+4] AS w
             |    FROM toks5, unnest(generate_series(1, len(t) - 4)) AS g(i)
             |    WHERE len(t) >= 5))
             |SELECT c.doc_id, b.doc_id AS benchmark_id, c.w AS ngram,
             |  CAST(strpos(d.text, c.w) AS INTEGER) AS char_offset,
             |  CAST(length(c.w) AS INTEGER) AS span_len
             |FROM sh5 c JOIN sh5 b ON c.w = b.w
             |JOIN toks5 d ON d.doc_id = c.doc_id
             |WHERE c.doc_id >= 50 AND b.doc_id < 50
             |ORDER BY c.doc_id, benchmark_id, ngram""".stripMargin)
    ),

    // Exact dedup on a 5-token prefix key: duplicate groups + survivor id.
    // SEMANTIC decontamination: corpus embeddings (vec_id ≥ 50) within
    // cos ≥ 0.4 of any benchmark embedding (vec_id < 50) — the
    // paraphrase-level leak screen the n-gram queries can't see. The
    // benchmark side broadcasts (the eval-suite asymmetry); per flagged
    // item the oracle replays hit count, max cosine, and the max-cos
    // benchmark id (ties → larger id) with the established list-fold
    // arithmetic.
    // Fuzzy decontamination: every 8th doc's 48-char prefix, with chars
    // 11-13 deleted, becomes a "benchmark prompt" — a lightly-corrupted
    // leak exact n-grams can miss. The banded Levenshtein screen must
    // recover exactly those (d, d) pairs at edit_dist ≤ 5; both engines
    // build the perturbed benchmark AND compute the distance.
    "q_decontaminate_fuzzy" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = docs.filter(pmod(col("doc_id"), lit(8)) === 0)
          .select(col("doc_id").as("benchmark_id"),
            concat(substring(col("text"), 1, 10),
              substring(col("text"), 14, 35)).as("text"))
        graft.ops.Decontaminate.fuzzyPairs(docs, bench,
            prefixLen = 48, maxDist = 5)
          .orderBy("doc_id", "benchmark_id")
      },
      Some("""WITH b AS (
             |  SELECT doc_id AS benchmark_id,
             |    substr(text, 1, 10) || substr(text, 14, 35) AS bp
             |  FROM documents WHERE doc_id % 8 = 0),
             |c AS (SELECT doc_id, substr(text, 1, 48) AS cp FROM documents)
             |SELECT c.doc_id, b.benchmark_id,
             |  CAST(levenshtein(c.cp, b.bp) AS INTEGER) AS edit_dist
             |FROM c JOIN b ON abs(len(c.cp) - len(b.bp)) <= 5
             |  AND levenshtein(c.cp, b.bp) <= 5
             |ORDER BY c.doc_id, b.benchmark_id""".stripMargin)
    ),

    "q_decontaminate_semantic" -> QueryDef(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.ops.Decontaminate.semanticPairs(
            emb.filter(col("vec_id") >= 50), emb.filter(col("vec_id") < 50),
            thresholdBp = 4000L)
          .orderBy("corpus_id")
      },
      Some("""WITH c AS (
             |  SELECT vec_id AS corpus_id, embedding FROM embeddings
             |  WHERE vec_id >= 50),
             |b AS (
             |  SELECT vec_id AS bench_id, embedding FROM embeddings
             |  WHERE vec_id < 50),
             |hits AS (
             |  SELECT c.corpus_id, b.bench_id,
             |    CAST(floor(
             |      list_reduce(list_transform(generate_series(1, len(c.embedding)),
             |          x -> c.embedding[x]::DOUBLE * b.embedding[x]::DOUBLE),
             |        (s, v) -> s + v)
             |      / (sqrt(list_reduce(list_transform(generate_series(1, len(c.embedding)),
             |            x -> c.embedding[x]::DOUBLE * c.embedding[x]::DOUBLE), (s, v) -> s + v))
             |       * sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)),
             |            x -> b.embedding[x]::DOUBLE * b.embedding[x]::DOUBLE), (s, v) -> s + v)))
             |      * 10000) AS BIGINT) AS cos_bp
             |  FROM c, b),
             |flt AS (SELECT * FROM hits WHERE cos_bp >= 4000),
             |agg AS (
             |  SELECT corpus_id, count(*) AS n_hits, max(cos_bp) AS max_cos_bp
             |  FROM flt GROUP BY corpus_id),
             |best AS (
             |  SELECT f.corpus_id, max(f.bench_id) AS best_bench
             |  FROM flt f JOIN agg a
             |    ON f.corpus_id = a.corpus_id AND f.cos_bp = a.max_cos_bp
             |  GROUP BY f.corpus_id)
             |SELECT corpus_id, agg.n_hits, agg.max_cos_bp, best.best_bench
             |FROM agg JOIN best USING (corpus_id)
             |ORDER BY corpus_id""".stripMargin)
    ),

    // Corpus snapshot diff: yesterday = docs without the ≡0 mod 7 ids,
    // today = docs without the ≡0 mod 5 ids and with every ≡3 mod 10 doc
    // edited — so ids ≡0 mod 7 surface as added, ≡0 mod 5 as removed,
    // ≡3 mod 10 as changed, the rest unchanged (ids ≡0 mod 35 are in
    // neither snapshot and must not appear at all).
    "q_corpus_diff" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val old = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        val cur = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(10)) === 3,
              concat(col("text"), lit(" v2"))).otherwise(col("text")))
        Dedup.snapshotDiff(old, cur)
          .groupBy("status")
          .agg(count(lit(1)).as("n"),
            min("doc_id").as("first_id"), max("doc_id").as("last_id"))
          .orderBy("status")
      },
      Some("""WITH snap_a AS (
             |  SELECT doc_id, md5(text) AS h FROM documents
             |  WHERE doc_id % 7 <> 0),
             |snap_b AS (
             |  SELECT doc_id, md5(CASE WHEN doc_id % 10 = 3
             |    THEN text || ' v2' ELSE text END) AS h
             |  FROM documents WHERE doc_id % 5 <> 0),
             |diff AS (
             |  SELECT coalesce(snap_a.doc_id, snap_b.doc_id) AS doc_id,
             |    CASE WHEN snap_a.h IS NULL THEN 'added'
             |         WHEN snap_b.h IS NULL THEN 'removed'
             |         WHEN snap_a.h = snap_b.h THEN 'unchanged'
             |         ELSE 'changed' END AS status
             |  FROM snap_a FULL OUTER JOIN snap_b
             |    ON snap_a.doc_id = snap_b.doc_id)
             |SELECT status, count(*) AS n, min(doc_id) AS first_id,
             |  max(doc_id) AS last_id
             |FROM diff GROUP BY status ORDER BY status""".stripMargin)
    ),

    // URL-canonicalization dedup: each resource k is spelled two ways —
    // even doc 2k messy (uppercase scheme/host, :443, tracking params,
    // unsorted query, fragment, trailing slash), odd doc 2k+1 already
    // canonical. Canonicalization must collapse exactly those pairs; the
    // oracle replays the full normalization chain (fragment, case, port,
    // path, param filter + byte-sort) in DuckDB.
    "q_dedup_url" -> QueryDef(
      (s, d) => {
        import graft.ops.TextClean
        val res = floor(col("doc_id") / 2).cast("long").cast("string")
        val url = when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("HTTPS://WWW.Example.COM:443/Item/"), res,
              lit("/?utm_source=feed&b=2&a=1&fbclid=x#frag")))
          .otherwise(concat(lit("https://www.example.com/Item/"), res,
            lit("?a=1&b=2")))
        Tables.documents(s, d)
          .select(col("doc_id"), TextClean.urlCanonicalize(url).as("canonical_url"))
          .groupBy("canonical_url")
          .agg(count(lit(1)).as("n_variants"), min("doc_id").as("first_doc"))
          .orderBy("first_doc")
      },
      Some("""WITH urls AS (
             |  SELECT doc_id, CASE WHEN doc_id % 2 = 0
             |    THEN 'HTTPS://WWW.Example.COM:443/Item/' || (doc_id // 2)
             |      || '/?utm_source=feed&b=2&a=1&fbclid=x#frag'
             |    ELSE 'https://www.example.com/Item/' || (doc_id // 2)
             |      || '?a=1&b=2' END AS url
             |  FROM documents),
             |parts AS (
             |  SELECT doc_id,
             |    regexp_replace(regexp_replace(url, '#.*', ''), '\?.*', '') AS base,
             |    regexp_extract(regexp_replace(url, '#.*', ''), '\?(.*)$', 1) AS q
             |  FROM urls),
             |canon AS (
             |  SELECT doc_id,
             |    lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
             |      || '://'
             |      || regexp_replace(lower(regexp_extract(base,
             |           '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1)), ':(80|443)$', '')
             |      || CASE WHEN regexp_replace(regexp_extract(base,
             |             '^[A-Za-z][A-Za-z0-9+.-]*://[^/]+(/.*)?$', 1), '/+$', '') = ''
             |           THEN '/'
             |           ELSE regexp_replace(regexp_extract(base,
             |             '^[A-Za-z][A-Za-z0-9+.-]*://[^/]+(/.*)?$', 1), '/+$', '') END
             |      || CASE WHEN array_to_string(list_sort(list_filter(
             |             string_split(q, '&'), x -> x <> '' AND NOT regexp_matches(x,
             |               '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&') = ''
             |           THEN ''
             |           ELSE '?' || array_to_string(list_sort(list_filter(
             |             string_split(q, '&'), x -> x <> '' AND NOT regexp_matches(x,
             |               '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&') END
             |      AS canonical_url
             |  FROM parts)
             |SELECT canonical_url, count(*) AS n_variants,
             |  min(doc_id) AS first_doc
             |FROM canon GROUP BY canonical_url ORDER BY first_doc""".stripMargin)
    ),

    "q_dedup_exact" -> QueryDef(
      (s, d) => {
        val toks = split(col("text"), " ")
        val key = md5(concat_ws(" ",
          (1 to 5).map(i => element_at(toks, i)): _*))
        Dedup.exact(Tables.documents(s, d), "doc_id", key)
          .filter(col("n_copies") > 1)
          .select(col("_key").as("content_key"), col("keep_id"), col("n_copies"))
          .orderBy("content_key")
      },
      Some("""SELECT md5(array_to_string(t[1:5], ' ')) AS content_key,
             |  min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |GROUP BY content_key HAVING count(*) > 1
             |ORDER BY content_key""".stripMargin)
    ),

    // Bloom-filter admission screen: the membership sketch family
    // (Sketches.bloomBits/bloomScreen). History = docs with id%3≠0,
    // fresh shard = id%3=0; the fresh side is screened against the
    // history's content-hash Bloom filter (m=65536 bits, k=7) and the
    // flag is value-checked against ground truth — no false negative is
    // structurally possible, and WHICH keys false-positive is md5
    // arithmetic both engines replay bit-for-bit.
    "q_dedup_bloom_screen" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val hist = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .select(md5(col("text")).as("h"))
        val fresh = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), md5(col("text")).as("h"))
        val bits = graft.ops.Sketches.bloomBits(hist, col("h"))
        val screened =
          graft.ops.Sketches.bloomScreen(fresh, "doc_id", col("h"), bits)
        screened
          .join(hist.distinct().withColumn("_t", lit(true)), Seq("h"), "left")
          .select(col("doc_id"), col("might_contain"),
            coalesce(col("_t"), lit(false)).as("is_true_dup"))
          .orderBy("doc_id")
      },
      Some("""WITH hist AS (
             |  SELECT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
             |fresh AS (
             |  SELECT doc_id, md5(text) AS h FROM documents
             |  WHERE doc_id % 3 = 0),
             |bits AS (
             |  SELECT DISTINCT
             |    CAST(('0x' || substring(md5('bloom:' || p || ':' || h), 1, 8))
             |      AS BIGINT) % 65536 AS bit
             |  FROM hist, range(7) t(p)),
             |probes AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substring(md5('bloom:' || p || ':' || h), 1, 8))
             |      AS BIGINT) % 65536 AS bit
             |  FROM fresh, range(7) t(p)),
             |hits AS (
             |  SELECT doc_id, count(b.bit) = 7 AS might_contain
             |  FROM probes LEFT JOIN bits b USING (bit)
             |  GROUP BY doc_id)
             |SELECT f.doc_id, hi.might_contain,
             |  (dh.h IS NOT NULL) AS is_true_dup
             |FROM fresh f
             |JOIN hits hi USING (doc_id)
             |LEFT JOIN (SELECT DISTINCT h FROM hist) dh ON dh.h = f.h
             |ORDER BY f.doc_id""".stripMargin)
    ),

    // MinHash(k=8) + LSH(4 bands × 2 rows) candidates, exact-Jaccard verify.
    "q_dedup_minhash_lsh" -> QueryDef(
      (s, d) =>
        // pruneBp = the outer bp cut — exact length prefilter upstream
        // of the verify's gram expansion (Dedup.verifyJaccard)
        Dedup.minhashLsh(Tables.documents(s, d), threshold = 0.0,
            pruneBp = 8000L)
          .select(col("i"), col("j"),
            floor(col("jaccard") * 10000).cast("long").as("jaccard_bp"))
          .filter(col("jaccard_bp") >= 8000) // same bp cut both engines
          .orderBy("i", "j"),
      Some(s"""WITH $shCte,
              |mh AS (
              |  SELECT doc_id,
              |    min(md5('0' || '|' || w)) AS m0, min(md5('1' || '|' || w)) AS m1,
              |    min(md5('2' || '|' || w)) AS m2, min(md5('3' || '|' || w)) AS m3,
              |    min(md5('4' || '|' || w)) AS m4, min(md5('5' || '|' || w)) AS m5,
              |    min(md5('6' || '|' || w)) AS m6, min(md5('7' || '|' || w)) AS m7
              |  FROM shd GROUP BY doc_id),
              |banded AS (
              |  SELECT doc_id, md5(m0 || m1) AS b0, md5(m2 || m3) AS b1,
              |         md5(m4 || m5) AS b2, md5(m6 || m7) AS b3
              |  FROM mh),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id
              |   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
              |$jaccardSql
              |SELECT i, j, jaccard_bp FROM jac
              |WHERE jaccard_bp >= 8000 ORDER BY i, j""".stripMargin)
    ),

    // Incremental near-dedup: docs with doc_id % 5 = 0 are "today's
    // shard"; the rest are history contributing only their STORED
    // signatures (minhashSignaturesKernel output) to the banding join. The
    // contract — full-run pairs restricted to those touching a new doc —
    // is exactly what the oracle expresses as a WHERE over the full chain.
    "q_dedup_incremental" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        // the "stored" index is pre-materialized once per session
        // (Tables.historyMinhashSigs) — the production shape reads
        // yesterday's signature table from storage, so the query (and
        // its bench entry) measures the increment, not the fixture build
        val histSigs = Tables.historyMinhashSigs(s, d)
        Dedup.incrementalMinhash(fresh, hist, histSigs, threshold = 0.0)
          .select(col("i"), col("j"),
            floor(col("jaccard") * 10000).cast("long").as("jaccard_bp"))
          .filter(col("jaccard_bp") >= 8000)
          .orderBy("i", "j")
      },
      Some(s"""WITH $shCte,
              |mh AS (
              |  SELECT doc_id,
              |    min(md5('0' || '|' || w)) AS m0, min(md5('1' || '|' || w)) AS m1,
              |    min(md5('2' || '|' || w)) AS m2, min(md5('3' || '|' || w)) AS m3,
              |    min(md5('4' || '|' || w)) AS m4, min(md5('5' || '|' || w)) AS m5,
              |    min(md5('6' || '|' || w)) AS m6, min(md5('7' || '|' || w)) AS m7
              |  FROM shd GROUP BY doc_id),
              |banded AS (
              |  SELECT doc_id, md5(m0 || m1) AS b0, md5(m2 || m3) AS b1,
              |         md5(m4 || m5) AS b2, md5(m6 || m7) AS b3
              |  FROM mh),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id
              |   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
              |  WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0),
              |$jaccardSql
              |SELECT i, j, jaccard_bp FROM jac
              |WHERE jaccard_bp >= 8000 ORDER BY i, j""".stripMargin)
    ),

    // Streaming-admission policy over the incremental pairs: which docs
    // of "today's shard" actually enter the corpus. Edge-greedy and
    // deterministic (StreamingDedup.rejectedIds — the exact rule each
    // foreachBatch micro-batch applies): a shard doc is rejected iff it
    // has a verified ≥0.8 near-duplicate in history, or an earlier
    // (smaller-id) one in the same shard. The oracle replays signature →
    // banding → verify → the CASE rule end-to-end.
    "q_dedup_admission" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        val pairs = graft.ops.Dedup.incrementalMinhash(
            fresh, hist, Tables.historyMinhashSigs(s, d), threshold = 0.0)
          .filter(floor(col("jaccard") * 10000).cast("long") >= 8000)
          .select("i", "j")
        fresh.select("doc_id")
          .join(graft.streaming.StreamingDedup.rejectedIds(
            pairs, fresh.select("doc_id")), Seq("doc_id"), "left_anti")
          .orderBy("doc_id")
      },
      Some(s"""WITH $shCte,
              |mh AS (
              |  SELECT doc_id,
              |    min(md5('0' || '|' || w)) AS m0, min(md5('1' || '|' || w)) AS m1,
              |    min(md5('2' || '|' || w)) AS m2, min(md5('3' || '|' || w)) AS m3,
              |    min(md5('4' || '|' || w)) AS m4, min(md5('5' || '|' || w)) AS m5,
              |    min(md5('6' || '|' || w)) AS m6, min(md5('7' || '|' || w)) AS m7
              |  FROM shd GROUP BY doc_id),
              |banded AS (
              |  SELECT doc_id, md5(m0 || m1) AS b0, md5(m2 || m3) AS b1,
              |         md5(m4 || m5) AS b2, md5(m6 || m7) AS b3
              |  FROM mh),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id
              |   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
              |  WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0),
              |$jaccardSql,
              |rej AS (
              |  SELECT DISTINCT CASE
              |    WHEN i % 5 = 0 AND j % 5 = 0 THEN j
              |    WHEN i % 5 = 0 THEN i
              |    ELSE j END AS doc_id
              |  FROM jac WHERE jaccard_bp >= 8000)
              |SELECT doc_id FROM documents
              |WHERE doc_id % 5 = 0
              |  AND doc_id NOT IN (SELECT doc_id FROM rej)
              |ORDER BY doc_id""".stripMargin)
    ),

    // Per-doc 64-bit SimHash fingerprint (16 hex digits).
    "q_dedup_simhash" -> QueryDef(
      (s, d) =>
        Dedup.simhash(Dedup.shingles(Tables.documents(s, d)))
          .orderBy("doc_id")
          .limit(1000),
      Some(s"""WITH $shCte,
              |bits AS (
              |  SELECT doc_id, p,
              |    instr('0123456789abcdef', substring(md5(w), p, 1)) - 1 AS dgt
              |  FROM shd, unnest(generate_series(1, 16)) AS g(p)),
              |sums AS (
              |  SELECT doc_id, p,
              |    sum(CASE WHEN (dgt // 1) % 2 = 1 THEN 1 ELSE -1 END) AS s0,
              |    sum(CASE WHEN (dgt // 2) % 2 = 1 THEN 1 ELSE -1 END) AS s1,
              |    sum(CASE WHEN (dgt // 4) % 2 = 1 THEN 1 ELSE -1 END) AS s2,
              |    sum(CASE WHEN (dgt // 8) % 2 = 1 THEN 1 ELSE -1 END) AS s3
              |  FROM bits GROUP BY doc_id, p),
              |digits AS (
              |  SELECT doc_id, p,
              |    substring('0123456789abcdef',
              |      (CASE WHEN s0 > 0 THEN 1 ELSE 0 END) +
              |      (CASE WHEN s1 > 0 THEN 2 ELSE 0 END) +
              |      (CASE WHEN s2 > 0 THEN 4 ELSE 0 END) +
              |      (CASE WHEN s3 > 0 THEN 8 ELSE 0 END) + 1, 1) AS ch
              |  FROM sums)
              |SELECT doc_id, string_agg(ch, '' ORDER BY p) AS simhash
              |FROM digits GROUP BY doc_id ORDER BY doc_id LIMIT 1000""".stripMargin)
    ),

    // SimHash near-dup pairs: 8×2-hex-digit LSH bands → exact bit-hamming.
    "q_dedup_simhash_pairs" -> QueryDef(
      (s, d) =>
        Dedup.simhashPairs(Dedup.shingles(Tables.documents(s, d)),
            side = graft.util.Partitioning.indexSideFor(Tables.documents(s, d)))
          .orderBy("i", "j"),
      Some(s"""WITH $shCte,
              |bits AS (
              |  SELECT doc_id, p,
              |    instr('0123456789abcdef', substring(md5(w), p, 1)) - 1 AS dgt
              |  FROM shd, unnest(generate_series(1, 16)) AS g(p)),
              |sums AS (
              |  SELECT doc_id, p,
              |    sum(CASE WHEN (dgt // 1) % 2 = 1 THEN 1 ELSE -1 END) AS s0,
              |    sum(CASE WHEN (dgt // 2) % 2 = 1 THEN 1 ELSE -1 END) AS s1,
              |    sum(CASE WHEN (dgt // 4) % 2 = 1 THEN 1 ELSE -1 END) AS s2,
              |    sum(CASE WHEN (dgt // 8) % 2 = 1 THEN 1 ELSE -1 END) AS s3
              |  FROM bits GROUP BY doc_id, p),
              |digs AS (
              |  SELECT doc_id, p,
              |    (CASE WHEN s0 > 0 THEN 1 ELSE 0 END)
              |    + (CASE WHEN s1 > 0 THEN 2 ELSE 0 END)
              |    + (CASE WHEN s2 > 0 THEN 4 ELSE 0 END)
              |    + (CASE WHEN s3 > 0 THEN 8 ELSE 0 END) AS d
              |  FROM sums),
              |wide AS (
              |  SELECT doc_id,
              |    ${(1 to 16).map(p => s"max(CASE WHEN p = $p THEN d END) AS d$p")
                     .mkString(",\n    ")}
              |  FROM digs GROUP BY doc_id),
              |melted AS (
              |  SELECT doc_id, b.band,
              |    CASE b.band
              |      ${(0 until 8).map(b =>
                       s"WHEN $b THEN d${2 * b + 1}::VARCHAR || ':' || d${2 * b + 2}::VARCHAR")
                       .mkString("\n      ")}
              |    END AS key
              |  FROM wide, (SELECT unnest(generate_series(0, 7)) AS band) b),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              |  FROM melted a JOIN melted b
              |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
              |SELECT i, j,
              |  CAST(${(1 to 16).map(p => s"bit_count(xor(ai.d$p::BIGINT, bj.d$p::BIGINT))")
                   .mkString(" + ")} AS BIGINT) AS hamming
              |FROM cand JOIN wide ai ON ai.doc_id = i JOIN wide bj ON bj.doc_id = j
              |WHERE hamming <= 12
              |ORDER BY i, j""".stripMargin),
    ),

    // Inverted-index (rare-shingle) candidates + exact Jaccard.
    "q_dedup_ngram_jaccard" -> QueryDef(
      (s, d) =>
        Dedup.ngramJaccard(Tables.documents(s, d))
          .select(col("i"), col("j"),
            floor(col("jaccard") * 10000).cast("long").as("jaccard_bp"))
          .filter(col("jaccard_bp") >= 5000)
          .orderBy("i", "j"),
      Some(s"""WITH $shCte,
              |rare AS (SELECT w FROM shd GROUP BY w HAVING count(*) <= 3),
              |rs AS (SELECT shd.doc_id, shd.w FROM shd JOIN rare ON rare.w = shd.w),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              |  FROM rs a JOIN rs b ON a.w = b.w AND a.doc_id < b.doc_id),
              |$jaccardSql
              |SELECT i, j, jaccard_bp FROM jac
              |WHERE jaccard_bp >= 5000 ORDER BY i, j""".stripMargin)
    ),

    // Asymmetric containment: |A∩B| / |A| catches a short doc contained
    // in a long one, which symmetric Jaccard dilutes. Candidates from
    // the rare-shingle inverted index; exact-count verification; both
    // directions emitted (basis points — exact integer ratios).
    "q_dedup_containment" -> QueryDef(
      (s, d) =>
        Dedup.containment(Tables.documents(s, d), threshold = 0.9)
          .select(col("i"), col("j"), col("c"), col("ni"), col("nj"),
            floor(col("containment_i") * 10000).cast("long").as("ci_bp"),
            floor(col("containment_j") * 10000).cast("long").as("cj_bp"))
          .orderBy("i", "j"),
      Some(s"""WITH $shCte,
              |rare AS (SELECT w FROM shd GROUP BY w HAVING count(*) <= 3),
              |rs AS (SELECT shd.doc_id, shd.w FROM shd JOIN rare ON rare.w = shd.w),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              |  FROM rs a JOIN rs b ON a.w = b.w AND a.doc_id < b.doc_id),
              |common AS (
              |  SELECT x.doc_id AS i, y.doc_id AS j, count(*) AS c
              |  FROM cand JOIN shd x ON x.doc_id = cand.i
              |            JOIN shd y ON y.doc_id = cand.j AND y.w = x.w
              |  GROUP BY x.doc_id, y.doc_id),
              |scored AS (
              |  SELECT common.i, common.j, c, ci.n AS ni, cj.n AS nj,
              |    c::DOUBLE / ci.n AS ci_c, c::DOUBLE / cj.n AS cj_c
              |  FROM common
              |  JOIN cnt ci ON ci.doc_id = common.i
              |  JOIN cnt cj ON cj.doc_id = common.j)
              |SELECT i, j, c, ni, nj,
              |  CAST(floor(ci_c * 10000) AS BIGINT) AS ci_bp,
              |  CAST(floor(cj_c * 10000) AS BIGINT) AS cj_bp
              |FROM scored WHERE ci_c >= 0.9 OR cj_c >= 0.9
              |ORDER BY i, j""".stripMargin)
    ),

    // Near-dup pairs → connected components → survivor per cluster.
    // Spark runs iterative min-label propagation; the oracle resolves
    // components with a recursive transitive-closure CTE over the same
    // pairs. Signatures are the md5 family the oracle replays, via the
    // zero-shuffle graft_word_minhash kernel, so Spark and the oracle
    // band and verify the same pair set.
    "q_dedup_clusters" -> QueryDef(
      (s, d) => {
        val pairs = Dedup.minhashLsh(Tables.documents(s, d))
          .select("i", "j")
        Dedup.survivors(pairs).orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE ${PipelineQueries.minhashPairsCte},
              |edges AS (SELECT i AS a, j AS b FROM pairs
              |          UNION ALL SELECT j AS a, i AS b FROM pairs),
              |reach AS (
              |  SELECT a AS doc_id, b AS r FROM edges
              |  UNION
              |  SELECT re.doc_id, e.b AS r FROM reach re JOIN edges e ON e.a = re.r),
              |labels AS (
              |  SELECT doc_id, least(doc_id, min(r)) AS cluster_id
              |  FROM reach GROUP BY doc_id)
              |SELECT cluster_id, min(doc_id) AS keep_id, count(*) AS cluster_size
              |FROM labels GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)
    ),

    // Score-based survivor policy: keep the highest-quality member of
    // each duplicate cluster (ties: lowest id) instead of the min-id —
    // the production policy when a quality signal exists. Quality is the
    // integer-basis-points score the curation pipeline uses.
    "q_dedup_survivors_quality" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // md5 family (the oracle's) — see q_dedup_clusters' r10 note
        val pairs = Dedup.minhashLsh(docs).select("i", "j")
        val scored = docs.select(col("doc_id"),
          floor(graft.ops.TextAnalysis.qualityScore(col("text")) * 10000)
            .cast("long").as("quality_bp"))
        Dedup.survivorsBy(pairs, scored, "quality_bp").orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE ${PipelineQueries.minhashPairsCte},
              |edges AS (SELECT i AS a, j AS b FROM pairs
              |          UNION ALL SELECT j AS a, i AS b FROM pairs),
              |reach AS (
              |  SELECT a AS doc_id, b AS r FROM edges
              |  UNION
              |  SELECT re.doc_id, e.b AS r FROM reach re JOIN edges e ON e.a = re.r),
              |labels AS (
              |  SELECT doc_id, least(doc_id, min(r)) AS cluster_id
              |  FROM reach GROUP BY doc_id),
              |scored AS (
              |  SELECT doc_id,
              |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
              |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
              |      + least((length(replace(text, ' ', ''))::DOUBLE / len(toks))
              |          / 8.0, 1.0) * 0.3) * 10000) AS BIGINT) AS quality_bp
              |  FROM (SELECT doc_id, text,
              |          list_filter(string_split(text, ' '), x -> x <> '') AS toks
              |        FROM documents)),
              |members AS (
              |  SELECT l.cluster_id, l.doc_id, s.quality_bp
              |  FROM labels l JOIN scored s USING (doc_id))
              |SELECT cluster_id,
              |  first(doc_id ORDER BY quality_bp DESC, doc_id) AS keep_id,
              |  first(quality_bp ORDER BY quality_bp DESC, doc_id) AS keep_score,
              |  count(*) AS cluster_size
              |FROM members GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)
    ),

    // Embedding-cosine near-dup pairs (threshold tuned to the corpus).
    // Exact baseline: blocked equi-join self-pairing (shuffle hash join on
    // vec_id % 8 — no BroadcastNestedLoopJoin), same rows as the naive
    // all-pairs formulation the oracle states declaratively.
    "q_dedup_embedding" -> QueryDef(
      (s, d) =>
        graft.ops.Similarity.exactNearDupPairs(
            Tables.embeddings(s, d), thresholdBp = 4000)
          .orderBy("i", "j"),
      Some("""SELECT a.vec_id AS i, b.vec_id AS j,
             |  CAST(floor(
             |    list_reduce(list_transform(generate_series(1, len(a.embedding)),
             |        x -> a.embedding[x]::DOUBLE * b.embedding[x]::DOUBLE),
             |      (s, v) -> s + v)
             |    / (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)),
             |          x -> a.embedding[x]::DOUBLE * a.embedding[x]::DOUBLE), (s, v) -> s + v))
             |     * sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)),
             |          x -> b.embedding[x]::DOUBLE * b.embedding[x]::DOUBLE), (s, v) -> s + v)))
             |    * 10000) AS BIGINT) AS cos_bp
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE cos_bp >= 4000
             |ORDER BY i, j""".stripMargin)
    ),

    // Corpus-scale variant: LSH-bucketed candidates (equi-join on md5
    // hyperplane bucket signatures, 12 tables × 4 planes) + exact-cosine
    // verify. DuckDB replays the identical index, so the compare is exact;
    // recall vs the exact baseline is measured in DedupSimilaritySpec.
    "q_dedup_embedding_lsh" -> QueryDef(
      (s, d) =>
        graft.ops.Similarity.lshNearDupPairs(
            Tables.embeddings(s, d), dim = 64, thresholdBp = 4000,
            nPlanes = 4, nTables = 12)
          .orderBy("i", "j"),
      Some("""WITH grid AS (
             |  SELECT t.t, p.p FROM
             |    (SELECT unnest(generate_series(0, 11)) AS t) t,
             |    (SELECT unnest(generate_series(0, 3)) AS p) p),
             |proj AS (
             |  SELECT e.vec_id, g.t, g.p,
             |    list_reduce(list_transform(generate_series(1, 64),
             |      h -> e.embedding[h]::DOUBLE *
             |        (CASE WHEN (instr('0123456789abcdef',
             |            substring(md5(g.t::VARCHAR || ':' || g.p::VARCHAR || ':'
             |                          || (h - 1)::VARCHAR), 2, 1)) - 1) % 2 = 1
             |          THEN 1.0 ELSE -1.0 END)),
             |      (s, v) -> s + v) AS s
             |  FROM embeddings e, grid g),
             |buckets AS (
             |  SELECT vec_id, t,
             |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p)
             |      AS b
             |  FROM proj GROUP BY vec_id, t),
             |cand AS (
             |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
             |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.b = b.b
             |  WHERE a.vec_id < b.vec_id)
             |SELECT cand.i, cand.j,
             |  CAST(floor(
             |    list_reduce(list_transform(generate_series(1, len(a.embedding)),
             |        x -> a.embedding[x]::DOUBLE * b.embedding[x]::DOUBLE),
             |      (s, v) -> s + v)
             |    / (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)),
             |          x -> a.embedding[x]::DOUBLE * a.embedding[x]::DOUBLE), (s, v) -> s + v))
             |     * sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)),
             |          x -> b.embedding[x]::DOUBLE * b.embedding[x]::DOUBLE), (s, v) -> s + v)))
             |    * 10000) AS BIGINT) AS cos_bp
             |FROM cand
             |JOIN embeddings a ON a.vec_id = cand.i
             |JOIN embeddings b ON b.vec_id = cand.j
             |WHERE cos_bp >= 4000
             |ORDER BY i, j""".stripMargin)
    ),

    // Record linkage via phonetic blocking — the name-key dedup family
    // LSH shingles mis-serve: candidates from an equi-join on a
    // Soundex-class key, exact Levenshtein verify on candidates only.
    // The fixture derives a two-token "name" per document and adds one
    // variant record per entity under key-preserving corruptions
    // (vowel substitution / adjacent duplication / exact copy), so
    // every true pair shares a block BY CONSTRUCTION and the oracle
    // replays key, candidates, and distances bit-for-bit.
    "q_dedup_er_phonetic" -> QueryDef(
      (s, d) => {
        import graft.ops.{EntityResolution, TextAnalysis}
        val nm0 = array_join(
          slice(filter(TextAnalysis.tokens(lower(col("text"))),
            t => t.rlike("^[a-z]+$")), 1, 2), " ")
        val base = Tables.documents(s, d)
          .select(col("doc_id").as("pk"), nm0.as("nm"))
          .filter(length(col("nm")) >= 4)
        val opos = instr(col("nm").substr(lit(2), length(col("nm"))), "o")
        val orig = base.select((col("pk") * 2).as("rec_id"),
          col("nm").as("name"))
        val variant = base.select((col("pk") * 2 + 1).as("rec_id"),
          when(pmod(col("pk"), lit(3)) === 0 && opos > 0,
            concat(col("nm").substr(lit(1), opos), lit("a"),
              col("nm").substr(opos + 2, length(col("nm")))))
            .when(pmod(col("pk"), lit(3)) === 1 && length(col("nm")) >= 4,
              concat(col("nm").substr(lit(1), lit(4)),
                col("nm").substr(lit(4), lit(1)),
                col("nm").substr(lit(5), length(col("nm")))))
            .otherwise(col("nm")).as("name"))
        EntityResolution.blockedMatches(
            orig.unionByName(variant), "rec_id", "name", maxDist = 2)
          .select("pkey", "id1", "id2", "name1", "name2", "dist")
          .orderBy("id1", "id2")
      },
      Some("""WITH base AS (
             |  SELECT doc_id AS pk,
             |    array_to_string((list_filter(
             |      list_filter(string_split(lower(text), ' '), x -> x <> ''),
             |      t -> regexp_matches(t, '^[a-z]+$')))[1:2], ' ') AS nm
             |  FROM documents),
             |b2 AS (SELECT pk, nm FROM base WHERE length(nm) >= 4),
             |orig AS (SELECT pk * 2 AS rec_id, nm AS name FROM b2),
             |var AS (
             |  SELECT pk * 2 + 1 AS rec_id,
             |    CASE
             |      WHEN pk % 3 = 0 AND strpos(substr(nm, 2), 'o') > 0 THEN
             |        substr(nm, 1, strpos(substr(nm, 2), 'o')) || 'a'
             |        || substr(nm, strpos(substr(nm, 2), 'o') + 2)
             |      WHEN pk % 3 = 1 AND length(nm) >= 4 THEN
             |        substr(nm, 1, 4) || substr(nm, 4, 1) || substr(nm, 5)
             |      ELSE nm END AS name
             |  FROM b2),
             |recs AS (SELECT * FROM orig UNION ALL SELECT * FROM var),
             |keyed AS (
             |  SELECT rec_id, name,
             |    upper(substr(name, 1, 1)) || rpad(substr(
             |      regexp_replace(regexp_replace(regexp_replace(
             |      regexp_replace(regexp_replace(regexp_replace(
             |        regexp_replace(translate(upper(substr(name, 2)),
             |          'BFPVCGJKQSXZDTLMNRAEIOUYHW ', '111122222222334556'),
             |          '[^1-6]', '', 'g'),
             |        '11+', '1', 'g'), '22+', '2', 'g'), '33+', '3', 'g'),
             |        '44+', '4', 'g'), '55+', '5', 'g'), '66+', '6', 'g'),
             |      1, 3), 3, '0') AS pkey
             |  FROM recs)
             |SELECT a.pkey, a.rec_id AS id1, b.rec_id AS id2,
             |  a.name AS name1, b.name AS name2,
             |  levenshtein(a.name, b.name) AS dist
             |FROM keyed a JOIN keyed b
             |  ON a.pkey = b.pkey AND a.rec_id < b.rec_id
             |WHERE levenshtein(a.name, b.name) <= 2
             |ORDER BY id1, id2""".stripMargin)
    ),

    // Fellegi-Sunter scoring over the phonetic-blocked pairs: variants
    // corrupt ONE field by pk%4 (0 exact copy, 1 lang, 2 band, 3 a
    // vowel-swap name typo that stays in its soundex block), so the
    // verdict spread exercises both thresholds — name agreement (rare
    // values, big weight) carries corrupted-field pairs to `match`,
    // name disagreement drops to `possible`/`nonmatch` on the chance
    // fields alone. Both engines estimate u from the value counts AND
    // replay the fixed-point log-odds weights.
    "q_dedup_er_fs" -> QueryDef(
      (s, d) => {
        import graft.ops.{EntityResolution, TextAnalysis}
        val nm0 = array_join(
          slice(filter(TextAnalysis.tokens(lower(col("text"))),
            t => t.rlike("^[a-z]+$")), 1, 2), " ")
        val base = Tables.documents(s, d)
          .select(col("doc_id").as("pk"), nm0.as("nm"), col("lang"),
            expr("n_chars div 200").as("band"))
          .filter(length(col("nm")) >= 4)
        val opos = instr(col("nm").substr(lit(2), length(col("nm"))), "o")
        val orig = base.select((col("pk") * 2).as("rec_id"),
          col("nm").as("name"), col("lang"), col("band"))
        val variant = base.select((col("pk") * 2 + 1).as("rec_id"),
          when(pmod(col("pk"), lit(4)) === 3 && opos > 0,
            concat(col("nm").substr(lit(1), opos), lit("a"),
              col("nm").substr(opos + 2, length(col("nm")))))
            .otherwise(col("nm")).as("name"),
          when(pmod(col("pk"), lit(4)) === 1, concat(col("lang"), lit("x")))
            .otherwise(col("lang")).as("lang"),
          when(pmod(col("pk"), lit(4)) === 2, col("band") + 1)
            .otherwise(col("band")).as("band"))
        val recs = orig.unionByName(variant)
          .withColumn("pkey", EntityResolution.phoneticKey(col("name")))
        EntityResolution.fellegiSunter(recs, "rec_id", "pkey",
            Seq("name", "lang", "band"), mBp = 9500L)
          .orderBy("id1", "id2")
      },
      Some(s"""WITH RECURSIVE base AS (
             |  SELECT doc_id AS pk,
             |    array_to_string((list_filter(
             |      list_filter(string_split(lower(text), ' '), x -> x <> ''),
             |      t -> regexp_matches(t, '^[a-z]+$$')))[1:2], ' ') AS nm,
             |    lang, n_chars // 200 AS band
             |  FROM documents),
             |b2 AS (SELECT * FROM base WHERE length(nm) >= 4),
             |orig AS (
             |  SELECT pk * 2 AS rec_id, nm AS name, lang, band FROM b2),
             |var AS (
             |  SELECT pk * 2 + 1 AS rec_id,
             |    CASE WHEN pk % 4 = 3 AND strpos(substr(nm, 2), 'o') > 0 THEN
             |      substr(nm, 1, strpos(substr(nm, 2), 'o')) || 'a'
             |      || substr(nm, strpos(substr(nm, 2), 'o') + 2)
             |    ELSE nm END AS name,
             |    CASE WHEN pk % 4 = 1 THEN lang || 'x' ELSE lang END AS lang,
             |    CASE WHEN pk % 4 = 2 THEN band + 1 ELSE band END AS band
             |  FROM b2),
             |recs AS MATERIALIZED (
             |  SELECT * FROM orig UNION ALL SELECT * FROM var),
             |keyed AS MATERIALIZED (
             |  SELECT rec_id, name, lang, band,
             |    upper(substr(name, 1, 1)) || rpad(substr(
             |      regexp_replace(regexp_replace(regexp_replace(
             |      regexp_replace(regexp_replace(regexp_replace(
             |        regexp_replace(translate(upper(substr(name, 2)),
             |          'BFPVCGJKQSXZDTLMNRAEIOUYHW ', '111122222222334556'),
             |          '[^1-6]', '', 'g'),
             |        '11+', '1', 'g'), '22+', '2', 'g'), '33+', '3', 'g'),
             |        '44+', '4', 'g'), '55+', '5', 'g'), '66+', '6', 'g'),
             |      1, 3), 3, '0') AS pkey
             |  FROM recs),
             |nrec AS (SELECT CAST(count(*) AS BIGINT) AS n FROM recs),
             |fstat AS MATERIALIZED (
             |  SELECT 'name' AS f, CAST(sum(c*c) AS BIGINT) AS unum
             |  FROM (SELECT count(*) AS c FROM recs GROUP BY name)
             |  UNION ALL
             |  SELECT 'lang', CAST(sum(c*c) AS BIGINT)
             |  FROM (SELECT count(*) AS c FROM recs GROUP BY lang)
             |  UNION ALL
             |  SELECT 'band', CAST(sum(c*c) AS BIGINT)
             |  FROM (SELECT count(*) AS c FROM recs GROUP BY band)),
             |vals AS (SELECT DISTINCT x FROM (
             |  SELECT 9500 AS x
             |  UNION ALL SELECT 500
             |  UNION ALL SELECT 10000
             |  UNION ALL SELECT n FROM nrec
             |  UNION ALL SELECT unum FROM fstat
             |  UNION ALL SELECT n * n - unum
             |    FROM fstat CROSS JOIN nrec) WHERE x > 0),
             |${TextQueries.pseudoLog2Sql("w", "vals")},
             |wt AS MATERIALIZED (
             |  SELECT f, lm.l - l4.l + 2 * ln.l - lu.l AS wa,
             |    CASE WHEN unum = n * n THEN -16777216
             |         ELSE lx.l - l4.l + 2 * ln.l - ld.l END AS wd
             |  FROM fstat CROSS JOIN nrec
             |  JOIN lgw lm ON lm.x = 9500
             |  JOIN lgw lx ON lx.x = 500
             |  JOIN lgw l4 ON l4.x = 10000
             |  JOIN lgw ln ON ln.x = n
             |  JOIN lgw lu ON lu.x = unum
             |  LEFT JOIN lgw ld ON ld.x = n * n - unum),
             |prs AS (
             |  SELECT a.rec_id AS id1, b.rec_id AS id2,
             |    CASE WHEN a.name = b.name THEN 1 ELSE 0 END AS agn,
             |    CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS agl,
             |    CASE WHEN a.band = b.band THEN 1 ELSE 0 END AS agb
             |  FROM keyed a JOIN keyed b
             |    ON a.pkey = b.pkey AND a.rec_id < b.rec_id),
             |sc AS (
             |  SELECT id1, id2, CAST(agn + agl + agb AS BIGINT) AS n_agree,
             |    CAST(CASE WHEN agn = 1 THEN wn.wa ELSE wn.wd END
             |       + CASE WHEN agl = 1 THEN wl.wa ELSE wl.wd END
             |       + CASE WHEN agb = 1 THEN wb.wa ELSE wb.wd END
             |      AS BIGINT) AS score_fp
             |  FROM prs,
             |    (SELECT wa, wd FROM wt WHERE f = 'name') wn,
             |    (SELECT wa, wd FROM wt WHERE f = 'lang') wl,
             |    (SELECT wa, wd FROM wt WHERE f = 'band') wb)
             |SELECT id1, id2, n_agree, score_fp,
             |  CASE WHEN score_fp >= 196608 THEN 'match'
             |       WHEN score_fp >= 0 THEN 'possible'
             |       ELSE 'nonmatch' END AS verdict
             |FROM sc ORDER BY id1, id2""".stripMargin)
    ),

    // Character-shingle MinHash+LSH over the zh slice — the
    // no-whitespace-script dedup path: grams are taken over
    // whitespace-STRIPPED text (the FULL class incl. tabs and U+3000,
    // see Dedup.WhitespaceClass), so a re-segmented re-post (planted:
    // every zh doc re-appears under id+10^9 — an offset provably
    // disjoint from real doc_ids at ANY SF — re-spaced with TABS, the
    // adversarial variant plain space-stripping misses; word shingles
    // see DISJOINT token streams) has the identical gram set and
    // verifies at jaccard 1.0. Same signature/banding/verify machinery
    // as the word path; DuckDB replays grams, signatures, bands, and
    // every Jaccard.
    "q_dedup_minhash_char" -> QueryDef(
      (s, d) => {
        val zh = Tables.documents(s, d).filter(col("lang") === "zh")
          .select("doc_id", "text")
        val respaced = zh.select((col("doc_id") + 1000000000L).as("doc_id"),
          regexp_replace(col("text"), " ", "\t").as("text"))
        // pruneBp = the query's own outer bp cut below — the verify's
        // exact length prefilter (see Dedup.verifyJaccard) drops pairs
        // that provably cannot reach 8000 bp before the gram expansion
        Dedup.minhashLshChars(zh.unionByName(respaced), threshold = 0.0,
            pruneBp = 8000L)
          .select(col("i"), col("j"),
            floor(col("jaccard") * 10000).cast("long").as("jaccard_bp"))
          .filter(col("jaccard_bp") >= 8000)
          .orderBy("i", "j")
      },
      Some("""WITH zh AS (
             |  SELECT doc_id, text FROM documents WHERE lang = 'zh'
             |  UNION ALL
             |  SELECT doc_id + 1000000000, replace(text, ' ', chr(9))
             |  FROM documents WHERE lang = 'zh'),
             |nrm AS (
             |  SELECT doc_id,
             |    regexp_replace(text, '[\t\n\x0B\f\r\p{Z}]+', '', 'g') AS ct
             |  FROM zh),
             |shd AS (
             |  SELECT DISTINCT doc_id, substring(ct, i, 5) AS w
             |  FROM nrm, unnest(generate_series(1, length(ct) - 4)) AS g(i)
             |  WHERE length(ct) >= 5),
             |cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
             |mh AS (
             |  SELECT doc_id,
             |    min(md5('0' || '|' || w)) AS m0, min(md5('1' || '|' || w)) AS m1,
             |    min(md5('2' || '|' || w)) AS m2, min(md5('3' || '|' || w)) AS m3,
             |    min(md5('4' || '|' || w)) AS m4, min(md5('5' || '|' || w)) AS m5,
             |    min(md5('6' || '|' || w)) AS m6, min(md5('7' || '|' || w)) AS m7
             |  FROM shd GROUP BY doc_id),
             |banded AS (
             |  SELECT doc_id, md5(m0 || m1) AS b0, md5(m2 || m3) AS b1,
             |         md5(m4 || m5) AS b2, md5(m6 || m7) AS b3
             |  FROM mh),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
             |  FROM banded a JOIN banded b ON a.doc_id < b.doc_id
             |   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
             |common AS (
             |  SELECT x.doc_id AS i, y.doc_id AS j, count(*) AS c
             |  FROM cand JOIN shd x ON x.doc_id = cand.i
             |            JOIN shd y ON y.doc_id = cand.j AND y.w = x.w
             |  GROUP BY x.doc_id, y.doc_id),
             |jac AS (
             |  SELECT i, j,
             |    CAST(floor(c::DOUBLE / (ci.n + cj.n - c) * 10000) AS BIGINT)
             |      AS jaccard_bp
             |  FROM common
             |  JOIN cnt ci ON ci.doc_id = i
             |  JOIN cnt cj ON cj.doc_id = j)
             |SELECT i, j, jaccard_bp FROM jac
             |WHERE jaccard_bp >= 8000 ORDER BY i, j""".stripMargin)
    ),

    // Exact set-similarity join via prefix filtering (Bayardo et al.
    // 2007): rarest-first global shingle order, per-doc prefix of
    // n − ⌈t·n⌉ + 1 shingles, candidates ONLY from prefix collisions —
    // complete by the pigeonhole bound, no probabilistic recall — then
    // the shared exact-count verify. DuckDB replays the df order, the
    // prefix ranks, the candidate join, and every Jaccard.
    "q_dedup_prefix_filter" -> QueryDef(
      (s, d) =>
        Dedup.prefixFilterJaccard(Tables.documents(s, d),
            thresholdBp = 8000)
          .orderBy("i", "j"),
      Some(s"""WITH $shCte,
             |dfc AS (SELECT w, count(*) AS df FROM shd GROUP BY w),
             |pref AS (
             |  SELECT doc_id, w FROM (
             |    SELECT s.doc_id, s.w, c.n,
             |      row_number() OVER (PARTITION BY s.doc_id
             |                         ORDER BY d.df, s.w) AS rnk
             |    FROM shd s JOIN dfc d ON d.w = s.w
             |    JOIN cnt c ON c.doc_id = s.doc_id)
             |  WHERE rnk <= n - (8000 * n + 9999) // 10000 + 1),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
             |  FROM pref a JOIN pref b
             |    ON a.w = b.w AND a.doc_id < b.doc_id),
             |$jaccardSql
             |SELECT i, j, jaccard_bp FROM jac
             |WHERE jaccard_bp >= 8000 ORDER BY i, j""".stripMargin)
    ),

    // Soft dedup: down-WEIGHT duplicates instead of deleting them — each
    // near-dup cluster's docs get weight 10⁴/cluster_size so the cluster
    // contributes one doc's worth of training mass total (the
    // sampling-weight formulation of dedup; removal is the weight_bp=0|10⁴
    // special case and loses the cluster's internal variation).
    // Singletons keep weight 10⁴ via their own id as the cluster label.
    // Output is the cluster-size distribution with per-size weights and
    // the mass each size class contributes — corpus-bounded rows, no
    // driver-sized artifacts; the oracle replays the pair closure, the
    // singleton coalesce, and the integer weight arithmetic.
    "q_dedup_soft_weights" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // md5 family (the oracle's) — see q_dedup_clusters' r10 note
        val pairs = Dedup.minhashLsh(docs).select("i", "j")
        val clusters = Dedup.duplicateClusters(pairs)
        val lab = docs.select("doc_id")
          .join(clusters, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cid"))
        lab.groupBy("cid").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(
            count(lit(1)).as("n_clusters"),
            sum("cluster_size").as("n_docs"))
          .withColumn("weight_bp", expr("10000 div cluster_size"))
          .withColumn("mass_bp", expr("n_docs * weight_bp"))
          .orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE ${PipelineQueries.minhashPairsCte},
              |edges AS (SELECT i AS a, j AS b FROM pairs
              |          UNION ALL SELECT j AS a, i AS b FROM pairs),
              |reach AS (
              |  SELECT a AS doc_id, b AS r FROM edges
              |  UNION
              |  SELECT re.doc_id, e.b AS r
              |  FROM reach re JOIN edges e ON e.a = re.r),
              |labels AS (
              |  SELECT doc_id, least(doc_id, min(r)) AS cluster_id
              |  FROM reach GROUP BY doc_id),
              |lab AS (
              |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cid
              |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
              |sizes AS (
              |  SELECT cid, count(*)::BIGINT AS cluster_size
              |  FROM lab GROUP BY cid)
              |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
              |  CAST(sum(cluster_size) AS BIGINT) AS n_docs,
              |  10000 // cluster_size AS weight_bp,
              |  CAST(sum(cluster_size) AS BIGINT) * (10000 // cluster_size)
              |    AS mass_bp
              |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)
    ),

    // LSH-recall audit: the probabilistic candidate generator (MinHash
    // banding, 8 hashes × 4 bands) measured against EXACT ground truth
    // from the prefix-filter join (complete at the threshold by the
    // pigeonhole argument) — the number a pipeline owner needs before
    // trusting banded LSH at 100 TB, computed as a query instead of
    // assumed from the (1-(1-s^r)^b) curve. Both generators run over
    // ONE persisted shingle frame (the corpus is scanned and exploded
    // once); truth ∪ LSH pairs meet in a single full-outer join and
    // collapse to one audit row. n_lsh_only is a structural invariant
    // (both sides verify exact Jaccard on the same sets, so LSH can
    // never contain a pair truth lacks) — emitted so a violation would
    // hash-mismatch rather than pass silently.
    "q_dedup_lsh_recall" -> QueryDef(
      (s, d) => {
        // r9 restructure: both candidate generators feed ONE union
        // (tagged with provenance flags) and the exact-Jaccard verify
        // runs ONCE over it, instead of once per generator + a
        // full-outer join of the two verified sets — the candidate
        // sets overlap almost entirely (banding recalls a subset of
        // the exact-recall prefix pairs), so the old plan verified the
        // same pairs twice. Per-pair jaccard is the same computed
        // value either way, and each branch's ORIGINAL threshold form
        // is kept (truth: floor(j·10⁴) ≥ 8000; LSH: j ≥ 0.8), so the
        // audit counts are bit-identical (oracle-verified at all SFs).
        // r10 restructure on top: (a) the LSH generator's signatures
        // come from the graft_word_minhash kernel (zero-shuffle, bit-
        // identical lanes) instead of the vocab-distinct + join +
        // groupBy pipeline over sh; (b) the per-doc gram-count
        // aggregate is computed ONCE (persisted) and shared between
        // the prefix filter's size column and the verify's ni/nj
        // joins — the audit previously aggregated the gram stream by
        // doc_id twice. Same counts, same pairs, same audit row.
        val docs = Tables.documents(s, d)
        val side = graft.util.Partitioning.indexSideFor(docs)
        val sh = graft.util.AutoUnpersist.persistScoped(
          Dedup.shingles(docs, 3))
        val counts = graft.util.AutoUnpersist.persistScoped(
          sh.groupBy("doc_id").agg(count(lit(1)).as("n")))
        val pcands = Dedup.prefixFilterCandidates(sh, 8000, side,
            Some(counts))
          .select(col("i"), col("j"), lit(1L).as("_t"), lit(0L).as("_l"))
        val lcands = Dedup.lshCandidates(
            Dedup.minhashSignaturesKernel(docs, 8, 3),
            8, 2, 5000, side)
          .select(col("i"), col("j"), lit(0L).as("_t"), lit(1L).as("_l"))
        val cands = pcands.unionByName(lcands)
          .groupBy("i", "j").agg(max("_t").as("_t"), max("_l").as("_l"))
        // inline verify (the verifyJaccard shape, carrying the flags),
        // with the r10 length prefilter ahead of the gram expansion:
        // every audit sum requires jaccard ≥ 0.8 in one of its two cut
        // forms (floor(j·10⁴) ≥ 8000 / j ≥ 0.8), and jaccard ≤
        // min(ni,nj)/max(ni,nj), so pairs failing the 7999-bp size
        // ratio contribute 0 to every sum — dropping them before the
        // candidates × grams expansion changes no output value
        val sized = cands
          .join(side(counts.select(col("doc_id").as("i"), col("n").as("ni"))), "i")
          .join(side(counts.select(col("doc_id").as("j"), col("n").as("nj"))), "j")
          .filter(least(col("ni"), col("nj")) * 10000L >=
            lit(7999L) * greatest(col("ni"), col("nj")))
        val scored = sized
          .join(side(sh.select(col("doc_id").as("i"), col("w"))), "i")
          .join(side(sh.select(col("doc_id").as("j"), col("w"))), Seq("j", "w"))
          .groupBy("i", "j", "ni", "nj")
          .agg(count(lit(1)).as("c"), max("_t").as("_t"), max("_l").as("_l"))
          .withColumn("jaccard",
            col("c").cast("double") / (col("ni") + col("nj") - col("c")))
        val inT = col("_t") === 1L &&
          floor(col("jaccard") * 10000).cast("long") >= 8000L
        val inL = col("_l") === 1L && col("jaccard") >= 0.8
        scored.agg(
            sum(when(inT, 1L).otherwise(0L)).as("n_truth"),
            sum(when(inL, 1L).otherwise(0L)).as("n_lsh"),
            sum(when(inT && inL, 1L).otherwise(0L)).as("n_both"),
            sum(when(inL && !inT, 1L).otherwise(0L)).as("n_lsh_only"))
          .withColumn("recall_bp",
            when(col("n_truth") > 0, expr("n_both * 10000 div n_truth")))
      },
      Some(s"""WITH ${PipelineQueries.minhashPairsCte},
             |pdfc AS (SELECT w, count(*) AS df FROM shd GROUP BY w),
             |ppref AS (
             |  SELECT doc_id, w FROM (
             |    SELECT s.doc_id, s.w, c.n,
             |      row_number() OVER (PARTITION BY s.doc_id
             |                         ORDER BY d.df, s.w) AS rnk
             |    FROM shd s JOIN pdfc d ON d.w = s.w
             |    JOIN cnt c ON c.doc_id = s.doc_id)
             |  WHERE rnk <= n - (8000 * n + 9999) // 10000 + 1),
             |pcand AS (
             |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
             |  FROM ppref a JOIN ppref b
             |    ON a.w = b.w AND a.doc_id < b.doc_id),
             |pcommon AS (
             |  SELECT x.doc_id AS i, y.doc_id AS j, count(*) AS c
             |  FROM pcand JOIN shd x ON x.doc_id = pcand.i
             |             JOIN shd y ON y.doc_id = pcand.j AND y.w = x.w
             |  GROUP BY 1, 2),
             |truth AS (
             |  SELECT i, j FROM pcommon
             |  JOIN cnt ci ON ci.doc_id = i
             |  JOIN cnt cj ON cj.doc_id = j
             |  WHERE CAST(floor(c::DOUBLE / (ci.n + cj.n - c) * 10000)
             |             AS BIGINT) >= 8000),
             |m AS (
             |  SELECT (t.i IS NOT NULL) AS in_truth,
             |         (p.i IS NOT NULL) AS in_lsh
             |  FROM truth t FULL OUTER JOIN pairs p
             |    ON p.i = t.i AND p.j = t.j)
             |SELECT
             |  CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_truth,
             |  CAST(sum(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_lsh,
             |  CAST(sum(CASE WHEN in_truth AND in_lsh THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_both,
             |  CAST(sum(CASE WHEN in_lsh AND NOT in_truth THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_lsh_only,
             |  CASE WHEN sum(CASE WHEN in_truth THEN 1 ELSE 0 END) > 0
             |    THEN CAST(sum(CASE WHEN in_truth AND in_lsh THEN 1 ELSE 0
             |      END) AS BIGINT) * 10000
             |      // CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END)
             |           AS BIGINT)
             |  END AS recall_bp
             |FROM m""".stripMargin)
    ),

    // Per-source duplication dashboard: exact-dup accounting by the
    // battery's content key (md5 of the first 5 tokens — the same key
    // q_dedup_exact groups on; raw full-text hashing finds nothing in
    // this corpus because the planted dups vary their tails), split
    // into within-source and cross-source duplication — the triage
    // numbers that decide which crawl gets re-scoped before any
    // near-dup machinery runs. One hash groupBy + one join back; rates
    // in integer basis points.
    "q_dedup_source_report" -> QueryDef(
      (s, d) => {
        val toks = split(col("text"), " ")
        val h = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            md5(concat_ws(" ",
              (1 to 5).map(i => element_at(toks, i)): _*)).as("fp"))
        val groups = h.groupBy("fp")
          .agg(count(lit(1)).as("g_n"),
            countDistinct("source").as("g_srcs"))
        h.join(groups, "fp")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("fp").as("n_distinct"),
            sum(when(col("g_n") > 1, 1L).otherwise(0L)).as("n_duped"),
            sum(when(col("g_srcs") > 1, 1L).otherwise(0L))
              .as("n_cross_source"))
          .withColumn("dup_rate_bp", expr("n_duped * 10000 div n_docs"))
          .withColumn("cross_rate_bp",
            expr("n_cross_source * 10000 div n_docs"))
          .orderBy("source")
      },
      Some("""WITH h AS (
             |  SELECT doc_id, source,
             |    md5(array_to_string(string_split(text, ' ')[1:5], ' '))
             |      AS fp
             |  FROM documents),
             |g AS (
             |  SELECT fp, CAST(count(*) AS BIGINT) AS g_n,
             |    CAST(count(DISTINCT source) AS BIGINT) AS g_srcs
             |  FROM h GROUP BY fp)
             |SELECT h.source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT h.fp) AS BIGINT) AS n_distinct,
             |  CAST(sum(CASE WHEN g.g_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_duped,
             |  CAST(sum(CASE WHEN g.g_srcs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_cross_source,
             |  CAST(sum(CASE WHEN g.g_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    * 10000 // count(*) AS dup_rate_bp,
             |  CAST(sum(CASE WHEN g.g_srcs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    * 10000 // count(*) AS cross_rate_bp
             |FROM h JOIN g ON g.fp = h.fp
             |GROUP BY h.source ORDER BY h.source""".stripMargin)
    ),

    // Sorted-neighborhood record linkage over the same corrupted-name
    // fixture as the phonetic pass (Hernández & Stolfo 1995 merge/
    // purge): deterministic global rank (fixed first-char partitions +
    // driver-cumulated offsets — no sampled partitioner), neighbor-
    // bucket candidate join (each |Δrank| < w pair exactly once), exact
    // edit verify. The oracle states the SAME rank as one global
    // row_number — the two formulations must agree exactly.
    "q_dedup_er_sorted" -> QueryDef(
      (s, d) => {
        import graft.ops.{EntityResolution, TextAnalysis}
        val nm0 = array_join(
          slice(filter(TextAnalysis.tokens(lower(col("text"))),
            t => t.rlike("^[a-z]+$")), 1, 2), " ")
        val base = Tables.documents(s, d)
          .select(col("doc_id").as("pk"), nm0.as("nm"))
          .filter(length(col("nm")) >= 4)
        val opos = instr(col("nm").substr(lit(2), length(col("nm"))), "o")
        val orig = base.select((col("pk") * 2).as("rec_id"),
          col("nm").as("name"))
        val variant = base.select((col("pk") * 2 + 1).as("rec_id"),
          when(pmod(col("pk"), lit(3)) === 0 && opos > 0,
            concat(col("nm").substr(lit(1), opos), lit("a"),
              col("nm").substr(opos + 2, length(col("nm")))))
            .when(pmod(col("pk"), lit(3)) === 1 && length(col("nm")) >= 4,
              concat(col("nm").substr(lit(1), lit(4)),
                col("nm").substr(lit(4), lit(1)),
                col("nm").substr(lit(5), length(col("nm")))))
            .otherwise(col("nm")).as("name"))
        EntityResolution.sortedNeighborhood(
            orig.unionByName(variant), "rec_id", "name",
            w = 6, maxDist = 2)
          .orderBy("id1", "id2")
      },
      Some("""WITH base AS (
             |  SELECT doc_id AS pk,
             |    array_to_string((list_filter(
             |      list_filter(string_split(lower(text), ' '), x -> x <> ''),
             |      t -> regexp_matches(t, '^[a-z]+$')))[1:2], ' ') AS nm
             |  FROM documents),
             |b2 AS (SELECT pk, nm FROM base WHERE length(nm) >= 4),
             |orig AS (SELECT pk * 2 AS rec_id, nm AS name FROM b2),
             |var AS (
             |  SELECT pk * 2 + 1 AS rec_id,
             |    CASE
             |      WHEN pk % 3 = 0 AND strpos(substr(nm, 2), 'o') > 0 THEN
             |        substr(nm, 1, strpos(substr(nm, 2), 'o')) || 'a'
             |        || substr(nm, strpos(substr(nm, 2), 'o') + 2)
             |      WHEN pk % 3 = 1 AND length(nm) >= 4 THEN
             |        substr(nm, 1, 4) || substr(nm, 4, 1) || substr(nm, 5)
             |      ELSE nm END AS name
             |  FROM b2),
             |recs AS (SELECT * FROM orig UNION ALL SELECT * FROM var),
             |ranked AS (
             |  SELECT rec_id, name,
             |    row_number() OVER (ORDER BY name, rec_id) AS rk
             |  FROM recs)
             |SELECT a.rec_id AS id1, b.rec_id AS id2,
             |  a.name AS name1, b.name AS name2,
             |  b.rk - a.rk AS gap, levenshtein(a.name, b.name) AS dist
             |FROM ranked a JOIN ranked b
             |  ON b.rk > a.rk AND b.rk - a.rk <= 5
             |WHERE levenshtein(a.name, b.name) <= 2
             |ORDER BY id1, id2""".stripMargin)
    ),

    // Winnowing fingerprint matching (Schleimer et al. 2003 — the MOSS
    // plagiarism-detection core): min-hash-per-window selection with
    // the rightmost-tie rule, ~2/(w+1) of gram positions kept with a
    // GUARANTEE that any shared run of ≥ w+k-1 tokens is caught. The
    // single sortable key (md5 ‖ inverted zero-padded pos) makes the
    // window minimum replayable bit-for-bit; the df cap drops
    // boilerplate hashes before the pair join.
    "q_dedup_winnow" -> QueryDef(
      (s, d) =>
        graft.ops.Substring.winnowMatches(Tables.documents(s, d),
            k = 5, w = 4, maxDf = 8, minShared = 3L)
          .orderBy("i", "j"),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |g AS (
             |  SELECT doc_id, len(t) AS nt, i - 1 AS pos,
             |    md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
             |        || t[i+3] || ' ' || t[i+4])
             |      || '|' || lpad(CAST(9999999 - (i - 1) AS VARCHAR), 7, '0')
             |      AS key
             |  FROM toks, unnest(generate_series(1, len(t) - 4)) AS gs(i)
             |  WHERE len(t) >= 8),
             |wmin AS (
             |  SELECT doc_id, nt, pos,
             |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
             |                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
             |      AS wkey
             |  FROM g),
             |fp AS (
             |  SELECT DISTINCT doc_id, substring(wkey, 1, 32) AS fp_hash
             |  FROM wmin WHERE pos <= nt - 8),
             |dfq AS (
             |  SELECT fp_hash FROM fp GROUP BY 1 HAVING count(*) <= 8),
             |kept AS (SELECT fp.* FROM fp JOIN dfq USING (fp_hash)),
             |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
             |pairs AS (
             |  SELECT a.doc_id AS i, b.doc_id AS j,
             |    CAST(count(*) AS BIGINT) AS n_shared
             |  FROM kept a JOIN kept b
             |    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT i, j, n_shared, ci.n AS n_i, cj.n AS n_j,
             |  n_shared * 10000 // least(ci.n, cj.n) AS overlap_bp
             |FROM pairs
             |JOIN cnt ci ON ci.doc_id = pairs.i
             |JOIN cnt cj ON cj.doc_id = pairs.j
             |ORDER BY i, j""".stripMargin)
    )
  )
}
