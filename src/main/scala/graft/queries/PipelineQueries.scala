package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}
import graft.util.Tables

/** The end-to-end training-data curation pipeline — every stage is one of
  * the engine's operators, chained the way a real corpus build would run:
  *
  *   quality filter → language filter → exact dedup (5-token prefix key)
  *   → MinHash-LSH near-dedup (pairwise-dominance removal: the higher id
  *     of every verified near-dup pair is dropped)
  *   → surviving-corpus stats.
  *
  * Fully value-checked against DuckDB replaying the identical stages.
  */
object PipelineQueries extends QueryGroup {

  val defs: Map[String, QueryDef] = Map(
    "q_pipeline_curate" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // stage 1+2: quality + language gates (cheap, narrow — run first)
        val gated = docs
          .withColumn("quality_bp",
            floor(TextAnalysis.qualityScore(col("text")) * 10000).cast("long"))
          .filter(col("quality_bp") >= 4000 && col("lang") === "en")
        // stage 3: exact dedup on the 5-token prefix key, keep min doc_id
        val toks = split(col("text"), " ")
        val keyed = gated.withColumn("content_key",
          md5(concat_ws(" ", (1 to 5).map(i => element_at(toks, i)): _*)))
        val keepExact = keyed
          .groupBy("content_key").agg(min("doc_id").as("doc_id"))
          .join(keyed, Seq("content_key", "doc_id"))
        // stage 4: near-dedup — drop the higher id of each verified pair.
        // Signatures are the md5 family the oracle replays, via the
        // zero-shuffle graft_word_minhash kernel.
        val dupJ = Dedup.minhashLsh(docs)
          .select(col("j").as("doc_id")).distinct()
        val survivors = keepExact.join(dupJ, Seq("doc_id"), "left_anti")
        // stage 5: surviving-corpus stats
        survivors.agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
          floor(avg(col("quality_bp"))).cast("long").as("avg_quality_bp"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
      },
      Some(s"""WITH toksrc AS (
              |  SELECT doc_id, lang, text,
              |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
              |    string_split(text, ' ') AS rawtoks,
              |    length(replace(text, ' ', ''))::DOUBLE AS nosp
              |  FROM documents),
              |gated AS (
              |  SELECT doc_id, text, toks, rawtoks,
              |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
              |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
              |      + least((nosp / len(toks)) / 8.0, 1.0) * 0.3) * 10000) AS BIGINT)
              |      AS quality_bp
              |  FROM toksrc
              |  WHERE lang = 'en'),
              |q AS (SELECT * FROM gated WHERE quality_bp >= 4000),
              |keyed AS (
              |  SELECT *, md5(array_to_string(rawtoks[1:5], ' ')) AS content_key
              |  FROM q),
              |keep_exact AS (
              |  SELECT k.* FROM keyed k
              |  JOIN (SELECT content_key, min(doc_id) AS doc_id
              |        FROM keyed GROUP BY content_key) m
              |    ON k.content_key = m.content_key AND k.doc_id = m.doc_id),
              |${PipelineQueries.minhashPairsCte},
              |dupj AS (SELECT DISTINCT j AS doc_id FROM pairs),
              |survivors AS (
              |  SELECT * FROM keep_exact
              |  WHERE doc_id NOT IN (SELECT doc_id FROM dupj))
              |SELECT count(*) AS n_docs,
              |  CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
              |  CAST(floor(avg(quality_bp)) AS BIGINT) AS avg_quality_bp,
              |  min(doc_id) AS first_doc,
              |  max(doc_id) AS last_doc
              |FROM survivors""".stripMargin)
    ),

    "q_corpus_report" -> corpusReport,

    // Per-stage attrition report for the curation pipeline — the audit
    // artifact a real corpus build publishes next to its output: every
    // doc is labeled with the FIRST stage that would drop it (quality →
    // lang → exact-dup → near-dup → kept), then one groupBy folds the
    // funnel. One pass over the corpus plus the same dup side-tables the
    // curate query builds; no per-stage re-counting jobs.
    "q_pipeline_attrition" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val scored = docs.withColumn("quality_bp",
          floor(TextAnalysis.qualityScore(col("text")) * 10000).cast("long"))
        val toks = split(col("text"), " ")
        val gated = scored
          .filter(col("quality_bp") >= 4000 && col("lang") === "en")
        val keyed = gated.withColumn("content_key",
          md5(concat_ws(" ", (1 to 5).map(i => element_at(toks, i)): _*)))
        val exactLosers = keyed
          .join(keyed.groupBy("content_key").agg(min("doc_id").as("_keep")),
            "content_key")
          .filter(col("doc_id") =!= col("_keep"))
          .select(col("doc_id")).withColumn("_exact", lit(true))
        // md5 family (the oracle's) — same r10 de-coupling as
        // q_pipeline_curate's stage 4
        val nearLosers = Dedup.minhashLsh(docs)
          .select(col("j").as("doc_id")).distinct()
          .withColumn("_near", lit(true))
        scored
          .join(exactLosers, Seq("doc_id"), "left")
          .join(nearLosers, Seq("doc_id"), "left")
          .withColumn("stage",
            when(col("quality_bp") < 4000, "1_quality")
              .when(col("lang") =!= "en", "2_lang")
              .when(coalesce(col("_exact"), lit(false)), "3_exact_dup")
              .when(coalesce(col("_near"), lit(false)), "4_near_dup")
              .otherwise("5_kept"))
          .groupBy("stage")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
          .orderBy("stage")
      },
      Some(s"""WITH toksrc AS (
              |  SELECT doc_id, lang, text,
              |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
              |    string_split(text, ' ') AS rawtoks,
              |    length(replace(text, ' ', ''))::DOUBLE AS nosp
              |  FROM documents),
              |scored AS (
              |  SELECT doc_id, lang, toks, rawtoks,
              |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
              |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
              |      + least((nosp / len(toks)) / 8.0, 1.0) * 0.3) * 10000)
              |      AS BIGINT) AS quality_bp
              |  FROM toksrc),
              |keyed AS (
              |  SELECT doc_id,
              |    md5(array_to_string(rawtoks[1:5], ' ')) AS content_key
              |  FROM scored WHERE quality_bp >= 4000 AND lang = 'en'),
              |exact_losers AS (
              |  SELECT k.doc_id FROM keyed k
              |  JOIN (SELECT content_key, min(doc_id) AS keep
              |        FROM keyed GROUP BY content_key) m
              |    ON k.content_key = m.content_key AND k.doc_id <> m.keep),
              |${PipelineQueries.minhashPairsCte},
              |near_losers AS (SELECT DISTINCT j AS doc_id FROM pairs),
              |staged AS (
              |  SELECT s.doc_id, len(s.toks) AS ntok,
              |    CASE WHEN s.quality_bp < 4000 THEN '1_quality'
              |         WHEN s.lang <> 'en' THEN '2_lang'
              |         WHEN s.doc_id IN (SELECT doc_id FROM exact_losers)
              |           THEN '3_exact_dup'
              |         WHEN s.doc_id IN (SELECT doc_id FROM near_losers)
              |           THEN '4_near_dup'
              |         ELSE '5_kept' END AS stage
              |  FROM scored s)
              |SELECT stage, count(*) AS n_docs,
              |  CAST(sum(ntok) AS BIGINT) AS n_tokens
              |FROM staged GROUP BY stage ORDER BY stage""".stripMargin)
    ),

    // The STREAMING curation pipeline's batch-replay twin: the exact
    // gate + admission semantics StreamingCurate runs per micro-batch
    // (normalize → PII redact → lang/quality gates → near-dup admission
    // against stored curated-history signatures), on the incremental
    // fixture split (fresh = doc_id % 5 = 0). The gate transform is the
    // SAME object the stream executes (StreamingCurate.gate); the oracle
    // replays normalize, redaction, the quality formula, and the full
    // minhash admission chain over the curated text.
    "q_pipeline_stream_curate" -> QueryDef(
      (s, d) => {
        val gated = graft.streaming.StreamingCurate.gate(Tables.documents(s, d))
        val fresh = gated.filter(pmod(col("doc_id"), lit(5)) === 0)
        val pairs = Dedup.incrementalMinhash(
            fresh.select("doc_id", "text"),
            gated.filter(pmod(col("doc_id"), lit(5)) =!= 0)
              .select("doc_id", "text"),
            Tables.curatedHistoryMinhashSigs(s, d), threshold = 0.0)
          .filter(floor(col("jaccard") * 10000).cast("long") >= 8000)
          .select("i", "j")
        fresh
          .join(graft.streaming.StreamingDedup.rejectedIds(
            pairs, fresh.select("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("quality_bp"),
            md5(col("text")).as("curated_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH cur AS (
             |  SELECT doc_id, lang,
             |    regexp_replace(regexp_replace(regexp_replace(
             |      trim(regexp_replace(regexp_replace(lower(text),
             |        '[\x00-\x1f\x7f]', ' ', 'g'), ' {2,}', ' ', 'g')),
             |      '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}(-\d{3,4})?', '<PHONE>', 'g'),
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '(\d{1,3}\.){3}\d{1,3}', '<IP>', 'g') AS red
             |  FROM documents),
             |scored AS (
             |  SELECT doc_id, red,
             |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
             |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
             |      + least((length(replace(red, ' ', ''))::DOUBLE / len(toks)) / 8.0,
             |          1.0) * 0.3) * 10000) AS BIGINT) AS quality_bp
             |  FROM (SELECT doc_id, red,
             |          list_filter(string_split(red, ' '), x -> x <> '') AS toks
             |        FROM cur WHERE lang = 'en')),
             |gated AS (SELECT * FROM scored WHERE quality_bp >= 4000),
             |gtoks AS (SELECT doc_id, string_split(red, ' ') AS t FROM gated),
             |shd AS (
             |  SELECT DISTINCT doc_id, w FROM (
             |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS w
             |    FROM gtoks, unnest(generate_series(1, len(t) - 2)) AS g(i)
             |    WHERE len(t) >= 3)),
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
             |   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
             |  WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0),
             |common AS (
             |  SELECT x.doc_id AS i, y.doc_id AS j, count(*) AS c
             |  FROM cand JOIN shd x ON x.doc_id = cand.i
             |            JOIN shd y ON y.doc_id = cand.j AND y.w = x.w
             |  GROUP BY x.doc_id, y.doc_id),
             |jac AS (
             |  SELECT i, j,
             |    CAST(floor(c::DOUBLE / (ci.n + cj.n - c) * 10000) AS BIGINT) AS jaccard_bp
             |  FROM common
             |  JOIN cnt ci ON ci.doc_id = i
             |  JOIN cnt cj ON cj.doc_id = j),
             |rej AS (
             |  SELECT DISTINCT CASE
             |    WHEN i % 5 = 0 AND j % 5 = 0 THEN j
             |    WHEN i % 5 = 0 THEN i
             |    ELSE j END AS doc_id
             |  FROM jac WHERE jaccard_bp >= 8000)
             |SELECT doc_id, quality_bp, md5(red) AS curated_md5
             |FROM gated
             |WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM rej)
             |ORDER BY doc_id""".stripMargin)
    ),

    // Right-to-be-forgotten purge over the stored history corpus AND
    // its minhash signature index, with CONTENT expansion: requests
    // name ids (every 11th ≡ 3), but erasure must also catch the same
    // text under OTHER ids — the corpus carries planted mirrors (every
    // 13th ≡ 1 history doc re-appears under id+10^9, the re-crawl/
    // mirror case; the natural dup pairs all straddle the fixture's
    // fresh/history boundary, so without the mirrors expansion never
    // fires) and the forget set expands through the md5 content
    // fingerprint before the anti-join purge hits both artifacts. The
    // one-row audit carries before/after volumes and two must-be-zero
    // invariants (residual forgotten content, index orphans — the
    // index covers only the natural history, a strict id-subset of the
    // corpus, so purging both with the same expanded set keeps them
    // aligned). DuckDB replays the split, the mirrors, the index
    // membership rule, the expansion, both purges, and every count.
    "q_pipeline_forget" -> QueryDef(
      (s, d) => {
        val hist = Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(5)) =!= 0)
          .select("doc_id", "text")
        // mirror ids live at +10^9 — disjoint from real doc_ids at any
        // SF (a low offset like +10000 collides once the corpus outgrows
        // it, silently merging planted and organic rows in BOTH engines)
        val corpus = hist.unionByName(
          hist.filter(pmod(col("doc_id"), lit(13)) === 1)
            .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
        val (_, _, audit) = graft.ops.Privacy.forgetByContent(
          corpus,
          Tables.historyMinhashSigs(s, d),
          corpus.filter(pmod(col("doc_id"), lit(11)) === 3))
        audit
      },
      Some("""WITH hist AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
             |corp AS (
             |  SELECT * FROM hist
             |  UNION ALL
             |  SELECT doc_id + 1000000000, text FROM hist WHERE doc_id % 13 = 1),
             |idx AS (
             |  SELECT doc_id FROM hist
             |  WHERE len(string_split(text, ' ')) >= 3),
             |reqs AS (SELECT doc_id FROM corp WHERE doc_id % 11 = 3),
             |fps AS (
             |  SELECT DISTINCT md5(h.text) AS fp
             |  FROM corp h JOIN reqs USING (doc_id)),
             |expd AS (
             |  SELECT DISTINCT h.doc_id
             |  FROM corp h JOIN fps ON md5(h.text) = fps.fp),
             |pc AS (SELECT h.* FROM corp h ANTI JOIN expd USING (doc_id)),
             |pi AS (SELECT i.doc_id FROM idx i ANTI JOIN expd USING (doc_id)),
             |resid AS (
             |  SELECT 1 AS x FROM pc JOIN fps ON md5(pc.text) = fps.fp),
             |orph AS (SELECT 1 AS x FROM pi ANTI JOIN pc USING (doc_id))
             |SELECT
             |  (SELECT count(*) FROM corp) AS n_corpus_before,
             |  (SELECT count(*) FROM reqs) AS n_requests,
             |  (SELECT count(*) FROM expd) AS n_forgotten,
             |  (SELECT count(*) FROM pc) AS n_corpus_after,
             |  (SELECT count(*) FROM idx) AS n_index_before,
             |  (SELECT count(*) FROM pi) AS n_index_after,
             |  (SELECT count(*) FROM resid) AS n_residual_content,
             |  (SELECT count(*) FROM orph) AS n_index_orphans""".stripMargin)
    )
  )

  /** One-row corpus health report — the dashboard numbers a pipeline
    * operator checks before shipping a crawl: volume, vocabulary,
    * duplication, language mix, quality. Each metric is a map-side-
    * combinable aggregate over ONE corpus pass (the dup-group count rides
    * a sub-aggregate on the same scan), so the report costs a scan, not
    * a query per metric.
    */
  private def corpusReport = QueryDef(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = split(col("text"), " ")
      val keyed = docs
        .withColumn("content_key",
          md5(concat_ws(" ", (1 to 5).map(i => element_at(toks, i)): _*)))
        .withColumn("quality_bp",
          floor(TextAnalysis.qualityScore(col("text")) * 10000).cast("long"))
      val dupGroups = keyed.groupBy("content_key")
        .agg(count(lit(1)).as("n"))
        .agg(sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          sum(col("n") - 1).as("n_redundant_docs"))
      val langs = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .select(concat_ws(":", col("lang"), col("n")).as("lc"))
        .agg(array_join(array_sort(collect_list(col("lc"))), ",").as("langs"))
      val vocab = docs.select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .agg(countDistinct("tok").as("vocab_size"))
      val stats = keyed.agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
        floor(avg(col("quality_bp"))).cast("long").as("avg_quality_bp"))
      stats.crossJoin(vocab).crossJoin(dupGroups).crossJoin(langs)
        .select("n_docs", "n_tokens", "vocab_size", "n_dup_groups",
          "n_redundant_docs", "avg_quality_bp", "langs")
    },
    Some("""WITH toksrc AS (
           |  SELECT doc_id, lang, text,
           |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
           |    string_split(text, ' ') AS rawtoks,
           |    length(replace(text, ' ', ''))::DOUBLE AS nosp
           |  FROM documents),
           |keyed AS (
           |  SELECT doc_id,
           |    md5(array_to_string(rawtoks[1:5], ' ')) AS content_key,
           |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
           |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
           |      + least((nosp / len(toks)) / 8.0, 1.0) * 0.3) * 10000) AS BIGINT)
           |      AS quality_bp,
           |    len(toks) AS n_toks
           |  FROM toksrc),
           |dg AS (
           |  SELECT CAST(coalesce(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
           |      AS n_dup_groups,
           |    CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_redundant_docs
           |  FROM (SELECT content_key, count(*) AS n FROM keyed GROUP BY 1)),
           |vocab AS (
           |  SELECT count(DISTINCT tok) AS vocab_size FROM (
           |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
           |    FROM documents)),
           |langs AS (
           |  SELECT string_agg(lc, ',' ORDER BY lc) AS langs FROM (
           |    SELECT lang || ':' || count(*) AS lc FROM documents GROUP BY lang)),
           |stats AS (
           |  SELECT count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           |    CAST(floor(avg(quality_bp)) AS BIGINT) AS avg_quality_bp
           |  FROM keyed)
           |SELECT n_docs, n_tokens, vocab_size, n_dup_groups,
           |  n_redundant_docs, avg_quality_bp, langs
           |FROM stats, vocab, dg, langs""".stripMargin)
  )

  /** The MinHash-LSH near-dup pair CTE, identical to q_dedup_minhash_lsh's
    * oracle (threshold 0.8, k=8, 4×2 bands), ending in `pairs(i, j)`.
    * Shared with q_dedup_clusters' recursive-CTE oracle.
    */
  private[queries] def minhashPairsCte: String =
    """mtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |shd AS (
      |  SELECT DISTINCT doc_id, w FROM (
      |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS w
      |    FROM mtoks, unnest(generate_series(1, len(t) - 2)) AS g(i)
      |    WHERE len(t) >= 3)),
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
      |pairs AS (
      |  SELECT i, j FROM common
      |  JOIN cnt ci ON ci.doc_id = i
      |  JOIN cnt cj ON cj.doc_id = j
      |  WHERE c::DOUBLE / (ci.n + cj.n - c) >= 0.8)""".stripMargin
}
