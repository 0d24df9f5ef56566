package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis._
import graft.util.Tables

/** Text-analysis operators over `documents` with exact DuckDB oracles —
  * every metric is deterministic arithmetic over strings/arrays, rounded
  * where doubles are involved.
  */
object TextQueries extends QueryGroup {


  /** Shared-passage fixture for q_text_cdc_dedup — long enough to carry
    * several 1-in-64 mask boundaries, apostrophe-free for SQL literals.
    */
  private val CdcBoiler =
    "This dataset is distributed under the open corpus agreement and " +
    "every mirrored shard must preserve attribution records, checksum " +
    "manifests, and the revision ledger of the originating archive " +
    "before redistribution."

  /** The fixed-point log2 recursion block (16 square-and-shift rounds)
    * over the distinct values of `valsCte`, as `lg$tag(x, l)`.
    */
  private[queries] def pseudoLog2Sql(tag: String, valsCte: String): String =
    s"""base$tag AS (
       |  SELECT x, CAST(length(bin(x)) - 1 AS BIGINT) AS e,
       |    (x << 20) // (1::BIGINT << (length(bin(x)) - 1)) AS m
       |  FROM $valsCte),
       |it$tag AS (
       |  SELECT x, e, m, 0 AS i, 0::BIGINT AS fr FROM base$tag
       |  UNION ALL
       |  SELECT x, e,
       |    CASE WHEN (m*m) // 1048576 >= 2097152
       |         THEN ((m*m) // 1048576) // 2 ELSE (m*m) // 1048576 END,
       |    i + 1,
       |    CASE WHEN (m*m) // 1048576 >= 2097152
       |         THEN fr*2 + 1 ELSE fr*2 END
       |  FROM it$tag WHERE i < 16),
       |lg$tag AS MATERIALIZED (
       |  SELECT x, e * 65536 + fr AS l FROM it$tag WHERE i = 16)""".stripMargin

  /** One Viterbi round as chained CTEs: the 36-column cost pivot
    * `pv$r` from scores `sc$r`, dp/seg steps `v${r}_1..v${r}_12`, and
    * the length-dispatched result `fin$r(word, freq, cost, seg)`.
    * Mirrors [[graft.ops.UnigramTokenizer]] op for op (ties prefer the
    * longer piece — k checked descending).
    */
  private def unigramViterbiSql(r: Int, W: Int = 12, P: Int = 3): String = {
    val pivotCols = (for { i <- 1 to W; k <- 1 to P if k <= i } yield
      s"max(CASE WHEN i=$i AND k=$k THEN cost END) AS c_${i}_$k")
      .mkString(",\n    ")
    val sb = new StringBuilder
    sb ++=
      s"""wc$r AS (
         |  SELECT m.word, m.freq, m.i, m.k, s.cost
         |  FROM melt m JOIN sc$r s USING (piece)),
         |pv$r AS (
         |  SELECT word, freq,
         |    $pivotCols
         |  FROM wc$r GROUP BY word, freq),
         |v${r}_0 AS (SELECT *, 0::BIGINT AS dp_0, '' AS seg_0 FROM pv$r)""".stripMargin
    for (i <- 1 to W) {
      val ks = (1 to P).filter(_ <= i)
      def cand(k: Int) = s"dp_${i - k} + c_${i}_$k"
      val dpE =
        if (ks.size == 1) cand(ks.head)
        else s"least(${ks.map(cand).mkString(", ")})"
      val segCase = ks.reverse.map { k =>
        s"""WHEN ${cand(k)} IS NOT NULL AND ${cand(k)} = $dpE
           |         THEN seg_${i - k} || '|' || substring(word, ${i - k + 1}, $k)""".stripMargin
      }.mkString("\n    ")
      sb ++= ",\n" +
        s"""v${r}_$i AS (
           |  SELECT *, $dpE AS dp_$i,
           |    CASE $segCase
           |    END AS seg_$i
           |  FROM v${r}_${i - 1})""".stripMargin
    }
    val pickDp = (1 to W).map(i => s"WHEN $i THEN dp_$i").mkString(" ")
    val pickSeg = (1 to W).map(i => s"WHEN $i THEN seg_$i").mkString(" ")
    sb ++= ",\n" +
      s"""fin$r AS MATERIALIZED (
         |  SELECT word, freq,
         |    CASE length(word) $pickDp END AS cost,
         |    CASE length(word) $pickSeg END AS seg
         |  FROM v${r}_$W)""".stripMargin
    sb.toString
  }

  /** Full unigram-training oracle (2 Viterbi-EM rounds). */
  /** The CTE chain of the unigram-training oracle up to `fin1(word,
    * freq, cost, seg)` — shared by the train and encode oracles.
    */
  private def unigramCtes: String =
    s"""WITH RECURSIVE words AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '),
       |      x -> x <> '')) AS word
       |    FROM documents)
       |  WHERE length(word) BETWEEN 1 AND 12 AND word NOT LIKE '%|%'
       |  GROUP BY word),
       |melt AS MATERIALIZED (
       |  SELECT word, freq, gi.i AS i, gk.k AS k,
       |    substring(word, gi.i - gk.k + 1, gk.k) AS piece
       |  FROM words,
       |       unnest(generate_series(1, length(word))) AS gi(i),
       |       unnest(generate_series(1, least(3, gi.i))) AS gk(k)),
       |chars AS (SELECT DISTINCT piece FROM melt WHERE k = 1),
       |seed AS (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM melt GROUP BY piece
       |  HAVING sum(freq) >= 3 OR length(piece) = 1),
       |tot0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM seed),
       |vals0 AS (
       |  SELECT DISTINCT x FROM (
       |    SELECT cnt AS x FROM seed UNION ALL SELECT t FROM tot0)),
       |${pseudoLog2Sql("0", "vals0")},
       |sc0 AS (
       |  SELECT s.piece,
       |    (SELECT l FROM lg0 WHERE x = (SELECT t FROM tot0)) - l0.l
       |      AS cost
       |  FROM seed s JOIN lg0 l0 ON l0.x = s.cnt),
       |${unigramViterbiSql(0)},
       |use1 AS (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq, unnest(string_split(substring(seg, 2), '|'))
       |      AS piece
       |    FROM fin0)
       |  GROUP BY piece),
       |cnt1 AS (
       |  SELECT * FROM use1
       |  UNION ALL
       |  SELECT c.piece, 1::BIGINT FROM chars c
       |  ANTI JOIN use1 u ON u.piece = c.piece),
       |tot1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cnt1),
       |vals1 AS (
       |  SELECT DISTINCT x FROM (
       |    SELECT cnt AS x FROM cnt1 UNION ALL SELECT t FROM tot1)),
       |${pseudoLog2Sql("1", "vals1")},
       |sc1 AS (
       |  SELECT s.piece,
       |    (SELECT l FROM lg1 WHERE x = (SELECT t FROM tot1)) - l1.l
       |      AS cost
       |  FROM cnt1 s JOIN lg1 l1 ON l1.x = s.cnt),
       |${unigramViterbiSql(1)}""".stripMargin

  private def unigramTrainSql: String =
    s"""$unigramCtes
       |SELECT word, freq,
       |  CAST(len(string_split(substring(seg, 2), '|')) AS INTEGER)
       |    AS n_pieces,
       |  substring(seg, 2) AS seg, cost AS cost_l16
       |FROM fin1 ORDER BY word""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Unigram-LM tokenizer training (Kudo 2018, the SentencePiece
    // model) in Viterbi hard-EM form: substring seed → fixed-point
    // log2 piece costs → per-word min-cost segmentation by an
    // UNROLLED forward DP that carries the path (ties → longer piece)
    // → usage recount with char floor → re-score → final segmentation.
    // The oracle replays the seed, both log recursions, both 12-step
    // DP chains, and every word's segmentation and cost bit-for-bit.
    "q_text_unigram_train" -> QueryDef(
      (s, d) =>
        graft.ops.UnigramTokenizer.train(Tables.documents(s, d))
          .orderBy("word"),
      Some(unigramTrainSql)
    ),

    // Per-language Zipf exponent: log-frequency vs log-rank over each
    // language's vocabulary, both axes on the fixed-point log2, fit by
    // the exact-integer OLS — slope_micro ≈ −10⁶·α. A slice far from
    // Zipf is templated/machine text. Oracle: one log recursion over
    // ranks ∪ frequencies + the closed-form sums.
    "q_text_zipf" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.zipfFit(Tables.documents(s, d))
          .orderBy("lang"),
      Some(s"""WITH RECURSIVE vf AS (
             |  SELECT grp, word, CAST(count(*) AS BIGINT) AS f FROM (
             |    SELECT lang AS grp,
             |      unnest(list_filter(string_split(text, ' '),
             |        x -> x <> '')) AS word
             |    FROM documents)
             |  GROUP BY 1, 2),
             |ranked AS (
             |  SELECT grp, f,
             |    CAST(row_number() OVER (PARTITION BY grp
             |        ORDER BY f DESC, word) AS BIGINT) AS r
             |  FROM vf),
             |valsz AS (
             |  SELECT DISTINCT x FROM (
             |    SELECT f AS x FROM ranked UNION ALL SELECT r FROM ranked)),
             |${pseudoLog2Sql("z", "valsz")},
             |xy AS (
             |  SELECT grp, lr.l AS x, lf.l AS y
             |  FROM ranked
             |  JOIN lgz lr ON lr.x = ranked.r
             |  JOIN lgz lf ON lf.x = ranked.f),
             |a AS (
             |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx,
             |    CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM xy GROUP BY 1),
             |b AS (
             |  SELECT grp, n, n * sxy - sx * sy AS num,
             |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
             |    sx, sy
             |  FROM a)
             |SELECT grp AS lang, n AS n_vocab,
             |  CASE WHEN dx > 0 THEN num * 1000000 // dx END AS slope_micro,
             |  CASE WHEN dx > 0
             |       THEN (sy * 1000000 - (num * 1000000 // dx) * sx) // n
             |       END AS intercept_micro,
             |  CASE WHEN dx > 0 AND dy > 0
             |       THEN (num * 10000 // dx) * num // dy END AS r2_bp
             |FROM b ORDER BY lang""".stripMargin)
    ),

    // The trained unigram model applied back to the corpus: per-doc
    // word/piece totals and fertility — segmentation is a function of
    // the WORD (one equi-join), with the char-per-piece fallback for
    // out-of-model words. The oracle re-trains end-to-end and replays
    // the join and every per-doc fold.
    "q_text_unigram_encode" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.ops.UnigramTokenizer.encode(docs,
            graft.ops.UnigramTokenizer.train(docs))
          .orderBy("doc_id")
      },
      Some(s"""$unigramCtes,
             |toks AS (
             |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             |    x -> x <> '')) AS word
             |  FROM documents),
             |enc AS (
             |  SELECT t.doc_id,
             |    coalesce(
             |      CAST(len(string_split(substring(f.seg, 2), '|'))
             |        AS BIGINT),
             |      CAST(length(t.word) AS BIGINT)) AS p
             |  FROM toks t LEFT JOIN fin1 f ON f.word = t.word)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             |  CAST(sum(p) AS BIGINT) AS n_pieces,
             |  CAST(sum(p) AS BIGINT) * 10000 // count(*) AS fertility_bp
             |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // Context-window chunking: 16-token windows advancing by 12 (4-token
    // overlap) — pure explode projection, no shuffle.
    "q_text_chunks" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.chunk(Tables.documents(s, d), size = 16, overlap = 4)
          .orderBy("doc_id", "chunk_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents
             |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0)
             |SELECT doc_id, CAST(s // 12 AS INTEGER) AS chunk_id,
             |  array_to_string(t[s+1 : s+16], ' ') AS chunk,
             |  CAST(len(t[s+1 : s+16]) AS INTEGER) AS n_chunk_tokens
             |FROM toks, unnest(generate_series(0, len(t) - 1, 12)) AS g(s)
             |ORDER BY doc_id, chunk_id""".stripMargin)
    ),

    // Sequence packing: 512-token bins filled in doc_id order per source
    // (per-source parallelism — a single global stream would serialize
    // the corpus at scale).
    "q_text_pack" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.pack(Tables.documents(s, d), binTokens = 512L)
          .orderBy("doc_id"),
      Some("""SELECT doc_id, source, n_tokens,
             |  CAST(cum - n_tokens AS BIGINT) // 512 AS bin_id
             |FROM (
             |  SELECT doc_id, source,
             |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
             |    sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
             |      OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)
    ),

    // Gopher-style within-doc repetition: duplicate-2-gram fraction and
    // top-2-gram share. Two map-side-combined aggregations, no joins.
    "q_text_repetition" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.repetition(Tables.documents(s, d), n = 2)
          .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
             |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
             |  WHERE len(t) >= 2),
             |gc AS (
             |  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(sum(c) AS BIGINT) AS n_ngrams,
             |  CAST(count(*) AS BIGINT) AS n_distinct,
             |  1.0 - (count(*)::DOUBLE / CAST(sum(c) AS BIGINT)) AS dup_frac,
             |  max(c)::DOUBLE / CAST(sum(c) AS BIGINT) AS top_frac
             |FROM gc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // Per-doc coverage by the corpus's 10 most frequent tokens
    // (deterministic ties: count desc, token asc). Vocabulary-sized
    // aggregate + broadcast top list; one corpus-stream aggregation.
    "q_text_top_tokens" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.topTokenCoverage(Tables.documents(s, d), k = 10)
          .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
             |  FROM documents),
             |top AS (
             |  SELECT tok FROM (
             |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
             |    FROM toks GROUP BY tok) WHERE rn <= 10)
             |SELECT t.doc_id,
             |  CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN top.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
             |  CAST(sum(CASE WHEN top.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
             |    / count(*) AS coverage
             |FROM toks t LEFT JOIN top ON t.tok = top.tok
             |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin)
    ),

    // PII scrub: the corpus is clean, so deterministic synthetic PII is
    // appended per doc (same SQL on both sides) and the detect+redact
    // chain must agree engine-to-engine — patterns live in the Java∩RE2
    // regex subset.
    "q_text_pii" -> QueryDef(
      (s, d) => {
        import graft.ops.TextClean
        val aug = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com via 10.0."),
            (col("doc_id") % 200).cast("string"),
            lit(".7 or +1-555-"),
            (lit(100) + col("doc_id") % 900).cast("string"),
            lit("-1234")).as("aug"))
        aug.select(col("doc_id"),
            TextClean.countEmails(col("aug")).as("n_emails"),
            TextClean.countIpv4(col("aug")).as("n_ips"),
            TextClean.countPhones(col("aug")).as("n_phones"),
            TextClean.redactPii(col("aug")).as("redacted"))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id,
             |    text || ' contact user' || doc_id::VARCHAR || '@example.com via 10.0.'
             |      || (doc_id % 200)::VARCHAR || '.7 or +1-555-'
             |      || (100 + doc_id % 900)::VARCHAR || '-1234' AS aug
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
             |  CAST(len(regexp_extract_all(aug, '(\d{1,3}\.){3}\d{1,3}')) AS INTEGER) AS n_ips,
             |  CAST(len(regexp_extract_all(aug, '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}(-\d{3,4})?')) AS INTEGER) AS n_phones,
             |  regexp_replace(regexp_replace(regexp_replace(aug,
             |    '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}(-\d{3,4})?', '<PHONE>', 'g'),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '(\d{1,3}\.){3}\d{1,3}', '<IP>', 'g') AS redacted
             |FROM aug ORDER BY doc_id""".stripMargin)
    ),

    "q_text_stats" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            tokenCount(col("text")).as("n_tokens"),
            length(col("text")).as("n_chars_computed"),
            round(distinctTokenRatio(col("text")), 4).as("distinct_ratio"),
            round(avgTokenLength(col("text")), 4).as("avg_token_len")
          )
          .orderBy("doc_id")
          .limit(2000),
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INTEGER) AS n_tokens,
             |  CAST(length(text) AS INTEGER) AS n_chars_computed,
             |  round(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> '')))::DOUBLE
             |    / len(list_filter(string_split(text, ' '), t -> t <> '')), 4) AS distinct_ratio,
             |  round(length(replace(text, ' ', ''))::DOUBLE
             |    / len(list_filter(string_split(text, ' '), t -> t <> '')), 4) AS avg_token_len
             |FROM documents ORDER BY doc_id LIMIT 2000""".stripMargin)
    ),

    "q_text_quality" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          // floor(x*1e4) not round(): Spark HALF_UP vs DuckDB tie rules
          // disagree on exact .5 ties; floor of the identical double is stable
          .select(col("doc_id"),
            floor(qualityScore(col("text")) * 10000).cast("long").as("quality_bp"))
          .filter(col("quality_bp") >= 5000)
          .orderBy(desc("quality_bp"), col("doc_id"))
          .limit(1000),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             |    length(replace(text, ' ', ''))::DOUBLE AS nosp
             |  FROM documents),
             |q AS (
             |  SELECT doc_id,
             |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
             |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
             |      + least((nosp / len(toks)) / 8.0, 1.0) * 0.3) * 10000) AS BIGINT) AS quality_bp
             |  FROM t)
             |SELECT doc_id, quality_bp FROM q WHERE quality_bp >= 5000
             |ORDER BY quality_bp DESC, doc_id LIMIT 1000""".stripMargin)
    ),

    // Pairwise vocabulary overlap between sources (src0..src4 → 10
    // pairs), computed EXACTLY. The tok equi-join is vocabulary-keyed —
    // the scale shape; jaccard in integer bp (DIV).
    "q_text_vocab_overlap" -> QueryDef(
      (s, d) => {
        val vocab = Tables.documents(s, d)
          .filter(regexp_extract(col("source"), "([0-9]+)", 1)
            .cast("long") < 5)
          .withColumn("_toks", tokens(col("text")))
          .select(col("source"), explode(col("_toks")).as("tok"))
          .distinct()
        val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n"))
        val common = vocab.as("a")
          .join(vocab.as("b"),
            col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_common"))
        common
          .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")),
            Seq("src_a"))
          .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")),
            Seq("src_b"))
          .withColumn("jaccard_bp",
            expr("n_common * 10000 DIV (n_a + n_b - n_common)"))
          .select("src_a", "src_b", "n_a", "n_b", "n_common", "jaccard_bp")
          .orderBy("src_a", "src_b")
      },
      Some("""WITH vocab AS (
             |  SELECT DISTINCT source, tok FROM (
             |    SELECT source,
             |      unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
             |    FROM documents
             |    WHERE CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) < 5)),
             |sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
             |common AS (
             |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
             |  FROM vocab a JOIN vocab b
             |    ON a.tok = b.tok AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
             |  n_common * 10000 // (sa.n + sb.n - n_common) AS jaccard_bp
             |FROM common JOIN sizes sa ON sa.source = src_a
             |            JOIN sizes sb ON sb.source = src_b
             |ORDER BY src_a, src_b""".stripMargin)
    ),

    // Jensen-Shannon drift between two overlapping corpus snapshots
    // (sources <12 vs ≥8, the newer one with an injected marker token on
    // every 7th doc) — both engines rebuild the PPM frequency tables AND
    // the fixed-point log2 arithmetic, so jsd_millibits matches exactly.
    "q_text_corpus_jsd" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("_sn",
            regexp_extract(col("source"), "([0-9]+)", 1).cast("long"))
        val a = docs.filter(col("_sn") < 12)
        val b = docs.filter(col("_sn") >= 8)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(7)) === 0,
              concat(col("text"), lit(" synthqdrift")))
              .otherwise(col("text")))
        graft.ops.TextAnalysis.jsDivergence(a, b)
      },
      Some(s"""WITH RECURSIVE docs0 AS (
             |  SELECT doc_id, text,
             |    CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) AS sn
             |  FROM documents),
             |ta AS (
             |  SELECT unnest(list_filter(string_split(text, ' '),
             |    x -> x <> '')) AS tok
             |  FROM docs0 WHERE sn < 12),
             |tb AS (
             |  SELECT unnest(list_filter(string_split(
             |    CASE WHEN doc_id % 7 = 0 THEN text || ' synthqdrift'
             |         ELSE text END, ' '), x -> x <> '')) AS tok
             |  FROM docs0 WHERE sn >= 8),
             |ca AS (SELECT tok, CAST(count(*) AS BIGINT) AS ac FROM ta GROUP BY 1),
             |cb AS (SELECT tok, CAST(count(*) AS BIGINT) AS bc FROM tb GROUP BY 1),
             |fa AS (
             |  SELECT tok, ac, ac * 1000000 // (SELECT sum(ac) FROM ca) AS af
             |  FROM ca),
             |fb AS (
             |  SELECT tok, bc, bc * 1000000 // (SELECT sum(bc) FROM cb) AS bf
             |  FROM cb),
             |j AS (
             |  SELECT coalesce(fa.tok, fb.tok) AS tok,
             |    coalesce(ac, 0) AS ac, coalesce(af, 0) AS af,
             |    coalesce(bc, 0) AS bc, coalesce(bf, 0) AS bf
             |  FROM fa FULL OUTER JOIN fb ON fa.tok = fb.tok),
             |tots AS (
             |  SELECT CAST(sum(af) AS BIGINT) AS sa,
             |    CAST(sum(bf) AS BIGINT) AS sb,
             |    CAST(sum(ac) AS BIGINT) AS na,
             |    CAST(sum(bc) AS BIGINT) AS nb,
             |    CAST(sum(CASE WHEN af = 0 THEN ac ELSE 0 END) AS BIGINT) AS da,
             |    CAST(sum(CASE WHEN bf = 0 THEN bc ELSE 0 END) AS BIGINT) AS db
             |  FROM j),
             |terms0 AS MATERIALIZED (
             |  SELECT tok, ac, af, bc, bf, af * sb AS u, bf * sa AS v,
             |    af * sb + bf * sa AS m, sa, sb, na, nb, da, db
             |  FROM j, tots),
             |vals AS (
             |  SELECT DISTINCT x FROM (
             |    SELECT u AS x FROM terms0 WHERE u > 0
             |    UNION ALL SELECT v FROM terms0 WHERE v > 0
             |    UNION ALL SELECT m FROM terms0 WHERE m > 0)),
             |${pseudoLog2Sql("d", "vals")},
             |terms AS (
             |  SELECT t.*, coalesce(lu.l, 0) AS lu, coalesce(lv.l, 0) AS lv,
             |    coalesce(lm.l, 0) AS lm
             |  FROM terms0 t
             |  LEFT JOIN lgd lu ON t.u = lu.x
             |  LEFT JOIN lgd lv ON t.v = lv.x
             |  LEFT JOIN lgd lm ON t.m = lm.x),
             |agg AS (
             |  SELECT
             |    CAST(sum(CASE WHEN ac > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab_a,
             |    CAST(sum(CASE WHEN bc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab_b,
             |    CAST(sum(CASE WHEN ac > 0 AND bc > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_vocab_shared,
             |    max(da * 1000000 // na) AS a_dropped_ppm,
             |    max(db * 1000000 // nb) AS b_dropped_ppm,
             |    CAST(sum(CASE WHEN af > 0
             |      THEN af * (lu + 65536 - lm) ELSE 0 END) AS BIGINT) AS tp,
             |    CAST(sum(CASE WHEN bf > 0
             |      THEN bf * (lv + 65536 - lm) ELSE 0 END) AS BIGINT) AS tq,
             |    max(sa) AS fsa, max(sb) AS fsb
             |  FROM terms)
             |SELECT n_vocab_a, n_vocab_b, n_vocab_shared,
             |  a_dropped_ppm, b_dropped_ppm,
             |  (tp // fsa) * 1000 // 65536 AS kl_pm_millibits,
             |  (tq // fsb) * 1000 // 65536 AS kl_qm_millibits,
             |  ((tp // fsa + tq // fsb) // 2) * 1000 // 65536 AS jsd_millibits
             |FROM agg""".stripMargin)
    ),

    // Quality-greedy token budgeting: each source gets a deterministic
    // token budget (600/900/1200 by source number mod 3 — roughly half
    // a source's ~1400-token volume, so the cut genuinely bites) and fills it
    // with its highest-quality docs first — the "data recipe" selection
    // a training run starts from. Greedy-prefix semantics (a doc enters
    // iff the running total INCLUDING it fits) replayed exactly by the
    // oracle's window.
    "q_text_token_budget" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val budgets = docs.select("source").distinct()
          .withColumn("budget_tokens",
            lit(600L) + lit(300L) * pmod(
              regexp_extract(col("source"), "([0-9]+)", 1).cast("long"),
              lit(3L)))
        tokenBudget(docs, budgets).orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             |    length(replace(text, ' ', ''))::DOUBLE AS nosp
             |  FROM documents),
             |q AS (
             |  SELECT doc_id, source, len(toks)::BIGINT AS n_tokens,
             |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
             |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
             |      + least((nosp / len(toks)) / 8.0, 1.0) * 0.3) * 10000)
             |      AS BIGINT) AS quality_bp
             |  FROM t),
             |cum AS (
             |  SELECT doc_id, source, quality_bp, n_tokens,
             |    sum(n_tokens) OVER (PARTITION BY source
             |      ORDER BY quality_bp DESC, doc_id
             |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens,
             |    600 + 300 * (CAST(regexp_extract(source, '([0-9]+)', 1)
             |      AS BIGINT) % 3) AS budget_tokens
             |  FROM q)
             |SELECT doc_id, source, quality_bp, n_tokens, cum_tokens
             |FROM cum WHERE cum_tokens <= budget_tokens
             |ORDER BY doc_id""".stripMargin)
    ),

    "q_text_langid" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          // tokens bound to a real column first — see langIdFromTokens doc
          .withColumn("_toks", tokens(col("text")))
          .select(col("doc_id"), col("lang").as("labeled"),
            langIdFromTokens(col("_toks")).as("predicted"))
          .groupBy("labeled", "predicted")
          .agg(count(lit(1)).as("n"))
          .orderBy("labeled", "predicted"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang,
              |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
              |  FROM documents),
              |dens AS (
              |  SELECT doc_id, lang,
              |    ${TextQueries.langDensitySql}
              |  FROM t),
              |pred AS (
              |  SELECT doc_id, lang AS labeled,
              |    CASE WHEN greatest(d_de, d_en, d_es, d_fr, d_zh) >= 0.01 THEN
              |      CASE greatest(d_de, d_en, d_es, d_fr, d_zh)
              |        WHEN d_zh THEN 'zh' WHEN d_fr THEN 'fr' WHEN d_es THEN 'es'
              |        WHEN d_en THEN 'en' ELSE 'de' END
              |    ELSE 'und' END AS predicted
              |  FROM dens)
              |SELECT labeled, predicted, count(*) AS n FROM pred
              |GROUP BY labeled, predicted ORDER BY labeled, predicted""".stripMargin)
    ),

    "q_text_fingerprint" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), fingerprint(col("text")).as("fp"))
          .orderBy("doc_id")
          .limit(1000),
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_prepend(0::BIGINT,
             |      list_transform(regexp_extract_all(text, '.'), c -> ascii(c)::BIGINT)),
             |    (a, c) -> (a * 31 + c) % 1000000007) AS fp
             |FROM documents ORDER BY doc_id LIMIT 1000""".stripMargin)
    ),

    // Deterministic stratified sampling for corpus balancing: per-language
    // systematic samples keyed on a content hash (not rand(), so any engine
    // reproduces the exact sample — the property a rerunnable 100 TB
    // pipeline needs anyway).
    "q_text_sample_stratified" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // keep ~1/4 of en (majority class), all of the rest: equalizes mix
        val bucket = pmod(conv(substring(md5(col("text")), 1, 6), 16, 10)
          .cast("long"), lit(4))
        docs.filter(col("lang") =!= "en" || bucket === 0)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"), sum("n_chars").as("chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_sampled,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents
             |WHERE lang <> 'en'
             |   OR CAST(('0x' || substring(md5(text), 1, 6)) AS BIGINT) % 4 = 0
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),

    // Dataset mixing: weighted replication (epoch-style upsampling of
    // minority strata) — explode over a per-row weight, no shuffle.
    "q_text_corpus_mix" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val weight = when(col("lang") === "en", 1).otherwise(3)
        docs
          .withColumn("epoch", explode(sequence(lit(1), weight)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_mixed"),
            countDistinct(col("doc_id")).as("n_unique"),
            sum("n_chars").as("chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_mixed,
             |  count(DISTINCT doc_id) AS n_unique,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents,
             |  unnest(generate_series(1, CASE WHEN lang = 'en' THEN 1 ELSE 3 END))
             |    AS g(epoch)
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),

    // Temperature mixing (share ∝ p^0.5, the XLM-R/mT5 rule): integer
    // targets from ⌊√(n·10⁶)⌋ weights, md5-Bernoulli fractional copies —
    // the whole plan replays exactly in any engine (the one sqrt is
    // IEEE-correctly-rounded everywhere; everything else is BIGINT).
    "q_text_temperature_mix" -> QueryDef(
      (s, d) => {
        val mixed = graft.ops.TextAnalysis.temperatureMix(Tables.documents(s, d))
        mixed.groupBy("lang")
          .agg(max("n_l").as("n_docs"),
            max("target_docs").as("target_docs"),
            sum("copies").as("n_mixed"),
            sum(when(col("copies") > 0, 1L).otherwise(0L)).as("n_kept"),
            sum(col("n_chars") * col("copies")).as("chars_mixed"))
          .orderBy("lang")
      },
      Some("""WITH stats AS (
             |  SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
             |tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS n_total FROM stats),
             |scaled AS (
             |  SELECT lang, n_l,
             |    CAST(floor(sqrt(CAST(n_l AS DOUBLE) * 1000000.0)) AS BIGINT) AS s_l
             |  FROM stats),
             |norm AS (SELECT CAST(sum(s_l) AS BIGINT) AS s_total FROM scaled),
             |tgt AS (
             |  SELECT lang, n_l, (s_l * n_total) // s_total AS target_docs
             |  FROM scaled, tot, norm),
             |perdoc AS (
             |  SELECT d.lang, d.n_chars, t.n_l, t.target_docs,
             |    t.target_docs // t.n_l +
             |      CASE WHEN CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
             |             * t.n_l < (t.target_docs % t.n_l) * 16777216 THEN 1 ELSE 0 END AS copies
             |  FROM documents d JOIN tgt t USING (lang))
             |SELECT lang, max(n_l) AS n_docs, max(target_docs) AS target_docs,
             |  CAST(sum(copies) AS BIGINT) AS n_mixed,
             |  CAST(sum(CASE WHEN copies > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(sum(n_chars * copies) AS BIGINT) AS chars_mixed
             |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin)
    ),

    // Curriculum bucketing: equal-size quality-ordered buckets without a
    // global window (value-domain rank decomposition — see the op). The
    // oracle states the SAME rank as one row_number, which DuckDB can
    // afford at oracle scale; bucket boundaries must agree exactly.
    "q_text_curriculum" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.curriculum(Tables.documents(s, d), 10)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            max("quality_bp").as("best_bp"), min("quality_bp").as("worst_bp"),
            min("rank").as("first_rank"), max("rank").as("last_rank"))
          .orderBy("bucket"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             |    length(replace(text, ' ', ''))::DOUBLE AS nosp
             |  FROM documents),
             |q AS (
             |  SELECT doc_id,
             |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
             |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
             |      + least((nosp / len(toks)) / 8.0, 1.0) * 0.3) * 10000) AS BIGINT) AS quality_bp
             |  FROM t),
             |r AS (
             |  SELECT doc_id, quality_bp,
             |    row_number() OVER (ORDER BY quality_bp DESC, doc_id) AS rank,
             |    count(*) OVER () AS n_total
             |  FROM q)
             |SELECT (rank - 1) * 10 // n_total AS bucket,
             |  count(*) AS n_docs,
             |  max(quality_bp) AS best_bp, min(quality_bp) AS worst_bp,
             |  min(rank) AS first_rank, max(rank) AS last_rank
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Cross-source quantile normalization of quality scores (the
    // Bolstad et al. 2003 microarray technique at the corpus-mixing
    // slot): each source's distribution maps onto the pooled one by
    // rank — 1 + ⌊(r−1)(N−1)/(n_s−1)⌋ — all integer, ties by doc_id.
    // DuckDB states the pooled rank as one global row_number; the
    // value-domain decomposition must agree exactly.
    "q_text_quantile_norm" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.quantileNormalize(Tables.documents(s, d))
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             |    length(replace(text, ' ', ''))::DOUBLE AS nosp
             |  FROM documents),
             |q AS (
             |  SELECT doc_id, source,
             |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
             |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
             |      + least((nosp / len(toks)) / 8.0, 1.0) * 0.3) * 10000)
             |      AS BIGINT) AS q_bp
             |  FROM t),
             |r AS (
             |  SELECT doc_id, source, q_bp,
             |    row_number() OVER (PARTITION BY source
             |                       ORDER BY q_bp, doc_id) AS r,
             |    count(*) OVER (PARTITION BY source) AS n_s,
             |    count(*) OVER () AS n_total,
             |    row_number() OVER (ORDER BY q_bp, doc_id) AS grank
             |  FROM q),
             |tgt AS (
             |  SELECT doc_id, source, q_bp, r, n_s,
             |    CASE WHEN n_s > 1
             |         THEN 1 + (r - 1) * (n_total - 1) // (n_s - 1)
             |         ELSE 1 + (n_total - 1) // 2 END AS p
             |  FROM r)
             |SELECT tgt.doc_id, tgt.source, tgt.q_bp, tgt.r, tgt.n_s,
             |  pool.q_bp AS norm_q_bp
             |FROM tgt JOIN r pool ON pool.grank = tgt.p
             |ORDER BY tgt.doc_id""".stripMargin)
    ),

    // Exact phrase search on the positional inverted index: postings of
    // the phrase terms only, aligned by (doc_id, pos − offset) equi-joins.
    "q_text_phrase_search" -> QueryDef(
      (s, d) =>
        graft.ops.Retrieval.phraseSearch(Tables.documents(s, d),
            Seq("slow", "hash", "batch"))
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |hit AS (
             |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS start
             |  FROM t, unnest(generate_series(1, len(toks) - 2)) AS g(i)
             |  WHERE len(toks) >= 3 AND toks[i] = 'slow'
             |    AND toks[i + 1] = 'hash' AND toks[i + 2] = 'batch')
             |SELECT doc_id, count(*) AS n_matches, min(start) AS first_pos
             |FROM hit GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // Memorization-risk histogram: per-doc repeated-span coverage from
    // the q_text_repeated_spans machinery, folded into 11 decile rows.
    "q_text_span_coverage" -> QueryDef(
      (s, d) =>
        graft.ops.Substring.spanCoverage(Tables.documents(s, d),
            n = 8, minRep = 3)
          .orderBy("cov_decile"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |wins AS (
             |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             |    array_to_string(t[i : i + 7], ' ') AS gram
             |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS g(i)
             |  WHERE len(t) >= 8),
             |freq AS (
             |  SELECT gram, count(*) AS rep FROM wins
             |  GROUP BY 1 HAVING count(*) >= 3),
             |occ AS (
             |  SELECT w.doc_id, w.pos FROM wins w JOIN freq f USING (gram)),
             |isl AS (
             |  SELECT doc_id, pos,
             |    CASE WHEN pos > coalesce(max(pos + 8) OVER (
             |        PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             |      THEN 1 ELSE 0 END AS new_island
             |  FROM occ),
             |isl2 AS (
             |  SELECT doc_id, pos,
             |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM isl),
             |spans AS (
             |  SELECT doc_id, min(pos) AS s, max(pos + 8) AS e
             |  FROM isl2 GROUP BY doc_id, island),
             |cov AS (
             |  SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS covered
             |  FROM spans GROUP BY doc_id),
             |lens AS (
             |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
             |  WHERE len(t) > 0),
             |perdoc AS (
             |  SELECT l.doc_id, l.n_tokens, coalesce(c.covered, 0) AS covered
             |  FROM lens l LEFT JOIN cov c USING (doc_id))
             |SELECT (covered * 10000 // n_tokens) // 1000 AS cov_decile,
             |  count(*) AS n_docs,
             |  CAST(sum(covered) AS BIGINT) AS covered_tokens,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
             |FROM perdoc GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Count-min sketch frequency estimation: build a 4×1024-counter CMS
    // over the token stream (a mergeable table ≤4096 rows at ANY corpus
    // size — the frequency twin of the HLL distinct sketches), then probe
    // it with the exact top-20 tokens. cms_n ≥ exact_n always; with this
    // vocab ≪ width they collide rarely, and any collision replays
    // identically in the oracle (md5-derived buckets on both engines).
    "q_text_cms_topk" -> QueryDef(
      (s, d) => {
        import graft.ops.Sketches
        val toks = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("tok"))
        val sketch = Sketches.countMinSketch(toks, col("tok"))
        // sort+limit → TakeOrderedAndProject (distributed partial top-k),
        // not a single-partition WindowExec over the vocabulary
        val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
          .orderBy(desc("exact_n"), col("tok"))
          .limit(20)
        Sketches.cmsEstimate(top, sketch, "tok").orderBy("tok")
      },
      Some(s"""WITH toks AS (
              |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
              |  FROM documents),
              |sketch AS (
              |  SELECT r, ${cmsBucketSql("tok", "r")} AS bucket, count(*) AS cnt
              |  FROM toks, (SELECT unnest(generate_series(0, 3)) AS r) rows
              |  GROUP BY 1, 2),
              |top AS (
              |  SELECT tok, exact_n FROM (
              |    SELECT tok, count(*) AS exact_n,
              |      row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
              |    FROM toks GROUP BY tok) WHERE rn <= 20),
              |probe AS (
              |  SELECT t.tok, t.exact_n, rows.r,
              |    ${cmsBucketSql("t.tok", "rows.r")} AS bucket
              |  FROM top t, (SELECT unnest(generate_series(0, 3)) AS r) rows)
              |SELECT p.tok, p.exact_n,
              |  CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cms_n
              |FROM probe p LEFT JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
              |GROUP BY p.tok, p.exact_n ORDER BY p.tok""".stripMargin)
    ),

    // Deterministic train/val/test assignment: md5(doc_id) bucket mod 10 →
    // 8/1/1 split. Hash-keyed, so membership is stable under corpus
    // growth/reordering — the property a training pipeline needs so that
    // yesterday's val docs don't leak into today's train set. Narrow
    // projection + 3-group aggregate.
    "q_text_split" -> QueryDef(
      (s, d) => {
        val bucket = pmod(
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long"), lit(10L))
        Tables.documents(s, d)
          .withColumn("split",
            when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy("split")
      },
      Some(s"""WITH assigned AS (
              |  SELECT *,
              |    CASE WHEN ${hex4Sql("md5(doc_id::VARCHAR)")} % 10 < 8 THEN 'train'
              |         WHEN ${hex4Sql("md5(doc_id::VARCHAR)")} % 10 = 8 THEN 'val'
              |         ELSE 'test' END AS split
              |  FROM documents)
              |SELECT split, count(*) AS n_docs,
              |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
              |  count(DISTINCT source) AS n_sources
              |FROM assigned GROUP BY split ORDER BY split""".stripMargin)
    ),

    // Rate-table sampling: each source gets its own rate_bp from a
    // name-ordered ladder (5%, 10%, … capped at 100%), and a doc is
    // kept iff its md5(doc_id) 2³²-bucket mod 10⁴ falls under the
    // stratum rate — per-source downsampling / eval carve-outs whose
    // membership is stable under corpus growth and reordering, and
    // NESTED under rate growth (raising a rate only adds members —
    // DataSelectSpec pins it). Generalizes q_text_sample_stratified's
    // fixed keep-1-in-4 rule to an arbitrary per-stratum rate TABLE
    // with allowlist semantics. The audit row per source carries
    // target vs observed rate; the whole sample is scan →
    // broadcast-join → filter (zero corpus shuffle).
    "q_text_rate_sample" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // stratum-domain table (one row per source — bounded), so the
        // unpartitioned rank window is driver-safe by construction
        val rates = docs.select("source").distinct()
          .withColumn("rate_bp", least(lit(10000L),
            dense_rank().over(
              org.apache.spark.sql.expressions.Window.orderBy("source"))
              .cast("long") * 500))
        val sampled = graft.ops.DataSelect.stratifiedSample(docs, rates)
        docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
          .join(rates, "source")
          .join(sampled.groupBy("source").agg(count(lit(1)).as("n_sampled")),
            Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("rate_bp"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
          .withColumn("observed_bp", expr("n_sampled * 10000 div n_docs"))
          .orderBy("source")
      },
      Some(s"""WITH rates AS (
              |  SELECT source,
              |    least(10000, CAST(dense_rank() OVER (ORDER BY source)
              |      AS BIGINT) * 500) AS rate_bp
              |  FROM (SELECT DISTINCT source FROM documents)),
              |samp AS (
              |  SELECT d.source FROM documents d JOIN rates r USING (source)
              |  WHERE ${hex8Sql("md5(doc_id::VARCHAR)")} % 10000 < r.rate_bp),
              |tot AS (SELECT source, count(*)::BIGINT AS n_docs
              |        FROM documents GROUP BY source)
              |SELECT t.source, t.n_docs, r.rate_bp,
              |  coalesce(sm.n_sampled, 0)::BIGINT AS n_sampled,
              |  coalesce(sm.n_sampled, 0)::BIGINT * 10000 // t.n_docs
              |    AS observed_bp
              |FROM tot t JOIN rates r USING (source)
              |LEFT JOIN (SELECT source, count(*)::BIGINT AS n_sampled
              |           FROM samp GROUP BY source) sm USING (source)
              |ORDER BY t.source""".stripMargin)
    ),

    // Epoch-seeded deterministic training order: epoch 1's permutation
    // audited per shard — doc count, source-interleave quality (adjacent
    // same-source pairs in the shard-local order), the first/last order
    // keys and the doc at position 1 pin the actual ordering into the
    // hash — plus how many of the shard's docs land in a DIFFERENT
    // shard under epoch 2 (the "reshuffle really reshuffles" pin; at 16
    // shards ≈ 15/16 of docs move). All joins are on doc_id; the only
    // windows are shard-partitioned (the range-partitioned global sort).
    "q_text_epoch_shuffle" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val e1 = graft.ops.DataSelect.epochShuffle(docs, epoch = 1)
        val e2 = graft.ops.DataSelect.epochShuffle(docs, epoch = 2)
          .select(col("doc_id"), col("shard").as("_shard2"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("pos")
        e1.join(e2, "doc_id")
          .withColumn("_prev_src", lag("source", 1).over(w))
          .groupBy("shard").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("source") === col("_prev_src"), 1L).otherwise(0L))
              .as("n_adjacent_same_source"),
            min("order_key").as("first_key"),
            max("order_key").as("last_key"),
            min_by(col("doc_id"), col("pos")).as("first_doc"),
            sum(when(col("_shard2") =!= col("shard"), 1L).otherwise(0L))
              .as("n_moved_epoch2"))
          .orderBy("shard")
      },
      Some(s"""WITH e1 AS (
              |  SELECT doc_id, source,
              |    ${hex8Sql("md5('ep1:' || doc_id::VARCHAR)")} AS order_key
              |  FROM documents),
              |e2 AS (
              |  SELECT doc_id,
              |    ${hex8Sql("md5('ep2:' || doc_id::VARCHAR)")}
              |      // 268435456 AS shard2
              |  FROM documents),
              |pos1 AS (
              |  SELECT e1.doc_id, e1.source, e1.order_key,
              |    e1.order_key // 268435456 AS shard,
              |    row_number() OVER (PARTITION BY e1.order_key // 268435456
              |                       ORDER BY e1.order_key, e1.doc_id)
              |      AS pos
              |  FROM e1),
              |lagged AS (
              |  SELECT p.*, s2.shard2,
              |    lag(p.source, 1) OVER (PARTITION BY p.shard
              |                           ORDER BY p.pos) AS prev_src
              |  FROM pos1 p JOIN e2 s2 ON s2.doc_id = p.doc_id)
              |SELECT shard, count(*)::BIGINT AS n_docs,
              |  CAST(sum(CASE WHEN source = prev_src THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_adjacent_same_source,
              |  min(order_key) AS first_key, max(order_key) AS last_key,
              |  arg_min(doc_id, pos) AS first_doc,
              |  CAST(sum(CASE WHEN shard2 <> shard THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_moved_epoch2
              |FROM lagged GROUP BY shard ORDER BY shard""".stripMargin)
    ),

    // Pre-tokenization normalization: the corpus is already clean, so
    // deterministic byte-level noise (case, tabs, CR/LF, doubled spaces,
    // a control char) is injected identically on both engines and the
    // normalized output is value-checked verbatim plus by md5.
    // Gopher-rule quality flags over deterministically-dirtied docs:
    // every 5th doc gets a 10-line bullet wall (trips the bullet rule),
    // every 7th a '# '-spam tail (symbol ratio), every doc ≡1 mod 3 two
    // ellipsis-ended footer lines (ellipsis rule); short docs fail the
    // word-count rule on their own. All-integer cross-multiplied rule
    // arithmetic → DuckDB replays every count and flag bit-for-bit.
    "q_text_gopher_rules" -> QueryDef(
      (s, d) => {
        import graft.ops.TextClean
        val aug = Tables.documents(s, d).withColumn("text", concat(
          when(pmod(col("doc_id"), lit(5)) === 0, repeat(lit("- x\n"), 10))
            .otherwise(lit("")),
          col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" "), repeat(lit("# "), 15))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(3)) === 1,
            lit("\nread more...\nsee more...")).otherwise(lit(""))))
        TextClean.gopherRules(aug)
          .select("doc_id", "n_words", "n_lines", "n_alpha_words",
            "n_stopwords", "n_symbols", "n_bullet_lines", "n_ellipsis_lines",
            "chars_no_ws", "pass_word_count", "pass_word_shape",
            "pass_symbols", "pass_alpha", "pass_stopwords", "pass_bullets",
            "pass_ellipsis", "pass_gopher")
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN repeat('- x' || chr(10), 10)
             |         ELSE '' END
             |    || text
             |    || CASE WHEN doc_id % 7 = 0 THEN ' ' || repeat('# ', 15)
             |            ELSE '' END
             |    || CASE WHEN doc_id % 3 = 1
             |            THEN chr(10) || 'read more...' || chr(10) || 'see more...'
             |            ELSE '' END AS t
             |  FROM documents),
             |arrs AS (
             |  SELECT doc_id, t,
             |    list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS words,
             |    list_filter(string_split(t, chr(10)), x -> x <> '') AS nls
             |  FROM aug),
             |m AS (
             |  SELECT doc_id,
             |    len(words)::BIGINT AS n_words,
             |    len(nls)::BIGINT AS n_lines,
             |    len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT
             |      AS n_alpha_words,
             |    len(list_filter(words, w -> w IN ('the','a','of','and','is')))::BIGINT
             |      AS n_stopwords,
             |    (len(regexp_extract_all(t, '#'))
             |      + len(regexp_extract_all(t, '\.\.\.')))::BIGINT AS n_symbols,
             |    len(list_filter(nls, l -> regexp_matches(l, '^[-*]')))::BIGINT
             |      AS n_bullet_lines,
             |    len(list_filter(nls, l -> regexp_matches(l, '\.\.\.$')))::BIGINT
             |      AS n_ellipsis_lines,
             |    length(regexp_replace(t, '\s', '', 'g'))::BIGINT AS chars_no_ws
             |  FROM arrs)
             |SELECT doc_id, n_words, n_lines, n_alpha_words, n_stopwords,
             |  n_symbols, n_bullet_lines, n_ellipsis_lines, chars_no_ws,
             |  (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
             |  (chars_no_ws >= n_words*3 AND chars_no_ws <= n_words*10)
             |    AS pass_word_shape,
             |  (n_symbols*10 <= n_words) AS pass_symbols,
             |  (n_alpha_words*10 >= n_words*8) AS pass_alpha,
             |  (n_stopwords >= 2) AS pass_stopwords,
             |  (n_bullet_lines*10 <= n_lines*9) AS pass_bullets,
             |  (n_ellipsis_lines*10 <= n_lines*3) AS pass_ellipsis,
             |  ((n_words >= 50 AND n_words <= 100000)
             |    AND (chars_no_ws >= n_words*3 AND chars_no_ws <= n_words*10)
             |    AND (n_symbols*10 <= n_words)
             |    AND (n_alpha_words*10 >= n_words*8)
             |    AND (n_stopwords >= 2)
             |    AND (n_bullet_lines*10 <= n_lines*9)
             |    AND (n_ellipsis_lines*10 <= n_lines*3)) AS pass_gopher
             |FROM m ORDER BY doc_id""".stripMargin)
    ),

    // Rendezvous-hash re-shard stability audit, 8 → 12 shards: HRW moves
    // ~(12−8)/12 ≈ 3333 bp of docs while mod-hash moves ~2/3 — both
    // assignments, the movement accounting, and the shard balance are
    // rebuilt independently by each engine (argmax over per-shard md5
    // weights, injectively tie-broken as weight·n + s).
    "q_text_shard_rendezvous" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id")
        val mh = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long")
        val b = graft.ops.DataSelect
          .rendezvousShard(docs, 8, out = "s8")
          .transform(df => graft.ops.DataSelect
            .rendezvousShard(df, 12, out = "s12"))
          .withColumn("m8", pmod(mh, lit(8L)))
          .withColumn("m12", pmod(mh, lit(12L)))
        b.groupBy("s12")
          .agg(count(lit(1)).as("c"),
            sum(when(col("s8") =!= col("s12"), 1L).otherwise(0L)).as("hm"),
            sum(when(col("m8") =!= col("m12"), 1L).otherwise(0L)).as("mm"))
          .agg(sum("c").as("n_docs"),
            sum("hm").as("hrw_moved"), sum("mm").as("mod_moved"),
            count(lit(1)).as("n_shards_12"),
            max("c").as("max_shard_12"), min("c").as("min_shard_12"))
          .withColumn("hrw_moved_bp", expr("hrw_moved * 10000 div n_docs"))
          .withColumn("mod_moved_bp", expr("mod_moved * 10000 div n_docs"))
      },
      Some(s"""WITH d AS (SELECT doc_id FROM documents),
             |a8 AS (
             |  SELECT doc_id,
             |    CAST(max(${hex12Sql("md5(doc_id::VARCHAR || '#' || s::VARCHAR)")} * 8 + s) % 8 AS BIGINT) AS s8
             |  FROM d, range(0, 8) t(s) GROUP BY doc_id),
             |a12 AS (
             |  SELECT doc_id,
             |    CAST(max(${hex12Sql("md5(doc_id::VARCHAR || '#' || s::VARCHAR)")} * 12 + s) % 12 AS BIGINT) AS s12
             |  FROM d, range(0, 12) t(s) GROUP BY doc_id),
             |m AS (
             |  SELECT d.doc_id, s8, s12,
             |    ${hex8Sql("md5(doc_id::VARCHAR)")} % 8 AS m8,
             |    ${hex8Sql("md5(doc_id::VARCHAR)")} % 12 AS m12
             |  FROM d JOIN a8 USING (doc_id) JOIN a12 USING (doc_id)),
             |g AS (
             |  SELECT s12, CAST(count(*) AS BIGINT) AS c,
             |    CAST(sum(CASE WHEN s8 <> s12 THEN 1 ELSE 0 END) AS BIGINT) AS hm,
             |    CAST(sum(CASE WHEN m8 <> m12 THEN 1 ELSE 0 END) AS BIGINT) AS mm
             |  FROM m GROUP BY s12),
             |t AS (
             |  SELECT CAST(sum(c) AS BIGINT) AS n_docs,
             |    CAST(sum(hm) AS BIGINT) AS hrw_moved,
             |    CAST(sum(mm) AS BIGINT) AS mod_moved,
             |    CAST(count(*) AS BIGINT) AS n_shards_12,
             |    CAST(max(c) AS BIGINT) AS max_shard_12,
             |    CAST(min(c) AS BIGINT) AS min_shard_12
             |  FROM g)
             |SELECT n_docs, hrw_moved, mod_moved, n_shards_12,
             |  max_shard_12, min_shard_12,
             |  hrw_moved * 10000 // n_docs AS hrw_moved_bp,
             |  mod_moved * 10000 // n_docs AS mod_moved_bp
             |FROM t""".stripMargin)
    ),

    // Markdown structure profile over a deterministically synthesized
    // markdown rendering (8-token lines; every 7th line a '## ' heading,
    // every 5th a '- ' list item, every 11th≡3 a table row, every
    // 13th≡2 carries an inline link) — both engines BUILD the markdown
    // AND classify every line independently.
    "q_text_markdown_stats" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("_toks", graft.ops.TextAnalysis.tokens(col("text")))
          .filter(size(col("_toks")) > 0)
          .withColumn("_raw",
            transform(sequence(lit(0), expr("(size(_toks) - 1) div 8")),
              j => concat_ws(" ", slice(col("_toks"), j * 8 + 1, lit(8)))))
          .withColumn("_md", array_join(
            zip_with(col("_raw"),
              sequence(lit(0), size(col("_raw")) - 1),
              (l, j) => concat(
                when(j % 7 === 0, concat(lit("## "), l))
                  .when(j % 5 === 0, concat(lit("- "), l))
                  .when(j % 11 === 3, concat(lit("| "), l, lit(" |")))
                  .otherwise(l),
                when(j % 13 === 2, lit(" [ref](http://x)"))
                  .otherwise(lit("")))), "\n"))
          .select(col("doc_id"), col("_md").as("text"))
        graft.ops.TextClean.markdownStats(docs).orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |lines AS MATERIALIZED (
             |  SELECT doc_id, j.j AS j,
             |    (CASE WHEN j.j % 7 = 0
             |          THEN '## ' || array_to_string(t[j.j*8+1 : j.j*8+8], ' ')
             |          WHEN j.j % 5 = 0
             |          THEN '- ' || array_to_string(t[j.j*8+1 : j.j*8+8], ' ')
             |          WHEN j.j % 11 = 3
             |          THEN '| ' || array_to_string(t[j.j*8+1 : j.j*8+8], ' ')
             |               || ' |'
             |          ELSE array_to_string(t[j.j*8+1 : j.j*8+8], ' ') END
             |     || CASE WHEN j.j % 13 = 2 THEN ' [ref](http://x)'
             |             ELSE '' END) AS line
             |  FROM toks,
             |    unnest(generate_series(0, (len(t) - 1) // 8)) AS j(j)
             |  WHERE len(t) > 0)
             |SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS n_lines,
             |  CAST(sum(CASE WHEN regexp_matches(line, '^#{1,6} ')
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_headings,
             |  CAST(coalesce(max(CASE WHEN regexp_matches(line, '^#{1,6} ')
             |    THEN length(regexp_extract(line, '^(#{1,6}) ', 1)) END), 0)
             |    AS BIGINT) AS max_heading_depth,
             |  CAST(sum(CASE WHEN regexp_matches(line, '^([-*+]|[0-9]+\.) ')
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_list_items,
             |  CAST(sum(CASE WHEN regexp_matches(line, '^```')
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_fence_lines,
             |  CAST(sum(CASE WHEN regexp_matches(line, '^\|.*\|$')
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_table_rows,
             |  CAST(sum(len(regexp_extract_all(line,
             |    '\[[^\]]*\]\([^)]*\)'))) AS BIGINT) AS n_links,
             |  (sum(CASE WHEN regexp_matches(line, '^#{1,6} ')
             |        OR regexp_matches(line, '^([-*+]|[0-9]+\.) ')
             |        OR regexp_matches(line, '^```')
             |        THEN 1 ELSE 0 END) > 0) AS is_markdownish
             |FROM lines GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)
    ),

    // ε-DP noisy release of per-source doc counts (two-sided geometric,
    // α=0.9, seeded inverse-CDF through the fixed-point log) — both
    // engines rebuild the draws, the log recursion, AND the noise, so
    // the released table matches bit-for-bit.
    "q_text_dp_release" -> QueryDef(
      (s, d) =>
        graft.ops.Privacy.dpNoisyCounts(
          Tables.documents(s, d), "source", alphaBp = 9000L)
          .orderBy("source"),
      Some(s"""WITH RECURSIVE counts AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1),
             |wu AS MATERIALIZED (
             |  SELECT source, c,
             |    ${hex8Sql("md5('dp1:' || source || ':1')")} + 1 AS u1,
             |    ${hex8Sql("md5('dp1:' || source || ':2')")} + 1 AS u2
             |  FROM counts),
             |vals AS (
             |  SELECT DISTINCT x FROM (
             |    SELECT u1 AS x FROM wu
             |    UNION ALL SELECT u2 FROM wu
             |    UNION ALL SELECT 10000
             |    UNION ALL SELECT 9000)),
             |${pseudoLog2Sql("q", "vals")},
             |den AS (
             |  SELECT (SELECT l FROM lgq WHERE x = 10000)
             |       - (SELECT l FROM lgq WHERE x = 9000) AS d)
             |SELECT source,
             |  greatest(c + (2097152 - l1.l) // d - (2097152 - l2.l) // d,
             |    0) AS noisy_count
             |FROM wu JOIN lgq l1 ON wu.u1 = l1.x
             |        JOIN lgq l2 ON wu.u2 = l2.x, den
             |ORDER BY source""".stripMargin)
    ),

    // Corpus-composition audit vs a declared data-card mix: 16 sources
    // at 550 bp each + a declared-but-absent stratum (srcghost) + four
    // undeclared-but-present sources (NULL χ² term = a finding) — both
    // engines rebuild shares, deviations, and per-stratum χ² terms.
    "q_text_mix_audit" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val quotas =
          ((0 until 16).map(i => (s"src$i", 550L)) :+ ("srcghost", 1200L))
            .toDF("stratum", "q_bp")
        graft.ops.DataSelect.mixAudit(
          Tables.documents(s, d).select(col("source").as("stratum")), quotas)
          .orderBy("stratum")
      },
      Some {
        val vals = ((0 until 16).map(i => s"('src$i', 550)") :+
          "('srcghost', 1200)").mkString(", ")
        s"""WITH q(stratum, q_bp) AS (VALUES $vals),
           |obs AS (
           |  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs
           |  FROM documents GROUP BY 1),
           |j AS (
           |  SELECT coalesce(obs.stratum, q.stratum) AS stratum,
           |    CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
           |    CAST(q.q_bp AS BIGINT) AS q_bp
           |  FROM obs FULL OUTER JOIN q ON obs.stratum = q.stratum),
           |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM j)
           |SELECT stratum, n_docs, n_docs * 10000 // n AS p_bp, q_bp,
           |  n_docs * 10000 // n - coalesce(q_bp, 0) AS dev_bp,
           |  CASE WHEN q_bp IS NULL OR q_bp <= 0 THEN NULL
           |       ELSE (n_docs * 10000 // n - q_bp)
           |            * (n_docs * 10000 // n - q_bp) // q_bp
           |  END AS chi2_term_e4
           |FROM j, t ORDER BY stratum""".stripMargin
      }
    ),

    // Deterministic EDA token dropout at 1500 bp, seed-keyed per
    // (doc, position): both engines rebuild the kept-position set AND
    // the augmented string (compared by md5) digit-for-digit.
    "q_text_augment_dropout" -> QueryDef(
      (s, d) =>
        graft.ops.TextClean.tokenDropout(Tables.documents(s, d),
            dropBp = 1500)
          .select(col("doc_id"), md5(col("text_aug")).as("aug_md5"),
            col("n_tokens"), col("n_dropped"))
          .orderBy("doc_id"),
      Some(s"""WITH toks AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |kept AS (
             |  SELECT tk.doc_id, g.i - 1 AS p, tk.t[g.i] AS tok
             |  FROM toks tk, unnest(generate_series(1, len(tk.t))) AS g(i)
             |  WHERE ${hex8Sql(
                  "md5('aug1:' || doc_id::VARCHAR || ':' || (g.i - 1)::VARCHAR)")}
             |      % 10000 >= 1500),
             |agg AS (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             |    string_agg(tok, ' ' ORDER BY p) AS aug
             |  FROM kept GROUP BY 1)
             |SELECT tk.doc_id, md5(coalesce(aug, '')) AS aug_md5,
             |  CAST(len(tk.t) AS BIGINT) AS n_tokens,
             |  CAST(len(tk.t) AS BIGINT) - CAST(coalesce(n_kept, 0) AS BIGINT)
             |    AS n_dropped
             |FROM toks tk LEFT JOIN agg USING (doc_id)
             |ORDER BY tk.doc_id""".stripMargin)
    ),

    // Output-shard manifest: id-hash shard assignment (migration-free
    // under corpus growth) + per-shard volume accounting + an order-free
    // content checksum a loader can recompute to prove shard integrity.
    "q_text_shard_manifest" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.shardManifest(Tables.documents(s, d), nShards = 16)
          .orderBy("shard"),
      Some("""WITH assigned AS (
             |  SELECT
             |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
             |      AS BIGINT) % 16 AS shard,
             |    doc_id,
             |    len(list_filter(string_split(text, ' '), x -> x <> ''))
             |      AS ntok,
             |    length(text) AS nchars,
             |    CAST(('0x' || substring(md5(text), 1, 12)) AS BIGINT) AS ck
             |  FROM documents)
             |SELECT shard, count(*) AS n_docs,
             |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
             |  CAST(sum(nchars) AS BIGINT) AS n_chars,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id,
             |  CAST(sum(ck) AS BIGINT) AS content_checksum
             |FROM assigned GROUP BY shard ORDER BY shard""".stripMargin)
    ),

    // WITHIN-document repeated-line removal (paragraph-dedup intake
    // rule): each doc gets a header line, its body chunked into 10-token
    // lines, then an injected repeat of body line 1 and of the header —
    // within-doc dups that intraDocLineDedup must strip while keeping
    // first occurrences in order. DuckDB replays the synthesis and the
    // first-position keep rule via a (doc, line)-partitioned row_number.
    "q_text_intradoc_dedup" -> QueryDef(
      (s, d) => {
        import graft.ops.TextClean
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("body", transform(
            sequence(lit(0),
              floor((size(col("toks")) - 1) / 10).cast("int")),
            i => array_join(slice(col("toks"), i * 10 + 1, lit(10)), " ")))
          .withColumn("head", concat(lit("about "), col("source")))
          .withColumn("lines", concat(
            array(col("head")), col("body"),
            array(element_at(col("body"), 1), col("head"))))
        docs
          .select(col("doc_id"),
            size(col("lines")).cast("long").as("n_lines"),
            TextClean.intraDocLineDedup(col("lines")).as("kept"))
          .select(col("doc_id"), col("n_lines"),
            size(col("kept")).cast("long").as("n_kept"),
            md5(array_join(col("kept"), "\n")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH toksrc AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |body AS (
             |  SELECT doc_id, i + 1 AS pos,
             |    array_to_string(toks[(10*i+1):(10*i+10)], ' ') AS line
             |  FROM toksrc,
             |    unnest(generate_series(0, (len(toks)-1)//10)) AS g(i)),
             |keyed AS (
             |  SELECT doc_id, 0 AS pos, 'about ' || source AS line FROM toksrc
             |  UNION ALL SELECT * FROM body
             |  UNION ALL
             |  SELECT doc_id, (len(toks)-1)//10 + 2 AS pos,
             |    array_to_string(toks[1:10], ' ') AS line
             |  FROM toksrc
             |  UNION ALL
             |  SELECT doc_id, (len(toks)-1)//10 + 3 AS pos,
             |    'about ' || source AS line
             |  FROM toksrc),
             |firsts AS (
             |  SELECT doc_id, pos, line,
             |    row_number() OVER (PARTITION BY doc_id, line ORDER BY pos)
             |      AS rn
             |  FROM keyed)
             |SELECT k.doc_id,
             |  (SELECT count(*) FROM keyed WHERE keyed.doc_id = k.doc_id)
             |    AS n_lines,
             |  count(*) AS n_kept,
             |  md5(string_agg(k.line, chr(10) ORDER BY k.pos)) AS clean_md5
             |FROM firsts k WHERE k.rn = 1
             |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin)
    ),

    // Corpus-level line dedup (the C4 boilerplate rule): docs become
    // line lists — an injected per-source subscribe header, the body
    // chunked into 10-token lines, an injected per-source copyright
    // footer. The injected lines repeat ~corpus/source times, so the
    // ≥3-occurrence rule strips them everywhere except their first
    // corpus position; body lines are (at this vocabulary) unique and
    // all survive. DuckDB replays the chunking, the df/first-position
    // stats, the keep rule, and the in-order reassembly bit-for-bit.
    "q_text_line_dedup" -> QueryDef(
      (s, d) => {
        import graft.ops.TextClean
        val docs = Tables.documents(s, d)
          // materialize the token array BEFORE the transform lambda —
          // HOF lambdas re-evaluate closed-over expressions per element
          .withColumn("toks", tokens(col("text")))
          .withColumn("lines", concat(
            array(concat(lit("subscribe to "), col("source"),
              lit(" newsletter"))),
            transform(
              sequence(lit(0),
                floor((size(col("toks")) - 1) / 10).cast("int")),
              i => array_join(slice(col("toks"), i * 10 + 1, lit(10)), " ")),
            array(concat(lit("copyright "), col("source"),
              lit(" all rights reserved")))))
        TextClean.lineDedup(docs.select(col("doc_id"), col("lines")))
          .select(col("doc_id"), col("n_kept"),
            md5(col("text")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH toksrc AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |body AS (
             |  SELECT doc_id, i + 1 AS pos,
             |    array_to_string(toks[(10*i+1):(10*i+10)], ' ') AS line
             |  FROM toksrc,
             |    unnest(generate_series(0, (len(toks)-1)//10)) AS g(i)),
             |heads AS (
             |  SELECT doc_id, 0 AS pos,
             |    'subscribe to ' || source || ' newsletter' AS line
             |  FROM toksrc),
             |tails AS (
             |  SELECT doc_id, (len(toks)-1)//10 + 2 AS pos,
             |    'copyright ' || source || ' all rights reserved' AS line
             |  FROM toksrc),
             |keyed AS (
             |  SELECT doc_id, pos, line, doc_id*100000 + pos AS pos_key
             |  FROM (SELECT * FROM heads UNION ALL SELECT * FROM body
             |        UNION ALL SELECT * FROM tails)),
             |stats AS (
             |  SELECT line, count(*) AS df, min(pos_key) AS first_key
             |  FROM keyed GROUP BY line),
             |kept AS (
             |  SELECT k.doc_id, k.pos, k.line
             |  FROM keyed k JOIN stats s ON k.line = s.line
             |  WHERE s.df < 3 OR k.pos_key = s.first_key)
             |SELECT doc_id, count(*) AS n_kept,
             |  md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
             |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // Per-source boilerplate removal: the line fixture plants (a) a
    // newsletter line in EVERY doc of its source (100% → removed), (b)
    // "premium content network" in all docs of even-length sources but
    // only doc_id%17 docs of odd-length ones (same literal, removed in
    // one group and KEPT in the other — the per-domain point), (c) a
    // promo line in doc_id%3 docs (~33% < the 50% fraction gate → kept),
    // and (d) the 10-token body chunks (unique → kept). Both engines
    // assemble the lines AND replay the distinct-doc-frequency rule.
    "q_text_boilerplate" -> QueryDef(
      (s, d) => {
        import graft.ops.TextClean
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("lines", concat(
            array(concat(lit("subscribe to "), col("source"),
              lit(" newsletter"))),
            when(length(col("source")) % 2 === 0 ||
                pmod(col("doc_id"), lit(17)) === 0,
              array(lit("premium content network")))
              .otherwise(array().cast("array<string>")),
            transform(
              sequence(lit(0),
                floor((size(col("toks")) - 1) / 10).cast("int")),
              i => array_join(slice(col("toks"), i * 10 + 1, lit(10)), " ")),
            when(pmod(col("doc_id"), lit(3)) === 0,
              array(concat(lit("promo "), col("source"),
                lit(" weekly digest"))))
              .otherwise(array().cast("array<string>"))))
        TextClean.boilerplate(
          docs.select(col("doc_id"), col("source"), col("lines")))
          .select(col("doc_id"), col("n_kept"), col("n_removed"),
            md5(col("text")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH toksrc AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             |    CASE WHEN length(source) % 2 = 0 OR doc_id % 17 = 0
             |         THEN 1 ELSE 0 END AS hp,
             |    (len(list_filter(string_split(text, ' '), x -> x <> ''))
             |      - 1) // 10 + 1 AS nb
             |  FROM documents),
             |keyed AS (
             |  SELECT doc_id, source, 0 AS pos,
             |    'subscribe to ' || source || ' newsletter' AS line
             |  FROM toksrc
             |  UNION ALL
             |  SELECT doc_id, source, 1, 'premium content network'
             |  FROM toksrc WHERE hp = 1
             |  UNION ALL
             |  SELECT doc_id, source, i + 1 + hp,
             |    array_to_string(toks[(10*i+1):(10*i+10)], ' ')
             |  FROM toksrc, unnest(generate_series(0, nb - 1)) AS g(i)
             |  UNION ALL
             |  SELECT doc_id, source, nb + 1 + hp,
             |    'promo ' || source || ' weekly digest'
             |  FROM toksrc WHERE doc_id % 3 = 0),
             |grpsz AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY 1),
             |stats AS (
             |  SELECT source, line,
             |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
             |  FROM keyed GROUP BY 1, 2),
             |boiler AS (
             |  SELECT s.source, s.line, 1 AS _b
             |  FROM stats s JOIN grpsz g ON s.source = g.source
             |  WHERE s.df >= 3 AND s.df * 10000 >= 5000 * g.n_docs),
             |marked AS (
             |  SELECT k.doc_id, k.pos, k.line, b._b
             |  FROM keyed k LEFT JOIN boiler b
             |    ON k.source = b.source AND k.line = b.line)
             |SELECT doc_id,
             |  CAST(count(*) FILTER (WHERE _b IS NULL) AS BIGINT) AS n_kept,
             |  CAST(count(*) FILTER (WHERE _b IS NOT NULL) AS BIGINT)
             |    AS n_removed,
             |  md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
             |    FILTER (WHERE _b IS NULL), '')) AS clean_md5
             |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // Sentence-BLEU between each doc's first 40 tokens (reference) and
    // a 36-token candidate with every 9th token swapped to 'the' — both
    // engines build the pair, count clipped n-gram matches per order,
    // and replay the fixed-point log composite + exact integer brevity
    // penalty (c=36 < r=40 → BP fires on every full-length doc).
    "q_text_bleu" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("ref_toks", slice(col("toks"), 1, 40))
          .withColumn("cand_toks",
            // zero-token guard: sequence(1, 0) descends to [1, 0] and
            // the phantom element_at(toks, 1) errors under ANSI — an
            // all-whitespace doc must yield an EMPTY candidate list
            // (the oracle's list_transform over [] does the same)
            when(size(col("toks")) >= 1,
              transform(sequence(lit(1), least(size(col("toks")), lit(36))),
                i => when(pmod(i, lit(9)) === 0, lit("the"))
                  .otherwise(element_at(col("toks"), i))))
              .otherwise(array().cast("array<string>")))
        graft.ops.TextAnalysis.bleu(
            docs.select(col("doc_id"), col("cand_toks"), col("ref_toks")),
            "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE toksrc AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |prep AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_transform(generate_series(1, least(len(t), 36)),
             |      i -> CASE WHEN i % 9 = 0 THEN 'the' ELSE t[i] END) AS ct,
             |    t[1:40] AS rt
             |  FROM toksrc),
             |lens AS (
             |  SELECT doc_id, CAST(len(ct) AS BIGINT) AS clen,
             |    CAST(len(rt) AS BIGINT) AS rlen
             |  FROM prep),
             |cg AS MATERIALIZED (
             |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cc FROM (
             |    SELECT doc_id, n, array_to_string(ct[i:i+n-1], ' ') AS g
             |    FROM prep CROSS JOIN range(1, 5) nn(n),
             |      unnest(generate_series(1, len(ct) - n + 1)) AS gg(i)
             |    WHERE len(ct) >= n)
             |  GROUP BY 1, 2, 3),
             |rg AS MATERIALIZED (
             |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS rc FROM (
             |    SELECT doc_id, n, array_to_string(rt[i:i+n-1], ' ') AS g
             |    FROM prep CROSS JOIN range(1, 5) nn(n),
             |      unnest(generate_series(1, len(rt) - n + 1)) AS gg(i)
             |    WHERE len(rt) >= n)
             |  GROUP BY 1, 2, 3),
             |stats AS MATERIALIZED (
             |  SELECT cg.doc_id, cg.n,
             |    CAST(sum(least(cg.cc, coalesce(rg.rc, 0))) AS BIGINT)
             |      AS clip,
             |    CAST(sum(cg.cc) AS BIGINT) AS tot
             |  FROM cg LEFT JOIN rg ON rg.doc_id = cg.doc_id
             |    AND rg.n = cg.n AND rg.g = cg.g
             |  GROUP BY 1, 2),
             |vals AS (SELECT DISTINCT x FROM (
             |  SELECT clip AS x FROM stats WHERE clip > 0
             |  UNION ALL SELECT tot FROM stats WHERE clip > 0)),
             |${pseudoLog2Sql("b", "vals")},
             |logged AS (
             |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS npos,
             |    CAST(sum(lc.l - lt.l) AS BIGINT) AS slp
             |  FROM stats s
             |  JOIN lgb lc ON lc.x = s.clip
             |  JOIN lgb lt ON lt.x = s.tot
             |  WHERE s.clip > 0
             |  GROUP BY 1),
             |po AS (
             |  SELECT doc_id,
             |    max(CASE WHEN n = 1 THEN clip * 10000 // tot END) AS p1_bp,
             |    max(CASE WHEN n = 2 THEN clip * 10000 // tot END) AS p2_bp,
             |    max(CASE WHEN n = 3 THEN clip * 10000 // tot END) AS p3_bp,
             |    max(CASE WHEN n = 4 THEN clip * 10000 // tot END) AS p4_bp
             |  FROM stats GROUP BY 1)
             |SELECT l.doc_id, l.clen AS len_cand, l.rlen AS len_ref,
             |  p1_bp, p2_bp, p3_bp, p4_bp,
             |  CAST(CASE WHEN l.clen >= l.rlen OR l.clen = 0 THEN 0
             |    ELSE -(((l.rlen - l.clen) * 94548) // l.clen) END
             |    AS BIGINT) AS bp_log2_fp,
             |  CAST(CASE WHEN lg.npos = 4 THEN
             |    (CASE WHEN l.clen >= l.rlen OR l.clen = 0 THEN 0
             |      ELSE -(((l.rlen - l.clen) * 94548) // l.clen) END)
             |    + slp // 4 END AS BIGINT) AS bleu_log2_fp
             |FROM lens l
             |LEFT JOIN po USING (doc_id)
             |LEFT JOIN logged lg USING (doc_id)
             |ORDER BY doc_id""".stripMargin)
    ),

    "q_text_normalize" -> QueryDef(
      (s, d) => {
        import graft.ops.TextClean
        val noisy = concat(lit("  MiXeD\t"), col("text"),
          lit("\r\n xx  YY "), (col("doc_id") % 7).cast("string"))
        Tables.documents(s, d)
          .select(col("doc_id"), TextClean.normalize(noisy).as("norm"))
          .select(col("doc_id"), col("norm"),
            length(col("norm")).as("n_chars"), md5(col("norm")).as("norm_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH noisy AS (
             |  SELECT doc_id,
             |    '  MiXeD' || chr(9) || text || chr(13) || chr(10)
             |      || ' xx  YY ' || (doc_id % 7) AS s
             |  FROM documents),
             |norm AS (
             |  SELECT doc_id,
             |    trim(regexp_replace(regexp_replace(lower(s),
             |      '[\x00-\x1f\x7f]', ' ', 'g'), ' {2,}', ' ', 'g')) AS norm
             |  FROM noisy)
             |SELECT doc_id, norm, CAST(length(norm) AS INTEGER) AS n_chars,
             |  md5(norm) AS norm_md5
             |FROM norm ORDER BY doc_id""".stripMargin)
    ),

    // BPE tokenizer training: 8 merge rounds as distributed aggregations
    // over the word-frequency table, with DuckDB replaying the ENTIRE
    // training loop — symbolization, weighted pair counts, tie-breaks,
    // and the sentinel-bounded merge rewrites — bit-for-bit (the same
    // whole-loop-oracle pattern as the k-means IVF query).
    "q_text_bpe_train" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.bpeTrain(Tables.documents(s, d), nMerges = 8)
          .orderBy("step"),
      Some(bpeTrainSql(8))
    ),

    // BPE ENCODE: train 8 merges, then apply them to the corpus —
    // per-doc subword counts. Encoding runs over the distinct-token
    // vocabulary (vocab × merges string work), the corpus pays one
    // equi-join; the oracle exploits encode(word) ≡ the training chain's
    // final symbolization and joins the corpus against w8 directly.
    "q_text_bpe_encode" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = graft.ops.TextAnalysis.bpeTrain(docs, nMerges = 8)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.TextAnalysis.bpeEncode(docs, m).orderBy("doc_id")
      },
      Some(s"""${bpeTrainCtes(8)},
              |enc AS (
              |  SELECT replace(w, ' ', '') AS tok,
              |    CAST(len(string_split(w, ' ')) AS BIGINT) AS np FROM w8),
              |toksd AS (
              |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
              |    x -> x <> '')) AS tok FROM documents)
              |SELECT doc_id, count(*) AS n_words,
              |  CAST(sum(np) AS BIGINT) AS n_bpe_tokens
              |FROM toksd JOIN enc USING (tok)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    "q_text_bpe_tokens" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .agg(
            sum(bpeTokenCount(col("text"))).as("total_bpe_tokens"),
            sum(tokenCount(col("text"))).as("total_ws_tokens"),
            count(lit(1)).as("n_docs")
          ),
      Some("""SELECT
             |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens,
             |  CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS total_ws_tokens,
             |  count(*) AS n_docs
             |FROM documents""".stripMargin)
    ),

    // Simpson diversity: frequency-mass token diversity 1 - sum(p_i^2) —
    // flags keyword-stuffed text that type-count ratios miss. Integer
    // sum of squares + one exact division.
    "q_text_diversity" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.simpsonDiversity(Tables.documents(s, d))
          .orderBy("doc_id"),
      Some("""WITH tf AS (
             |  SELECT doc_id, tok, count(*) AS c FROM (
             |    SELECT doc_id,
             |      unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
             |    FROM documents)
             |  GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(sum(c) AS BIGINT) AS n,
             |  CAST(sum(c * c) AS BIGINT) AS sum_c2,
             |  1.0::DOUBLE - CAST(sum(c * c) AS BIGINT)::DOUBLE
             |    / (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT))
             |    AS diversity
             |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // TF-IDF keyword extraction: top-3 terms per document, score =
    // tf × N / df (raw idf — same ranking as log-idf, but exact integer
    // product + one IEEE division, so the oracle replays it bit-for-bit;
    // log's last-ulp behavior is libm-specific).
    "q_text_tfidf" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.tfidf(
            Tables.documents(s, d).filter(col("doc_id") < 100), k = 3)
          .orderBy("doc_id", "rank"),
      Some("""WITH docs AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
             |toks AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
             |  FROM docs),
             |tf AS (
             |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (
             |  SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM docs),
             |scored AS (
             |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             |    CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
             |  FROM tf JOIN df USING (tok) CROSS JOIN n)
             |SELECT doc_id,
             |  CAST(row_number() OVER w AS INTEGER) AS rank,
             |  tok AS term, tf, df, score
             |FROM scored
             |WINDOW w AS (PARTITION BY doc_id ORDER BY score DESC, tok)
             |QUALIFY row_number() OVER w <= 3
             |ORDER BY doc_id, rank""".stripMargin)
    ),

    // Bigram-LM coverage scoring (CCNet-style quality filter core): the
    // corpus's bigram table IS the trained model; each doc scores by the
    // fraction of its bigram mass with corpus frequency >= 3. Exact
    // integer mass ratios instead of log-perplexity — engine-replayable.
    "q_text_lm_coverage" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.lmCoverage(Tables.documents(s, d), n = 2,
            minCount = 3L)
          .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram, count(*) AS c
             |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
             |  WHERE len(t) >= 2 GROUP BY 1, 2),
             |model AS (
             |  SELECT gram FROM grams GROUP BY gram
             |  HAVING sum(c) >= 3)
             |SELECT g.doc_id,
             |  CAST(sum(g.c) AS BIGINT) AS n_ngrams,
             |  CAST(sum(CASE WHEN m.gram IS NOT NULL THEN g.c ELSE 0 END)
             |    AS BIGINT) AS n_known,
             |  CAST(sum(CASE WHEN m.gram IS NOT NULL THEN g.c ELSE 0 END)
             |    AS BIGINT)::DOUBLE / CAST(sum(g.c) AS BIGINT) AS known_frac
             |FROM grams g LEFT JOIN model m ON g.gram = m.gram
             |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)
    ),

    // TextRank keyword centrality: 4 PageRank iterations over the
    // word-adjacency graph, with DuckDB replaying the ENTIRE power
    // iteration bit-for-bit — the per-vertex contribution sums fold in
    // pinned source-vertex order on both engines (aggregate(sort_array)
    // vs list_reduce(list ORDER BY)), the same whole-loop-oracle pattern
    // as k-means IVF and BPE training.
    // Seed-personalized PageRank over the co-occurrence graph: teleport
    // mass returns only to {join, hash}, the top non-seed tokens are the
    // topic expansion — both engines unroll the same 4 integer rounds.
    "q_text_topic_expand" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val pairs = graft.ops.TextAnalysis
          .ngramCounts(Tables.documents(s, d), 2)
          .groupBy("gram").agg(sum(col("c")).as("w"))
          .select(split(col("gram"), " ").as("uv"), col("w"))
          .select(element_at(col("uv"), 1).as("a"),
            element_at(col("uv"), 2).as("b"), col("w"))
          .filter(col("a") =!= col("b"))
        val edges = pairs
          .select(col("a").as("u"), col("b").as("v"), col("w"))
          .unionByName(
            pairs.select(col("b").as("u"), col("a").as("v"), col("w")))
          .groupBy("u", "v").agg(sum(col("w")).as("w"))
        graft.ops.Graph.personalizedPageRank(edges,
            Seq("join", "hash").toDF("tok"), iters = 4)
          .filter(!col("is_seed"))
          .orderBy(col("r").desc, col("tok")).limit(20)
      },
      Some(pprSql(4, Seq("join", "hash")))
    ),

    "q_text_textrank" -> QueryDef(
      (s, d) =>
        graft.ops.Graph.textRank(Tables.documents(s, d), iters = 4)
          .orderBy(desc("r"), asc("tok")).limit(30),
      Some(textRankSql(4))
    ),

    // BM25 retrieval scoring (rational-idf variant — log is libm-specific,
    // same trade as tfidf): per-(doc,term) contributions floored to
    // integer micro-units BEFORE the per-doc sum, so both engines sum in
    // any order and agree bit-for-bit. Oracle mirrors the association
    // order of every double op.
    // DoReMi-style mixture optimization: per-source quality deficit as
    // the excess-loss proxy, 4 multiplicative-weight rounds with the
    // engine-exact pseudo-exponential (8 IEEE squarings, no libm) and
    // integer re-quantization before every normalization sum — DuckDB
    // replays the aggregation, all 8 squarings, and all 4 rounds.
    "q_text_doremi_mix" -> QueryDef(
      (s, d) =>
        graft.ops.DataSelect.doremiMix(Tables.documents(s, d), "source",
            lit(10000L) - floor(qualityScore(col("text")) * 10000)
              .cast("long"),
            iters = 4, etaBp = 5000L)
          .orderBy("domain"),
      Some("""WITH toksrc AS (
             |  SELECT source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             |    length(replace(text, ' ', ''))::DOUBLE AS nosp
             |  FROM documents),
             |scored AS (
             |  SELECT source,
             |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
             |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
             |      + least((nosp / len(toks)) / 8.0, 1.0) * 0.3) * 10000)
             |      AS BIGINT) AS q
             |  FROM toksrc),
             |stats AS (
             |  SELECT source AS domain, count(*) AS n_docs,
             |    CAST(sum(10000 - q) // count(*) AS BIGINT) AS loss_bp
             |  FROM scored GROUP BY 1),
             |nd AS (SELECT count(*) AS k FROM stats),
             |m0 AS (SELECT domain, n_docs, loss_bp,
             |    1.0 + ((5000.0 / 10000.0)
             |      * (CAST(loss_bp AS DOUBLE) / 10000.0)) / 256.0 AS e
             |  FROM stats),
             |m1 AS (SELECT domain, n_docs, loss_bp, e*e AS e FROM m0),
             |m2 AS (SELECT domain, n_docs, loss_bp, e*e AS e FROM m1),
             |m3 AS (SELECT domain, n_docs, loss_bp, e*e AS e FROM m2),
             |m4 AS (SELECT domain, n_docs, loss_bp, e*e AS e FROM m3),
             |m5 AS (SELECT domain, n_docs, loss_bp, e*e AS e FROM m4),
             |m6 AS (SELECT domain, n_docs, loss_bp, e*e AS e FROM m5),
             |m7 AS (SELECT domain, n_docs, loss_bp, e*e AS e FROM m6),
             |m8 AS (SELECT domain, n_docs, loss_bp, e*e AS e FROM m7),
             |r0 AS (SELECT *, 1000000 // (SELECT k FROM nd) AS w FROM m8),
             |a1 AS (SELECT *,
             |  CAST(floor(CAST(w AS DOUBLE) * e) AS BIGINT) AS raw FROM r0),
             |r1 AS (SELECT domain, n_docs, loss_bp, e,
             |  CAST(1000000 * raw
             |    // (SELECT CAST(sum(raw) AS BIGINT) FROM a1) AS BIGINT)
             |    AS w FROM a1),
             |a2 AS (SELECT *,
             |  CAST(floor(CAST(w AS DOUBLE) * e) AS BIGINT) AS raw FROM r1),
             |r2 AS (SELECT domain, n_docs, loss_bp, e,
             |  CAST(1000000 * raw
             |    // (SELECT CAST(sum(raw) AS BIGINT) FROM a2) AS BIGINT)
             |    AS w FROM a2),
             |a3 AS (SELECT *,
             |  CAST(floor(CAST(w AS DOUBLE) * e) AS BIGINT) AS raw FROM r2),
             |r3 AS (SELECT domain, n_docs, loss_bp, e,
             |  CAST(1000000 * raw
             |    // (SELECT CAST(sum(raw) AS BIGINT) FROM a3) AS BIGINT)
             |    AS w FROM a3),
             |a4 AS (SELECT *,
             |  CAST(floor(CAST(w AS DOUBLE) * e) AS BIGINT) AS raw FROM r3),
             |r4 AS (SELECT domain, n_docs, loss_bp, e,
             |  CAST(1000000 * raw
             |    // (SELECT CAST(sum(raw) AS BIGINT) FROM a4) AS BIGINT)
             |    AS w FROM a4)
             |SELECT domain, n_docs, loss_bp, w AS weight_micro
             |FROM r4 ORDER BY domain""".stripMargin)
    ),

    // Retrieve-then-rerank: stage 1 generates ≤20 candidates per query
    // from a broadcast inverted-index token join (shared-token count,
    // work ∝ matching postings); stage 2 rescores ONLY those candidates
    // by exact token-overlap F1 and re-ranks, ties keeping stage-1
    // order. Queries are 8-token prefixes of every 50th doc, so each
    // query's own doc must rerank to the top — and the oracle replays
    // both stages, the F1 arithmetic, and both tie-breaks.
    "q_text_rerank" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
        val docToks = base.select(col("doc_id"),
          array_distinct(col("toks")).as("d_toks"))
        val queries = base.filter(pmod(col("doc_id"), lit(50)) === 0)
          .select((col("doc_id") + 1000000L).as("query_id"),
            array_distinct(slice(col("toks"), 1, 8)).as("q_toks"))
        val qx = queries.select(col("query_id"),
          explode(col("q_toks")).as("tok"))
        val dx = docToks.select(col("doc_id"),
          explode(col("d_toks")).as("tok"))
        val w1 = Window.partitionBy("query_id")
          .orderBy(desc("shared"), asc("doc_id"))
        val cands = broadcast(qx).join(dx, "tok")
          .groupBy("query_id", "doc_id")
          .agg(count(lit(1)).as("shared"))
          .withColumn("rank1", row_number().over(w1).cast("int"))
          .filter(col("rank1") <= 20)
          .select("query_id", "doc_id", "rank1")
        graft.ops.Retrieval.overlapRerank(cands, queries, docToks, topK = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH base AS (
             |  SELECT doc_id,
             |    list_distinct(list_filter(string_split(text, ' '),
             |      x -> x <> '')) AS d_toks
             |  FROM documents),
             |queries AS (
             |  SELECT doc_id + 1000000 AS query_id,
             |    list_distinct((list_filter(string_split(text, ' '),
             |      x -> x <> ''))[1:8]) AS q_toks
             |  FROM documents WHERE doc_id % 50 = 0),
             |qx AS (SELECT query_id, unnest(q_toks) AS tok FROM queries),
             |dx AS (SELECT doc_id, unnest(d_toks) AS tok FROM base),
             |c1 AS (
             |  SELECT query_id, doc_id, count(*) AS shared
             |  FROM qx JOIN dx USING (tok) GROUP BY 1, 2),
             |cands AS (
             |  SELECT query_id, doc_id,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY shared DESC, doc_id) AS INTEGER) AS rank1
             |  FROM c1 QUALIFY rank1 <= 20),
             |inter AS (
             |  SELECT c.query_id, c.doc_id, count(*) AS n
             |  FROM cands c
             |  JOIN qx ON qx.query_id = c.query_id
             |  JOIN dx ON dx.doc_id = c.doc_id AND dx.tok = qx.tok
             |  GROUP BY 1, 2),
             |scored AS (
             |  SELECT c.query_id, c.doc_id, c.rank1,
             |    CAST((20000 * coalesce(i.n, 0))
             |      // (len(q.q_toks) + len(b.d_toks)) AS BIGINT) AS f1_bp
             |  FROM cands c
             |  JOIN queries q USING (query_id)
             |  JOIN base b USING (doc_id)
             |  LEFT JOIN inter i
             |    ON i.query_id = c.query_id AND i.doc_id = c.doc_id)
             |SELECT query_id, doc_id, f1_bp, rank1,
             |  CAST(row_number() OVER (PARTITION BY query_id
             |    ORDER BY f1_bp DESC, rank1) AS INTEGER) AS rank
             |FROM scored QUALIFY rank <= 5
             |ORDER BY query_id, rank""".stripMargin)
    ),

    "q_text_bm25" -> QueryDef(
      (s, d) =>
        graft.ops.Retrieval.bm25(Tables.documents(s, d),
            terms = Seq("hash", "window", "vector"))
          .orderBy(desc("score_micro"), asc("doc_id")).limit(50),
      Some("""WITH lens AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
             |      AS BIGINT) AS dl
             |  FROM documents),
             |stats AS (
             |  SELECT count(*) AS n_docs,
             |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
             |toks AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, tok, count(*) AS tf FROM toks
             |  WHERE tok IN ('hash', 'window', 'vector') GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |scored AS (
             |  SELECT tf.doc_id,
             |    CAST(floor(1000000.0
             |      * ((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
             |      * (tf * (1.2 + 1.0))
             |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
             |      AS BIGINT) AS c
             |  FROM tf JOIN df USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats)
             |SELECT doc_id, count(*) AS n_terms, CAST(sum(c) AS BIGINT) AS score_micro
             |FROM scored GROUP BY doc_id
             |ORDER BY score_micro DESC, doc_id LIMIT 50""".stripMargin)
    ),

    // Exact repeated-substring spans (Lee et al. 2021 core): maximal
    // merged runs of 8-token windows occurring ≥3 times corpus-wide —
    // the verbatim-boilerplate mask document-level dedup can't see.
    // Integer positions end-to-end.
    "q_text_repeated_spans" -> QueryDef(
      (s, d) =>
        graft.ops.Substring.repeatedSpans(Tables.documents(s, d),
            n = 8, minRep = 3)
          .orderBy("doc_id", "span_start"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |wins AS (
             |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             |    array_to_string(t[i : i + 7], ' ') AS gram
             |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS g(i)
             |  WHERE len(t) >= 8),
             |freq AS (
             |  SELECT gram, count(*) AS rep FROM wins
             |  GROUP BY 1 HAVING count(*) >= 3),
             |occ AS (
             |  SELECT w.doc_id, w.pos, f.rep FROM wins w JOIN freq f USING (gram)),
             |isl AS (
             |  SELECT doc_id, pos, rep,
             |    CASE WHEN pos > coalesce(max(pos + 8) OVER (
             |        PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             |      THEN 1 ELSE 0 END AS new_island
             |  FROM occ),
             |isl2 AS (
             |  SELECT doc_id, pos, rep,
             |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM isl)
             |SELECT doc_id, min(pos) AS span_start, max(pos + 8) AS span_end,
             |  count(*) AS n_windows, CAST(max(rep) AS BIGINT) AS max_rep
             |FROM isl2 GROUP BY doc_id, island
             |ORDER BY doc_id, span_start""".stripMargin)
    ),

    // ExactSubstr dedup (Lee et al. 2022): every repeated 8-token window
    // keeps its first corpus occurrence and is cut everywhere else; both
    // engines rebuild the window stream, the keeper choice, the span
    // merge, AND the cleaned text — compared by md5, so the actual
    // reconstructed strings must match verbatim.
    "q_text_cut_spans" -> QueryDef(
      (s, d) =>
        graft.ops.Substring.cutRepeatedSpans(Tables.documents(s, d),
            n = 8, minRep = 2)
          .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
            col("n_tokens_before"), col("n_tokens_after"), col("n_cut"))
          .orderBy("doc_id"),
      Some("""WITH toks AS MATERIALIZED (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |wins AS MATERIALIZED (
             |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             |    array_to_string(t[i : i + 7], ' ') AS gram
             |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS g(i)
             |  WHERE len(t) >= 8),
             |freq AS (
             |  SELECT gram, count(*) AS rep,
             |    min(doc_id * 1000000000 + pos) AS keep
             |  FROM wins GROUP BY 1 HAVING count(*) >= 2),
             |cut AS (
             |  SELECT w.doc_id, w.pos FROM wins w JOIN freq f USING (gram)
             |  WHERE w.doc_id * 1000000000 + w.pos <> f.keep),
             |isl AS (
             |  SELECT doc_id, pos,
             |    CASE WHEN pos > coalesce(max(pos + 8) OVER (
             |        PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             |      THEN 1 ELSE 0 END AS new_island
             |  FROM cut),
             |isl2 AS (
             |  SELECT doc_id, pos,
             |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM isl),
             |spans AS MATERIALIZED (
             |  SELECT doc_id, island, min(pos) AS s, max(pos + 8) AS e
             |  FROM isl2 GROUP BY 1, 2),
             |kept AS (
             |  SELECT tk.doc_id, g.i - 1 AS p, tk.t[g.i] AS tok
             |  FROM toks tk, unnest(generate_series(1, len(tk.t))) AS g(i)
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM spans sp
             |    WHERE sp.doc_id = tk.doc_id
             |      AND g.i - 1 >= sp.s AND g.i - 1 < sp.e)),
             |agg AS (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_after,
             |    string_agg(tok, ' ' ORDER BY p) AS clean
             |  FROM kept GROUP BY 1)
             |SELECT tk.doc_id, md5(coalesce(clean, '')) AS clean_md5,
             |  CAST(len(tk.t) AS BIGINT) AS n_tokens_before,
             |  CAST(coalesce(n_after, 0) AS BIGINT) AS n_tokens_after,
             |  CAST(len(tk.t) AS BIGINT) - CAST(coalesce(n_after, 0) AS BIGINT)
             |    AS n_cut
             |FROM toks tk LEFT JOIN agg USING (doc_id)
             |ORDER BY tk.doc_id""".stripMargin)
    ),

    // PMI-lift collocation mining: adjacent pairs co-occurring above
    // their marginal-frequency prediction; exact-integer lift (×1e4),
    // PMI-equivalent ranking without the libm log.
    "q_text_collocations" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.collocations(Tables.documents(s, d),
            minCount = 5L)
          .orderBy(desc("lift_e4"), asc("a"), asc("b")).limit(50),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |big AS (
             |  SELECT t[i] AS a, t[i + 1] AS b, CAST(count(*) AS BIGINT) AS n_ab
             |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
             |  WHERE len(t) >= 2 GROUP BY 1, 2),
             |la AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM big GROUP BY 1),
             |rb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM big GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS t_bigrams FROM big)
             |SELECT big.a, big.b, n_ab, n_a, n_b,
             |  CAST((10000::HUGEINT * n_ab * t_bigrams) // (n_a * n_b)
             |    AS BIGINT) AS lift_e4
             |FROM big JOIN la USING (a) JOIN rb USING (b) CROSS JOIN tot
             |WHERE n_ab >= 5
             |ORDER BY lift_e4 DESC, a, b LIMIT 50""".stripMargin)
    ),

    // Weighted systematic sampling: ~10 docs per source stratum, selection
    // probability proportional to n_chars, fully deterministic (a doc is
    // picked iff its cumulative-weight span crosses a stride boundary —
    // exact BIGINT arithmetic both engines replay identically).
    "q_text_sample_weighted" -> QueryDef(
      (s, d) =>
        graft.ops.TextAnalysis.weightedSample(Tables.documents(s, d), n = 10)
          .orderBy("doc_id"),
      Some("""WITH cum AS (
             |  SELECT doc_id, source, n_chars,
             |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum_w,
             |    sum(n_chars) OVER (PARTITION BY source) AS total_w
             |  FROM documents)
             |SELECT doc_id, source, n_chars AS weight,
             |  CAST(cum_w AS BIGINT) AS cum_weight
             |FROM cum
             |WHERE (cum_w * 10) // total_w > ((cum_w - n_chars) * 10) // total_w
             |ORDER BY doc_id""".stripMargin)
    ),

    // Main-content extraction from raw HTML (the crawl→curation stage):
    // every doc is wrapped in a deterministic page (head/style/nav/
    // script/footer boilerplate + entity-escaped body), extracted back,
    // and the oracle independently wraps AND extracts — the roundtrip
    // boolean proves escape∘extract is the identity on corpus text in
    // BOTH engines, not just that two runs of one engine agree.
    "q_text_html_extract" -> QueryDef(
      (s, d) => {
        val ws = "[ \\t\\n\\r\\f]+"
        val wrapped = Tables.documents(s, d)
          .select(col("doc_id"), col("text"),
            graft.ops.TextClean.htmlWrap(col("doc_id"), col("text"))
              .as("html"))
        wrapped
          .withColumn("extracted",
            graft.ops.TextClean.htmlExtract(col("html")))
          .select(col("doc_id"),
            length(col("html")).as("html_chars"),
            length(col("extracted")).as("extracted_chars"),
            md5(col("extracted")).as("extract_md5"),
            (col("extracted") === concat(lit("doc "), col("doc_id"),
              lit(" "), trim(regexp_replace(col("text"), ws, " "))))
              .as("roundtrip"))
          .orderBy("doc_id")
      },
      Some("""WITH wrapped AS (
             |  SELECT doc_id, text,
             |    '<html><head><title>doc ' || doc_id ||
             |    '</title><style>p{margin:0}</style></head><body>' ||
             |    '<nav><a href="/">home</a> | <a href="/s' || (doc_id % 7) ||
             |    '">section</a></nav><h1>doc ' || doc_id ||
             |    '</h1><p>' ||
             |    replace(replace(replace(text,
             |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
             |    '</p><script>var t=' || doc_id ||
             |    ';</script><footer>&copy; corpus ' || (doc_id % 7) ||
             |    '</footer></body></html>' AS html
             |  FROM documents),
             |ext AS (
             |  SELECT doc_id, text, html,
             |    trim(regexp_replace(
             |      replace(replace(replace(replace(replace(
             |        regexp_replace(
             |          regexp_replace(html,
             |            '(?is)<script\b.*?</script>|<style\b.*?</style>|<head\b.*?</head>|<nav\b.*?</nav>|<footer\b.*?</footer>',
             |            ' ', 'g'),
             |          '(?s)<[^>]*>', ' ', 'g'),
             |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             |        '&#39;', ''''), '&amp;', '&'),
             |      '[ \t\n\r\f]+', ' ', 'g')) AS extracted
             |  FROM wrapped)
             |SELECT doc_id,
             |  CAST(length(html) AS INTEGER) AS html_chars,
             |  CAST(length(extracted) AS INTEGER) AS extracted_chars,
             |  md5(extracted) AS extract_md5,
             |  (extracted = 'doc ' || doc_id || ' ' ||
             |    trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')))
             |    AS roundtrip
             |FROM ext ORDER BY doc_id""".stripMargin)
    ),

    // Leakage-safe train/val/test split: fold hash on the near-dup
    // CLUSTER id, so no verified near-duplicate pair straddles folds.
    // The output carries its own proof by contrast: cross_pairs_safe is
    // 0 by construction while cross_pairs_naive (the per-doc hash split
    // of q_text_split applied to the same pair set) is not — both
    // replayed end-to-end by DuckDB through the recursive-closure
    // cluster labels.
    "q_text_split_leakage_safe" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // md5 family (the oracle's) — the r10 family de-coupling, see
        // q_dedup_clusters
        val pairs = graft.ops.Dedup.minhashLsh(docs)
          .select("i", "j").localCheckpoint(true)
        // ONE assignment frame carrying BOTH policies (safe = cluster-id
        // hash, naive = doc-id hash), checkpointed eagerly: the count agg
        // and the pair audit's two probe sides all reuse the materialized
        // 3-column frame instead of re-running the docs←labels join per
        // consumer, and the safe/naive audits fold into a single pass
        // over the pair table (one join pair, two conditional sums) —
        // the r5 shape joined pairs×assignment twice per policy.
        val naiveBucket = pmod(
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long"), lit(10L))
        val assign = graft.ops.Dedup.clusterSafeSplit(docs, pairs)
          .select(col("doc_id"), col("split").as("_safe"),
            when(naiveBucket < 8, "train").when(naiveBucket === 8, "val")
              .otherwise("test").as("_naive"))
          .localCheckpoint(true)
        val counts = assign.agg(
          sum(when(col("_safe") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("_safe") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("_safe") === "test", 1L).otherwise(0L)).as("n_test"))
        val crosses = pairs
          .join(assign.select(col("doc_id").as("i"),
            col("_safe").as("_si"), col("_naive").as("_ni")), "i")
          .join(assign.select(col("doc_id").as("j"),
            col("_safe").as("_sj"), col("_naive").as("_nj")), "j")
          .agg(
            coalesce(sum(when(col("_si") =!= col("_sj"), 1L)
              .otherwise(0L)), lit(0L)).as("cross_pairs_safe"),
            coalesce(sum(when(col("_ni") =!= col("_nj"), 1L)
              .otherwise(0L)), lit(0L)).as("cross_pairs_naive"))
        counts.crossJoin(crosses)
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
              |assigned AS (
              |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS split_key
              |  FROM documents d LEFT JOIN labels l USING (doc_id)),
              |sp AS (
              |  SELECT doc_id,
              |    CASE WHEN ${hex4Sql("md5(split_key::VARCHAR)")} % 10 < 8
              |           THEN 'train'
              |         WHEN ${hex4Sql("md5(split_key::VARCHAR)")} % 10 = 8
              |           THEN 'val'
              |         ELSE 'test' END AS s
              |  FROM assigned),
              |nv AS (
              |  SELECT doc_id,
              |    CASE WHEN ${hex4Sql("md5(doc_id::VARCHAR)")} % 10 < 8
              |           THEN 'train'
              |         WHEN ${hex4Sql("md5(doc_id::VARCHAR)")} % 10 = 8
              |           THEN 'val'
              |         ELSE 'test' END AS s
              |  FROM documents)
              |SELECT
              |  (SELECT count(*) FROM sp WHERE s = 'train') AS n_train,
              |  (SELECT count(*) FROM sp WHERE s = 'val') AS n_val,
              |  (SELECT count(*) FROM sp WHERE s = 'test') AS n_test,
              |  (SELECT count(*) FROM pairs p
              |     JOIN sp a ON a.doc_id = p.i JOIN sp b ON b.doc_id = p.j
              |     WHERE a.s <> b.s) AS cross_pairs_safe,
              |  (SELECT count(*) FROM pairs p
              |     JOIN nv a ON a.doc_id = p.i JOIN nv b ON b.doc_id = p.j
              |     WHERE a.s <> b.s) AS cross_pairs_naive""".stripMargin)
    ),

    // WARC crawl-archive roundtrip: every doc becomes one response
    // record in a per-source capture stream (synthesize), the stream is
    // parsed back by sentinel split + header extraction (parse), and
    // each record's declared Content-Length is verified in BYTES against
    // the recovered payload. The oracle constructs every record's
    // expected fixpoint independently — uri, date, byte length, payload
    // md5 — so a parser that drops, reorders, truncates (e.g. on a
    // payload-embedded CRLF blank line), or mis-measures any record
    // hash-mismatches. Parse itself is projection + one explode: a
    // directory of WARC files scales embarrassingly parallel.
    "q_text_warc_roundtrip" -> QueryDef(
      (s, d) => {
        val streams = graft.ops.TextClean.warcSynthesize(Tables.documents(s, d))
        graft.ops.TextClean.warcParse(streams)
          .select(col("source"), col("rec_idx"), col("uri"), col("warc_date"),
            col("declared_len"), col("length_ok"),
            md5(col("payload")).as("payload_md5"))
          .orderBy("source", "rec_idx")
      },
      Some("""WITH page AS (
             |  SELECT doc_id, source,
             |    '<html><head><title>doc ' || doc_id ||
             |    '</title><style>p{margin:0}</style></head><body>' ||
             |    '<nav><a href="/">home</a> | <a href="/s' || (doc_id % 7) ||
             |    '">section</a></nav><h1>doc ' || doc_id ||
             |    '</h1><p>' ||
             |    replace(replace(replace(text,
             |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
             |    '</p><script>var t=' || doc_id ||
             |    ';</script><footer>&copy; corpus ' || (doc_id % 7) ||
             |    '</footer></body></html>' AS p
             |  FROM documents)
             |SELECT source,
             |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
             |    - 1 AS INTEGER) AS rec_idx,
             |  'http://corpus.local/' || doc_id AS uri,
             |  '2026-01-01T00:00:00Z' AS warc_date,
             |  CAST(strlen(p) AS BIGINT) AS declared_len,
             |  TRUE AS length_ok,
             |  md5(p) AS payload_md5
             |FROM page ORDER BY source, rec_idx""".stripMargin)
    ),

    // DSIR importance resampling (target = English docs): hashed
    // unigram+bigram likelihood-ratio scores in integer basis points,
    // top-50 selected. The lr table is the ONLY float step and it is
    // quantized per-bucket before any sum, so both engines reduce pure
    // BIGINTs — partition order can't move the result. Enrichment is
    // visible in the output itself: the selected set's lang column.
    "q_text_dsir_select" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.ops.DataSelect.dsirWeights(docs, col("lang") === "en")
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select(col("doc_id"), col("lang"), col("score_bp"), col("n_feats"))
          .orderBy(desc("score_bp"), col("doc_id"))
          .limit(50)
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, (lang = 'en') AS tgt,
              |    list_filter(string_split(text, ' '), x -> x <> '') AS s
              |  FROM documents),
              |grams AS (
              |  SELECT doc_id, tgt, unnest(s) AS gram FROM toks
              |    WHERE len(s) >= 1
              |  UNION ALL
              |  SELECT doc_id, tgt, s[i] || ' ' || s[i+1] AS gram
              |  FROM toks, unnest(generate_series(1, len(s) - 1)) AS g(i)
              |  WHERE len(s) >= 2),
              |db AS (
              |  SELECT doc_id, tgt, ${dsirBucketSql("gram")} AS b,
              |    count(*) AS c
              |  FROM grams GROUP BY 1, 2, 3),
              |bc AS (
              |  SELECT b, CAST(sum(c) AS BIGINT) AS cr,
              |    CAST(sum(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS ct
              |  FROM db GROUP BY 1),
              |tot AS (
              |  SELECT CAST(sum(cr) AS BIGINT) AS nr,
              |    CAST(sum(ct) AS BIGINT) AS nt FROM bc),
              |lr AS (
              |  SELECT b, CAST(floor(ln(
              |      ((ct + 1) * (nr + 256))::DOUBLE /
              |      ((cr + 1) * (nt + 256))::DOUBLE) * 10000) AS BIGINT)
              |    AS lr_bp
              |  FROM bc, tot),
              |sc AS (
              |  SELECT doc_id, CAST(sum(c * lr_bp) AS BIGINT) AS score_bp,
              |    CAST(sum(c) AS BIGINT) AS n_feats
              |  FROM db JOIN lr USING (b) GROUP BY 1)
              |SELECT d.doc_id, d.lang, score_bp, n_feats
              |FROM sc JOIN documents d USING (doc_id)
              |ORDER BY score_bp DESC, doc_id LIMIT 50""".stripMargin)
    ),

    // Model-based quality filtering, trained in-engine: distill the hard
    // Gopher-rule cascade into a soft linear score via 8 full-batch
    // logistic-regression iterations, each ONE distributed aggregation
    // over quantized per-doc gradient contributions (order-free BIGINT).
    // The output is the training trace — micro-quantized weights plus
    // training accuracy per step — replayed end-to-end by DuckDB through
    // the identical update expressions. n_correct rising over steps is
    // the in-band proof the classifier learns, not just runs.
    "q_text_lr_quality" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val g = graft.ops.TextClean.gopherRules(Tables.documents(s, d))
          .filter(col("n_words") >= 1L)
        graft.ops.DataSelect.logisticTrace(
          g, col("pass_gopher"),
          Seq(
            least(col("n_words").cast("double") / lit(100.0), lit(1.0)),
            col("n_stopwords").cast("double") / col("n_words"),
            least((col("chars_no_ws").cast("double") / col("n_words"))
              / lit(10.0), lit(1.0))))
          .map { st =>
            def q(j: Int) = math.floor(st.weights(j) * 1000000.0).toLong
            (st.step, q(0), q(1), q(2), q(3), st.nCorrect)
          }
          .toDF("step", "w0_q", "w1_q", "w2_q", "w3_q", "n_correct")
          .orderBy("step")
      },
      Some(lrTrainSql(8))
    ),

    // Bigram-LM perplexity filtering (the CCNet/KenLM slot): docs with
    // doc_id%9==0 are rewritten as "w zzqx w zzqx …" (their own first
    // token alternating with an out-of-vocabulary token — the bigram
    // shape a trained LM is maximally surprised by: common prefix,
    // never-seen continuation; plain token reversal does NOT raise
    // perplexity on this near-uniform corpus, measured). The LM trains
    // on the CLEAN docs only and scores every doc. Per-bigram log-probs
    // quantize to integer bp at the joined row, so both engines reduce
    // pure BIGINTs. The corrupted flag rides along: clean docs score
    // ≤3.7 nats/tok, corrupted ≥5.0 — the separation is in the output.
    // Interpolated Kneser-Ney bigram NLL (the KenLM/CCNet smoothing)
    // trained on sources <10, scored over everything — probabilities in
    // exact micro-units over c(w1)·T and the NLL through the fixed-point
    // log, so both engines replay the VALUES, not just the ranking.
    "q_text_lm_kneser_ney" -> QueryDef(
      (s, d) =>
        graft.ops.DataSelect.lmScoreKN(
          Tables.documents(s, d),
          regexp_extract(col("source"), "([0-9]+)", 1).cast("long") < 10)
          .orderBy("doc_id"),
      Some {
        val lfix1e6 = graft.ops.TextAnalysis.pseudoLog2Long(1000000L)
        s"""WITH RECURSIVE docs0 AS (
           |  SELECT doc_id, text,
           |    CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) < 10 AS tr
           |  FROM documents),
           |toks AS (
           |  SELECT doc_id, tr,
           |    list_filter(string_split(text, ' '), x -> x <> '') AS t
           |  FROM docs0),
           |dbg AS MATERIALIZED (
           |  SELECT doc_id, tr, w1, w2, CAST(count(*) AS BIGINT) AS c FROM (
           |    SELECT doc_id, tr, t[i] AS w1, t[i + 1] AS w2
           |    FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
           |    WHERE len(t) >= 2)
           |  GROUP BY 1, 2, 3, 4),
           |train AS MATERIALIZED (
           |  SELECT w1, w2, CAST(sum(c) AS BIGINT) AS cb
           |  FROM dbg WHERE tr GROUP BY 1, 2),
           |cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu,
           |         CAST(count(*) AS BIGINT) AS n1w1 FROM train GROUP BY 1),
           |nc AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncw2
           |       FROM train GROUP BY 1),
           |tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM train),
           |scored AS MATERIALIZED (
           |  SELECT dbg.doc_id, dbg.c,
           |    greatest(
           |      CASE WHEN cu.cu IS NULL OR cu.cu <= 0
           |           THEN coalesce(nc.ncw2, 0) * 1000000 // tt.tt
           |           ELSE (greatest(coalesce(train.cb, 0) - 1, 0) * tt.tt
           |                  + 1 * cu.n1w1 * coalesce(nc.ncw2, 0)) * 1000000
           |                 // (cu.cu * tt.tt) END,
           |      1) AS p
           |  FROM dbg
           |  LEFT JOIN train USING (w1, w2)
           |  LEFT JOIN cu USING (w1)
           |  LEFT JOIN nc USING (w2), tt),
           |vals AS (SELECT DISTINCT p AS x FROM scored),
           |${pseudoLog2Sql("k", "vals")}
           |SELECT s.doc_id,
           |  CAST(sum(s.c) AS BIGINT) AS n_bigrams,
           |  CAST(sum(s.c * ($lfix1e6 - lg.l)) AS BIGINT) AS nll_fix,
           |  (CAST(sum(s.c * ($lfix1e6 - lg.l)) AS BIGINT)
           |    // CAST(sum(s.c) AS BIGINT)) * 1000 // 65536
           |    AS nll_per_tok_millibits
           |FROM scored s JOIN lgk lg ON s.p = lg.x
           |GROUP BY 1 ORDER BY s.doc_id""".stripMargin
      }
    ),

    "q_text_lm_perplexity" -> QueryDef(
      (s, d) => {
        import graft.ops.TextAnalysis
        val aug = Tables.documents(s, d)
          .withColumn("corrupted", pmod(col("doc_id"), lit(9)) === 0)
          .withColumn("text",
            when(col("corrupted"),
              trim(repeat(concat(
                element_at(TextAnalysis.tokens(col("text")), 1),
                lit(" zzqx ")), 25)))
              .otherwise(col("text")))
        graft.ops.DataSelect.lmScore(aug, !col("corrupted"))
          .join(aug.select("doc_id", "corrupted"), "doc_id")
          .select("doc_id", "corrupted", "n_bigrams", "nll_bp",
            "nll_per_tok_bp")
          .orderBy("doc_id")
      },
      Some("""WITH tk0 AS (
             |  SELECT doc_id, (doc_id % 9 = 0) AS corrupted,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS s0
             |  FROM documents),
             |tk AS (
             |  SELECT doc_id, corrupted,
             |    CASE WHEN corrupted THEN list_filter(string_split(
             |        trim(repeat(s0[1] || ' zzqx ', 25)), ' '), x -> x <> '')
             |      ELSE s0 END AS s
             |  FROM tk0),
             |vt AS (
             |  SELECT count(DISTINCT w)::BIGINT AS v
             |  FROM (SELECT unnest(s) AS w FROM tk WHERE NOT corrupted)),
             |bg AS (
             |  SELECT doc_id, corrupted, s[i] AS w1,
             |    s[i] || ' ' || s[i+1] AS gram
             |  FROM tk, unnest(generate_series(1, len(s) - 1)) AS g(i)
             |  WHERE len(s) >= 2),
             |dbg AS (
             |  SELECT doc_id, corrupted, w1, gram, count(*)::BIGINT AS c
             |  FROM bg GROUP BY 1, 2, 3, 4),
             |trainb AS (
             |  SELECT gram, CAST(sum(c) AS BIGINT) AS cb FROM dbg
             |  WHERE NOT corrupted GROUP BY 1),
             |trainu AS (
             |  SELECT w1, CAST(sum(c) AS BIGINT) AS cu FROM dbg
             |  WHERE NOT corrupted GROUP BY 1),
             |lp AS (
             |  SELECT doc_id, corrupted, c,
             |    CAST(floor(ln(
             |      (coalesce(cb, 0) + 1)::DOUBLE /
             |      (coalesce(cu, 0) + v)::DOUBLE) * 10000) AS BIGINT) AS lp_bp
             |  FROM dbg
             |  LEFT JOIN trainb USING (gram)
             |  LEFT JOIN trainu USING (w1)
             |  CROSS JOIN vt),
             |sc AS (
             |  SELECT doc_id, corrupted,
             |    CAST(sum(c) AS BIGINT) AS n_bigrams,
             |    CAST(-sum(c * lp_bp) AS BIGINT) AS nll_bp
             |  FROM lp GROUP BY 1, 2)
             |SELECT doc_id, corrupted, n_bigrams, nll_bp,
             |  nll_bp // n_bigrams AS nll_per_tok_bp
             |FROM sc ORDER BY doc_id""".stripMargin)
    ),

    // Chat/SFT conversation intake over a deterministically synthesized
    // JSON fixture: tokens become 8-token turns with alternating roles;
    // doc_id-keyed injections produce the real-world defects the
    // validator must flag — an empty second turn (%21), broken
    // alternation / all-user roles (%27), a prepended system turn (%35,
    // legal). Spark round-trips through to_json/from_json (the actual
    // interchange path); DuckDB rebuilds the (role, content) sequence
    // directly — agreement proves the JSON round-trip is faithful AND
    // the stats are right.
    "q_text_chat_stats" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("_chunks", transform(
            sequence(lit(0), floor((size(col("toks")) - 1) / 8).cast("int")),
            i => struct(
              when(pmod(col("doc_id"), lit(27)) === 0, lit("user"))
                .when(pmod(i, lit(2)) === 0, lit("user"))
                .otherwise(lit("assistant")).as("role"),
              when(pmod(col("doc_id"), lit(21)) === 0 && i === 1, lit(""))
                .otherwise(array_join(slice(col("toks"), i * 8 + 1, lit(8)),
                  " ")).as("content"))))
          .withColumn("turns",
            when(pmod(col("doc_id"), lit(35)) === 0,
              concat(array(struct(lit("system").as("role"),
                lit("you are a helpful assistant").as("content"))),
                col("_chunks")))
              .otherwise(col("_chunks")))
          .withColumn("conv_json", to_json(col("turns")))
        graft.ops.ChatData.conversationStats(docs).orderBy("doc_id")
      },
      Some("""WITH toksrc AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |turns0 AS (
             |  SELECT doc_id, i AS turn_idx,
             |    CASE WHEN doc_id % 27 = 0 THEN 'user'
             |         WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
             |    CASE WHEN doc_id % 21 = 0 AND i = 1 THEN ''
             |         ELSE array_to_string(toks[(8*i+1):(8*i+8)], ' ') END
             |      AS content
             |  FROM toksrc, unnest(generate_series(0, (len(toks)-1)//8)) AS g(i)),
             |turns AS (
             |  SELECT * FROM turns0
             |  UNION ALL
             |  SELECT doc_id, -1 AS turn_idx, 'system' AS role,
             |    'you are a helpful assistant' AS content
             |  FROM toksrc WHERE doc_id % 35 = 0),
             |ordered AS (
             |  SELECT doc_id, role, content,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY turn_idx)
             |      AS rn
             |  FROM turns),
             |nonsys AS (
             |  SELECT doc_id, role, rn,
             |    lag(role) OVER (PARTITION BY doc_id ORDER BY rn) AS prev
             |  FROM ordered WHERE role <> 'system'),
             |stats AS (
             |  SELECT doc_id,
             |    CAST(count(*) AS BIGINT) AS n_turns,
             |    CAST(count(*) FILTER (WHERE role = 'user') AS BIGINT)
             |      AS n_user,
             |    CAST(count(*) FILTER (WHERE role = 'assistant') AS BIGINT)
             |      AS n_assistant,
             |    CAST(count(*) FILTER (WHERE role = 'system') AS BIGINT)
             |      AS n_system,
             |    CAST(count(*) FILTER (WHERE content = '') AS BIGINT)
             |      AS n_empty_turns,
             |    CAST(sum(len(list_filter(string_split(content, ' '),
             |      x -> x <> ''))) AS BIGINT) AS n_tokens,
             |    md5(string_agg('<|' || role || '|>' || content,
             |      chr(10) ORDER BY rn)) AS render_md5
             |  FROM ordered GROUP BY doc_id),
             |alt AS (
             |  SELECT doc_id,
             |    NOT coalesce(bool_or(role = prev), false) AS alternates,
             |    arg_min(role, rn) = 'user' AS starts_user
             |  FROM nonsys GROUP BY doc_id)
             |SELECT s.doc_id, n_turns, n_user, n_assistant, n_system,
             |  n_empty_turns, n_tokens, starts_user, alternates,
             |  (starts_user AND alternates AND n_empty_turns = 0
             |    AND n_turns >= 2) AS pass_chat,
             |  render_md5
             |FROM stats s JOIN alt USING (doc_id) ORDER BY s.doc_id""".stripMargin)
    ),

    // Tokenizer fertility: per-language chars/BPE-token and BPE-tokens/
    // word over the 8-merge trained tokenizer — DuckDB retrains the merge
    // chain and replays both integer-bp ratios.
    "q_text_fertility" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = graft.ops.TextAnalysis.bpeTrain(docs, nMerges = 8)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.TextAnalysis.tokenizerFertility(docs, m).orderBy("lang")
      },
      Some(s"""${bpeTrainCtes(8)},
              |enc AS (
              |  SELECT replace(w, ' ', '') AS tok,
              |    CAST(len(string_split(w, ' ')) AS BIGINT) AS np FROM w8),
              |toksd AS (
              |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
              |    x -> x <> '')) AS tok FROM documents),
              |perdoc AS (
              |  SELECT doc_id, count(*) AS n_words,
              |    CAST(sum(np) AS BIGINT) AS n_bpe_tokens,
              |    CAST(sum(len(tok)) AS BIGINT) AS n_token_chars
              |  FROM toksd JOIN enc USING (tok)
              |  GROUP BY doc_id)
              |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(p.n_words) AS BIGINT) AS n_words,
              |  CAST(sum(p.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
              |  CAST(sum(p.n_token_chars) AS BIGINT) AS n_token_chars,
              |  CAST(sum(p.n_token_chars) AS BIGINT) * 10000
              |    // CAST(sum(p.n_bpe_tokens) AS BIGINT) AS chars_per_token_bp,
              |  CAST(sum(p.n_bpe_tokens) AS BIGINT) * 10000
              |    // CAST(sum(p.n_words) AS BIGINT) AS bpe_per_word_bp
              |FROM perdoc p JOIN documents d USING (doc_id)
              |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
    ),

    // Domain-blocklist filtering: hosts synthesized from source (ads./www.
    // subdomain × .com/.net tld by doc_id parity) against a 4-rule
    // blocklist covering both bare-domain and subdomain-rule matches;
    // suffix-explode + equi-join, most-specific rule wins. DuckDB replays
    // host synthesis, the suffix chain, and the argmax.
    "q_text_url_blocklist" -> QueryDef(
      (s, d) => {
        import s.implicits._
        import graft.ops.TextClean
        val urls = Tables.documents(s, d)
          .select(col("doc_id"), TextClean.urlHost(concat(
            lit("https://"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit("ads."))
              .otherwise(lit("www.")),
            col("source"),
            when(pmod(col("doc_id"), lit(2)) === 0, lit(".com"))
              .otherwise(lit(".net")),
            lit("/page/"), col("doc_id"))).as("host"))
        val bl = Seq("src1.com", "src2.net", "ads.src3.com", "src4.com")
          .toDF("rule")
        TextClean.blocklistFilter(urls, bl)
          .select("doc_id", "host", "blocked", "matched_rule", "n_matched")
          .orderBy("doc_id")
      },
      Some("""WITH urls AS (
             |  SELECT doc_id,
             |    lower((CASE WHEN doc_id % 3 = 0 THEN 'ads.' ELSE 'www.' END)
             |      || source
             |      || (CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.net' END))
             |      AS host
             |  FROM documents),
             |bl AS (SELECT * FROM (VALUES ('src1.com'), ('src2.net'),
             |  ('ads.src3.com'), ('src4.com')) AS t(rule)),
             |sfx AS (
             |  SELECT doc_id, array_to_string(labels[i:], '.') AS suffix
             |  FROM (SELECT doc_id, string_split(host, '.') AS labels
             |        FROM urls),
             |    unnest(generate_series(1, len(labels))) AS g(i)),
             |m AS (
             |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_matched,
             |    arg_max(b.rule, len(b.rule)) AS matched_rule
             |  FROM sfx s JOIN bl b ON s.suffix = b.rule
             |  GROUP BY s.doc_id)
             |SELECT u.doc_id, u.host, m.doc_id IS NOT NULL AS blocked,
             |  coalesce(m.matched_rule, '') AS matched_rule,
             |  coalesce(m.n_matched, 0) AS n_matched
             |FROM urls u LEFT JOIN m ON u.doc_id = m.doc_id
             |ORDER BY u.doc_id""".stripMargin)
    ),

    // Preference pairs: docs bucketed 4-per-prompt are "candidate
    // responses" scored by n_chars; one struct-argmax groupBy yields the
    // (chosen, rejected) DPO pair per prompt. Tie-break (equal score →
    // chosen takes the larger id, rejected the smaller) is replayed in
    // DuckDB as two row_number windows.
    "q_text_pref_pairs" -> QueryDef(
      (s, d) => {
        val cands = Tables.documents(s, d).select(
          floor(col("doc_id") / 4).cast("long").as("prompt_id"),
          col("doc_id").as("cand_id"),
          col("n_chars").as("score"))
        graft.ops.ChatData.preferencePairs(cands).orderBy("prompt_id")
      },
      Some("""WITH cands AS (
             |  SELECT doc_id // 4 AS prompt_id, doc_id AS cand_id,
             |    n_chars AS score
             |  FROM documents),
             |ranked AS (
             |  SELECT prompt_id, cand_id, score,
             |    row_number() OVER (PARTITION BY prompt_id
             |      ORDER BY score DESC, cand_id DESC) AS rc,
             |    row_number() OVER (PARTITION BY prompt_id
             |      ORDER BY score ASC, cand_id ASC) AS rr,
             |    count(*) OVER (PARTITION BY prompt_id) AS nc
             |  FROM cands),
             |c AS (SELECT prompt_id, cand_id AS chosen_id,
             |        score AS chosen_score, nc FROM ranked WHERE rc = 1),
             |r AS (SELECT prompt_id, cand_id AS rejected_id,
             |        score AS rejected_score FROM ranked WHERE rr = 1)
             |SELECT c.prompt_id, chosen_id, rejected_id, chosen_score,
             |  rejected_score, chosen_score - rejected_score AS margin,
             |  CAST(nc AS BIGINT) AS n_candidates
             |FROM c JOIN r USING (prompt_id)
             |WHERE nc >= 2 AND chosen_score - rejected_score >= 1
             |ORDER BY c.prompt_id""".stripMargin)
    ),

    // Fleiss' kappa over a synthesized 5-rater annotation batch: the
    // "true" label is a length bucket, each rater flips it with md5-keyed
    // probability 3/16 — both engines rebuild the ratings AND the exact
    // integer kappa independently (P̄/P̄e quantized to 1e-8, κ to bp).
    "q_text_rater_kappa" -> QueryDef(
      (s, d) => {
        val ratings = Tables.documents(s, d)
          .select(col("doc_id"), expr("pmod(n_chars div 50, 4)").as("_true"))
          .withColumn("rater", explode(sequence(lit(0), lit(4))))
          .withColumn("_v",
            conv(substring(md5(concat(col("doc_id").cast("string"),
              lit(":"), col("rater").cast("string"))), 1, 1), 16, 10)
              .cast("long"))
          .withColumn("label",
            when(col("_v") < 3,
              pmod(col("_true") + 1 + pmod(col("_v"), lit(3)), lit(4)))
              .otherwise(col("_true")))
        graft.ops.ChatData.fleissKappa(ratings, "doc_id", "rater", "label")
      },
      Some(s"""WITH ratings AS (
             |  SELECT doc_id, r AS rater,
             |    CASE WHEN v < 3
             |         THEN ((n_chars // 50) % 4 + 1 + v % 3) % 4
             |         ELSE (n_chars // 50) % 4 END AS label
             |  FROM (
             |    SELECT doc_id, n_chars, r,
             |      ${hexDigitSql("md5(doc_id::VARCHAR || ':' || r::VARCHAR)", 1)} AS v
             |    FROM documents, range(0, 5) t(r))),
             |cell AS (
             |  SELECT doc_id, label, CAST(count(*) AS BIGINT) AS c
             |  FROM ratings GROUP BY 1, 2),
             |peritem AS (
             |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             |    CAST(sum(c*c) AS BIGINT) AS ss
             |  FROM cell GROUP BY 1),
             |percat AS (
             |  SELECT label, CAST(sum(c) AS BIGINT) AS cj FROM cell GROUP BY 1),
             |top AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_items,
             |    CAST(min(n) AS BIGINT) AS n_ratings_min,
             |    CAST(max(n) AS BIGINT) AS n_ratings_max,
             |    CAST(sum(ss) AS BIGINT) AS a,
             |    CAST(sum(n) AS BIGINT) AS nn
             |  FROM peritem),
             |cats AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_categories,
             |    CAST(sum(cj*cj) AS BIGINT) AS csq FROM percat),
             |p AS (
             |  SELECT n_items, n_ratings_min, n_ratings_max, n_categories,
             |    CASE WHEN n_ratings_min = n_ratings_max
             |      THEN (a - nn) * 100000000 // (nn * (n_ratings_max - 1))
             |    END AS pbar_e8,
             |    csq * 100000000 // (nn * nn) AS pe_e8
             |  FROM top, cats)
             |SELECT n_items, n_ratings_min, n_ratings_max, n_categories,
             |  pbar_e8, pe_e8,
             |  (pbar_e8 - pe_e8) * 10000 // (100000000 - pe_e8) AS kappa_bp
             |FROM p""".stripMargin)
    ),

    // Dawid-Skene consensus over a rater panel with per-rater noise
    // rates (rater r errs when hex draw < 2+r: 12.5%..37.5%): both
    // engines synthesize the grid, take the majority init, and unroll
    // the same 2 hard-EM rounds (smoothed confusion counts → fixed-point
    // log-posterior re-label), so every label AND score_fp matches.
    "q_text_dawid_skene" -> QueryDef(
      (s, d) => {
        val ratings = Tables.documents(s, d)
          .select(col("doc_id"), expr("pmod(n_chars div 50, 4)").as("_true"))
          .withColumn("rater", explode(sequence(lit(0), lit(4))))
          .withColumn("_v",
            conv(substring(md5(concat(col("doc_id").cast("string"),
              lit(":"), col("rater").cast("string"))), 1, 1), 16, 10)
              .cast("long"))
          .withColumn("label",
            when(col("_v") < col("rater") + 2,
              pmod(col("_true") + 1 + pmod(col("_v"), lit(3)), lit(4)))
              .otherwise(col("_true")))
        graft.ops.ChatData.dawidSkene(ratings, "doc_id", "rater", "label",
            nClasses = 4, rounds = 2)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ratings AS MATERIALIZED (
             |  SELECT doc_id AS it, r,
             |    CASE WHEN v < 2 + r
             |         THEN ((n_chars // 50) % 4 + 1 + v % 3) % 4
             |         ELSE (n_chars // 50) % 4 END AS l
             |  FROM (
             |    SELECT doc_id, n_chars, r,
             |      ${hexDigitSql("md5(doc_id::VARCHAR || ':' || r::VARCHAR)", 1)} AS v
             |    FROM documents, range(0, 5) t(r))),
             |cur0 AS MATERIALIZED (
             |  SELECT it, l AS t FROM (
             |    SELECT it, l, row_number() OVER (PARTITION BY it
             |        ORDER BY count(*) DESC, l) AS rn
             |    FROM ratings GROUP BY it, l) WHERE rn = 1),
             |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cur0),
             |${dsRoundSql(1)},
             |${dsRoundSql(2)}
             |SELECT it AS doc_id, t AS label, s AS score_fp
             |FROM scx2 WHERE rn = 1 ORDER BY doc_id""".stripMargin)
    ),

    // Bradley-Terry source-strength leaderboard from pairwise outcomes:
    // 4-doc prompt groups play all cross-source pairs, longer text wins
    // — both engines rebuild the comparison log AND unroll the same 6
    // fixed-point MM rounds, so every strength_micro matches exactly.
    "q_text_bradley_terry" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select("doc_id", "source", "n_chars")
        val wins = expr("a.n_chars > b.n_chars OR " +
          "(a.n_chars = b.n_chars AND a.doc_id > b.doc_id)")
        val games = docs.alias("a").join(docs.alias("b"),
          expr("a.doc_id div 4 = b.doc_id div 4 AND a.doc_id < b.doc_id " +
            "AND a.source <> b.source"))
          .select(
            when(wins, col("a.source")).otherwise(col("b.source"))
              .as("winner"),
            when(wins, col("b.source")).otherwise(col("a.source"))
              .as("loser"))
        graft.ops.ChatData.bradleyTerry(games).orderBy("rank")
      },
      Some(btSql(6))
    ),

    // StarCoder-rule code-quality flags over a deterministically
    // synthesized source-file fixture: tokens become 6-token code lines
    // behind a '// src:' header, and doc_id-keyed injections trip each
    // rule — a 1200-char line (%11), a 48-char hex blob (%13), an 80-char
    // base64 blob (%29), a symbol-filler line (%19), two 600-char lines
    // (%23) and an auto-generated banner (%17). Both engines build the
    // file AND evaluate the rules independently.
    "q_text_code_rules" -> QueryDef(
      (s, d) => {
        import graft.ops.TextClean
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("body", array_join(transform(
            sequence(lit(0), floor((size(col("toks")) - 1) / 6).cast("int")),
            i => array_join(slice(col("toks"), i * 6 + 1, lit(6)), " ")), "\n"))
          .withColumn("code", concat(
            when(pmod(col("doc_id"), lit(17)) === 0,
              lit("// Auto-Generated. DO NOT EDIT.\n")).otherwise(lit("")),
            lit("// src: "), col("source"), lit("\n"),
            col("body"),
            when(pmod(col("doc_id"), lit(11)) === 0,
              concat(lit("\n"), repeat(lit("x"), 1200))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(13)) === 0,
              concat(lit("\nhash = \""), repeat(lit("deadbeef"), 6),
                lit("\""))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(29)) === 0,
              concat(lit("\nblob = \""), repeat(lit("QUJDRA=="), 10),
                lit("\""))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(19)) === 0,
              concat(lit("\n"), repeat(lit("=+*; "), 30))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(23)) === 0,
              concat(lit("\n"), repeat(lit("y"), 600), lit("\n"),
                repeat(lit("y"), 600))).otherwise(lit(""))))
        TextClean.codeRules(docs, "code")
          .select("doc_id", "n_lines", "max_line_len", "n_content_chars",
            "n_alnum", "n_hex_blobs", "n_b64_blobs", "autogen",
            "pass_max_line", "pass_avg_line", "pass_alnum", "pass_blobs",
            "pass_autogen", "pass_code")
          .orderBy("doc_id")
      },
      Some("""WITH toksrc AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |body AS (
             |  SELECT t.doc_id,
             |    string_agg(array_to_string(t.toks[(6*g.i+1):(6*g.i+6)], ' '),
             |      chr(10) ORDER BY g.i) AS body
             |  FROM toksrc t, unnest(generate_series(0, (len(t.toks)-1)//6)) AS g(i)
             |  GROUP BY t.doc_id),
             |codes AS (
             |  SELECT t.doc_id,
             |    (CASE WHEN t.doc_id % 17 = 0
             |       THEN '// Auto-Generated. DO NOT EDIT.' || chr(10)
             |       ELSE '' END)
             |    || '// src: ' || t.source || chr(10) || b.body
             |    || (CASE WHEN t.doc_id % 11 = 0
             |          THEN chr(10) || repeat('x', 1200) ELSE '' END)
             |    || (CASE WHEN t.doc_id % 13 = 0
             |          THEN chr(10) || 'hash = "' || repeat('deadbeef', 6) || '"'
             |          ELSE '' END)
             |    || (CASE WHEN t.doc_id % 29 = 0
             |          THEN chr(10) || 'blob = "' || repeat('QUJDRA==', 10) || '"'
             |          ELSE '' END)
             |    || (CASE WHEN t.doc_id % 19 = 0
             |          THEN chr(10) || repeat('=+*; ', 30) ELSE '' END)
             |    || (CASE WHEN t.doc_id % 23 = 0
             |          THEN chr(10) || repeat('y', 600) || chr(10) || repeat('y', 600)
             |          ELSE '' END)
             |    AS code
             |  FROM toksrc t JOIN body b ON t.doc_id = b.doc_id),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(code, chr(10))) AS BIGINT) AS n_lines,
             |    CAST(list_max(list_transform(string_split(code, chr(10)),
             |      l -> len(l))) AS BIGINT) AS max_line_len,
             |    CAST(list_sum(list_transform(string_split(code, chr(10)),
             |      l -> len(l))) AS BIGINT) AS n_content_chars,
             |    CAST(len(regexp_extract_all(code, '[A-Za-z0-9]')) AS BIGINT)
             |      AS n_alnum,
             |    CAST(len(regexp_extract_all(code, '[0-9a-fA-F]{32,}')) AS BIGINT)
             |      AS n_hex_blobs,
             |    CAST(len(regexp_extract_all(code, '[A-Za-z0-9+/=]{64,}')) AS BIGINT)
             |      AS n_b64_blobs,
             |    regexp_matches(code, '(?i)auto-generated|do not edit|generated by')
             |      AS autogen
             |  FROM codes)
             |SELECT doc_id, n_lines, max_line_len, n_content_chars, n_alnum,
             |  n_hex_blobs, n_b64_blobs, autogen,
             |  max_line_len <= 1000 AS pass_max_line,
             |  n_content_chars <= n_lines * 100 AS pass_avg_line,
             |  n_alnum * 4 >= n_content_chars AS pass_alnum,
             |  n_hex_blobs = 0 AND n_b64_blobs = 0 AS pass_blobs,
             |  NOT autogen AS pass_autogen,
             |  (max_line_len <= 1000 AND n_content_chars <= n_lines * 100
             |    AND n_alnum * 4 >= n_content_chars
             |    AND n_hex_blobs = 0 AND n_b64_blobs = 0 AND NOT autogen)
             |    AS pass_code
             |FROM m ORDER BY doc_id""".stripMargin)
    ),

    // Order-0 character entropy as an information-density quality gate:
    // template spam and repetition-stuffed text sit far below natural
    // language's ~4 bits/char, and the fixed-point square-and-shift log2
    // (TextAnalysis.withPseudoLog2) keeps every value — not just the
    // verdict — exact BIGINT, so DuckDB replays the 16-bit mantissa
    // recursion and the entropy itself bit-for-bit. Low-entropy spam is
    // injected at doc_id % 31 (a 1.58-bit/char 'ab ' loop) and must be
    // the exact flagged set.
    "q_text_entropy" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"),
          when(pmod(col("doc_id"), lit(31)) === 0, repeat(lit("ab "), 60))
            .otherwise(col("text")).as("text"))
        graft.ops.TextAnalysis.charEntropy(docs)
          .withColumn("flag_low_entropy", col("h_millibits") < 3000)
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE docs AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 31 = 0 THEN repeat('ab ', 60)
             |         ELSE text END AS text
             |  FROM documents),
             |counts AS MATERIALIZED (
             |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM (
             |    SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
             |    FROM docs)
             |  GROUP BY 1, 2),
             |perdoc AS MATERIALIZED (
             |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
             |    count(*) AS n_distinct
             |  FROM counts GROUP BY 1),
             |vals AS (
             |  -- explicit outer DISTINCT: inside WITH RECURSIVE, DuckDB
             |  -- treats any CTE containing UNION as union-style and skips
             |  -- the cross-branch dedup a plain UNION would do
             |  SELECT DISTINCT x FROM (
             |    SELECT c AS x FROM counts
             |    UNION ALL SELECT n_chars FROM perdoc)),
             |base AS (
             |  SELECT x, CAST(length(bin(x)) - 1 AS BIGINT) AS e,
             |    (x << 20) // (1::BIGINT << (length(bin(x)) - 1)) AS m
             |  FROM vals),
             |it AS (
             |  SELECT x, e, m, 0 AS i, 0::BIGINT AS fr FROM base
             |  UNION ALL
             |  SELECT x, e,
             |    CASE WHEN (m*m) // 1048576 >= 2097152
             |         THEN ((m*m) // 1048576) // 2 ELSE (m*m) // 1048576 END,
             |    i + 1,
             |    CASE WHEN (m*m) // 1048576 >= 2097152
             |         THEN fr*2 + 1 ELSE fr*2 END
             |  FROM it WHERE i < 16),
             |ltab AS MATERIALIZED (
             |  SELECT x, e * 65536 + fr AS lfix FROM it WHERE i = 16),
             |s2 AS (
             |  SELECT c.doc_id, CAST(sum(c.c * l.lfix) AS BIGINT) AS s2
             |  FROM counts c JOIN ltab l ON c.c = l.x GROUP BY 1)
             |SELECT p.doc_id, p.n_chars, p.n_distinct,
             |  ln.lfix - (s2.s2 // p.n_chars) AS h_fix,
             |  (ln.lfix - (s2.s2 // p.n_chars)) * 1000 // 65536 AS h_millibits,
             |  ((ln.lfix - (s2.s2 // p.n_chars)) * 1000 // 65536) < 3000
             |    AS flag_low_entropy
             |FROM perdoc p
             |JOIN ltab ln ON p.n_chars = ln.x
             |JOIN s2 ON s2.doc_id = p.doc_id
             |ORDER BY p.doc_id""".stripMargin)
    ),

    // Content-defined chunking dedup accounting — the storage-dedup /
    // delta-sync primitive: boundaries fall where a trailing 16-char
    // window's md5 hits a 1-in-64 mask, so shared passages dedup at the
    // CHUNK level no matter what offset they sit at. The fixture plants
    // one boilerplate paragraph at the END of doc_id%13 docs and the
    // FRONT of doc_id%17 docs — fixed-size blocks would never line up;
    // CDC chunks of the shared passage carry identical md5s from both
    // positions, and the per-source + corpus dedup ledger proves it.
    "q_text_cdc_dedup" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
          when(pmod(col("doc_id"), lit(13)) === 0,
            concat(col("text"), lit(" " + CdcBoiler)))
            .when(pmod(col("doc_id"), lit(17)) === 0,
              concat(lit(CdcBoiler + " "), col("text")))
            .otherwise(col("text")).as("text"))
        val chunks = graft.ops.Substring.cdcChunks(docs)
          .join(docs.select("doc_id", "source"), "doc_id")
        val perKey = chunks.groupBy(col("source"), col("chunk_md5"))
          .agg(count(lit(1)).as("copies"), max(col("chunk_len")).as("clen"))
        val perSrc = perKey.groupBy("source").agg(
          sum("copies").as("total_chunks"), count(lit(1)).as("uniq_chunks"),
          sum(expr("copies * clen")).as("total_bytes"),
          sum("clen").as("uniq_bytes"))
        val glob = chunks.groupBy(col("chunk_md5"))
          .agg(count(lit(1)).as("copies"), max(col("chunk_len")).as("clen"))
          .agg(sum("copies").as("total_chunks"), count(lit(1)).as("uniq_chunks"),
            sum(expr("copies * clen")).as("total_bytes"),
            sum("clen").as("uniq_bytes"))
          .withColumn("source", lit("*"))
        perSrc.unionByName(glob)
          .withColumn("dup_bp",
            expr("(total_bytes - uniq_bytes) * 10000 div total_bytes"))
          .select("source", "total_chunks", "uniq_chunks", "total_bytes",
            "uniq_bytes", "dup_bp")
          .orderBy("source")
      },
      Some(s"""WITH docs AS (
             |  SELECT doc_id, source,
             |    CASE WHEN doc_id % 13 = 0 THEN text || ' $CdcBoiler'
             |         WHEN doc_id % 17 = 0 THEN '$CdcBoiler ' || text
             |         ELSE text END AS text
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, source, text,
             |    CASE WHEN length(text) >= 16 THEN
             |      list_filter(list_transform(range(16, length(text)::INT + 1),
             |        i -> CASE WHEN substr(md5(substr(text, i-15, 16)), 1, 1) = '0'
             |                   AND substr(md5(substr(text, i-15, 16)), 2, 1)
             |                     IN ('0','1','2','3')
             |              THEN i END), x -> x IS NOT NULL)
             |      ELSE [] END AS bpos
             |  FROM docs),
             |ch AS (
             |  SELECT doc_id, source, text,
             |    list_prepend(1::BIGINT, list_transform(bpos, b -> b + 1)) AS starts,
             |    list_append(bpos, length(text)::BIGINT) AS ends
             |  FROM pos),
             |chunks AS (
             |  SELECT doc_id, source,
             |    md5(substr(text, starts[j]::INT, (ends[j] - starts[j] + 1)::INT))
             |      AS chunk_md5,
             |    ends[j] - starts[j] + 1 AS clen
             |  FROM ch, unnest(generate_series(1, len(starts))) AS g(j)
             |  WHERE ends[j] - starts[j] + 1 > 0),
             |perkey AS (
             |  SELECT source, chunk_md5, count(*) AS copies, max(clen) AS clen
             |  FROM chunks GROUP BY 1, 2),
             |persrc AS (
             |  SELECT source, CAST(sum(copies) AS BIGINT) AS total_chunks,
             |    count(*) AS uniq_chunks,
             |    CAST(sum(copies * clen) AS BIGINT) AS total_bytes,
             |    CAST(sum(clen) AS BIGINT) AS uniq_bytes
             |  FROM perkey GROUP BY 1),
             |gkey AS (
             |  SELECT chunk_md5, count(*) AS copies, max(clen) AS clen
             |  FROM chunks GROUP BY 1),
             |gtot AS (
             |  SELECT '*' AS source, CAST(sum(copies) AS BIGINT) AS total_chunks,
             |    count(*) AS uniq_chunks,
             |    CAST(sum(copies * clen) AS BIGINT) AS total_bytes,
             |    CAST(sum(clen) AS BIGINT) AS uniq_bytes
             |  FROM gkey),
             |u AS (SELECT * FROM persrc UNION ALL SELECT * FROM gtot)
             |SELECT source, total_chunks, uniq_chunks, total_bytes, uniq_bytes,
             |  (total_bytes - uniq_bytes) * 10000 // total_bytes AS dup_bp
             |FROM u ORDER BY source""".stripMargin)
    ),

    // Unicode NFC audit through the graft_nfc codegen Expression: docs
    // get deterministic DENORMALIZED injections (combining-acute
    // sequences every 9th doc, an fi-ligature every 11th); the JVM
    // Normalizer (Spark side) and DuckDB's nfc_normalize implement the
    // same Unicode standard, so lengths, change flags, and the md5 of
    // every normalized doc match byte-for-byte — the exact-dedup
    // canonicalization NFC exists to provide.
    "q_text_nfc_audit" -> QueryDef(
      (s, d) => {
        graft.sql.GraftExtensions.register(s)
        val aug = Tables.documents(s, d).withColumn("text", concat(
          col("text"),
          when(pmod(col("doc_id"), lit(9)) === 0,
            lit(" cafe\u0301 re\u0301sume\u0301")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0, lit(" \ufb01le"))
            .otherwise(lit(""))))
        aug.select(col("doc_id"),
            length(col("text")).cast("long").as("len_raw"),
            expr("length(graft_nfc(text))").cast("long").as("len_nfc"),
            expr("graft_nfc(text) <> text").as("changed"),
            md5(expr("graft_nfc(text)")).as("nfc_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 9 = 0
             |         THEN ' cafe' || chr(769) || ' re' || chr(769)
             |           || 'sume' || chr(769) ELSE '' END
             |    || CASE WHEN doc_id % 11 = 0
             |         THEN ' ' || chr(64257) || 'le' ELSE '' END AS text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(length(text) AS BIGINT) AS len_raw,
             |  CAST(length(nfc_normalize(text)) AS BIGINT) AS len_nfc,
             |  nfc_normalize(text) <> text AS changed,
             |  md5(nfc_normalize(text)) AS nfc_md5
             |FROM aug ORDER BY doc_id""".stripMargin)
    ),

    // Multi-phrase blocklist over the corpus: df-anchored candidate
    // generation + slice verification on the Spark side; DuckDB scans
    // every (position, phrase) pair — anchoring is an optimization, the
    // match set is identical, so counts and first positions pin it.
    "q_text_phrase_blocklist" -> QueryDef(
      (s, d) => graft.ops.Retrieval.phraseBlocklist(Tables.documents(s, d),
          Seq("slow batch", "hash value table", "customer query",
            "vector", "missing zebra"))
        .orderBy("doc_id", "phrase"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
             |  FROM documents),
             |p(phrase, plen) AS (VALUES
             |  ('slow batch', 2), ('hash value table', 3),
             |  ('customer query', 2), ('vector', 1), ('missing zebra', 2)),
             |occ AS (
             |  SELECT doc_id, phrase, i
             |  FROM t, p,
             |    unnest(generate_series(1, len(t) - plen + 1)) AS g(i)
             |  WHERE array_to_string(t[i:i+plen-1], ' ') = phrase)
             |SELECT doc_id, phrase, count(*)::BIGINT AS n_occ,
             |  CAST(min(i) AS BIGINT) AS first_pos
             |FROM occ GROUP BY 1, 2 ORDER BY doc_id, phrase""".stripMargin)
    ),

    // T5 span-corruption pairs over every doc: grid-strided span starts
    // (md5 draws, maxSpan < stride so spans never overlap — no
    // sequential suppression to replay), sentinel substitution and
    // target assembly; both engines rebuild input_text and target_text
    // verbatim, so the driver's hash pins every token of every pair.
    "q_text_span_corrupt" -> QueryDef(
      (s, d) => graft.ops.TextAnalysis.spanCorrupt(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |base AS MATERIALIZED (
             |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
             |    list_filter(
             |      list_transform(
             |        generate_series(1, greatest(len(t), 1), 8), p ->
             |        struct_pack(p := CAST(p AS BIGINT),
             |          l := least(1 + ${hexDigitSql(
                          "md5('t5L:' || doc_id::VARCHAR || ':' || p::VARCHAR)",
                          1)} % 5,
             |            len(t) - p + 1),
             |          d := ${hexDigitSql(
                          "md5('t5S:' || doc_id::VARCHAR || ':' || p::VARCHAR)",
                          1)})),
             |      e -> e.d < 6 AND e.p <= len(t)) AS sp
             |  FROM tk),
             |sel AS (
             |  SELECT doc_id, n, CAST(len(sp) AS BIGINT) AS n_spans,
             |    CAST(coalesce(list_sum(list_transform(sp, e -> e.l)), 0)
             |      AS BIGINT) AS n_masked,
             |    CASE WHEN n = 0 THEN '' ELSE array_to_string(
             |      list_filter(
             |        list_transform(generate_series(1, n), pos ->
             |          CASE WHEN len(list_filter(sp, e -> e.p = pos)) > 0
             |            THEN '<extra_id_' ||
             |              len(list_filter(sp, e -> e.p < pos))::VARCHAR
             |              || '>'
             |          WHEN len(list_filter(sp,
             |              e -> e.p <= pos AND pos < e.p + e.l)) > 0
             |            THEN NULL
             |          ELSE t[pos] END),
             |        x -> x IS NOT NULL), ' ') END AS input_text,
             |    coalesce(array_to_string(
             |      flatten(list_transform(sp, (e, k) ->
             |        list_prepend('<extra_id_' || (k - 1)::VARCHAR || '>',
             |          t[e.p:e.p+e.l-1]))), ' '), '') AS target_text
             |  FROM base)
             |SELECT doc_id, n AS n_tokens, n_spans, n_masked, input_text,
             |  target_text
             |FROM sel ORDER BY doc_id""".stripMargin)
    ),

    // Distinct-n diversity per source (Li et al. 2016): distinct n-gram
    // types over total n-gram occurrences for n = 1..3 — the standard
    // mode-collapse / templated-slice detector for generation sets and
    // crawl sources (a low distinct-2 slice is boilerplate whatever its
    // quality score says). One 3-way gram explode + two map-side
    // combinable aggregations; the type table is vocabulary-sized.
    "q_text_distinct_n" -> QueryDef(
      (s, d) => {
        val t = Tables.documents(s, d)
          .withColumn("_t", tokens(col("text")))
        def gramsOf(n: Int) =
          when(size(col("_t")) >= n,
            transform(sequence(lit(1), size(col("_t")) - (n - 1)),
              i => array_join(slice(col("_t"), i, lit(n)), " ")))
            .otherwise(array().cast("array<string>"))
        val grams = (1 to 3).map(n => t.select(col("source"),
            lit(n.toLong).as("n"), explode(gramsOf(n)).as("_g")))
          .reduce(_ unionAll _)
        grams.groupBy("source", "n", "_g").agg(count(lit(1)).as("_c"))
          .groupBy("source", "n")
          .agg(count(lit(1)).as("n_distinct"), sum("_c").as("n_grams"))
          .withColumn("distinct_bp",
            expr("n_distinct * 10000 div n_grams"))
          .select("source", "n", "n_grams", "n_distinct", "distinct_bp")
          .orderBy("source", "n")
      },
      Some("""WITH t AS (
             |  SELECT source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS s
             |  FROM documents),
             |grams AS (
             |  SELECT source, n, array_to_string(s[i:i+n-1], ' ') AS g
             |  FROM t CROSS JOIN range(1, 4) nn(n),
             |    unnest(generate_series(1, len(s) - n + 1)) AS gg(i)),
             |cnt AS (
             |  SELECT source, n, g, count(*)::BIGINT AS c
             |  FROM grams GROUP BY 1, 2, 3)
             |SELECT source, CAST(n AS BIGINT) AS n,
             |  CAST(sum(c) AS BIGINT) AS n_grams,
             |  count(*)::BIGINT AS n_distinct,
             |  count(*)::BIGINT * 10000 // CAST(sum(c) AS BIGINT)
             |    AS distinct_bp
             |FROM cnt GROUP BY 1, 2 ORDER BY source, n""".stripMargin)
    ),

    // ROUGE-L over the bleu corruption fixture, prefix-cut to 16 tokens:
    // Spark folds the LCS table per row (max-of-three recurrence);
    // DuckDB recurses row-by-row with the cumulative-max reformulation —
    // different evaluation orders of the SAME integer DP, so lcs and
    // every bp ratio match bit-for-bit.
    "q_text_rouge_l" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("ref_toks", slice(col("toks"), 1, 40))
          .withColumn("cand_toks",
            // zero-token guard: sequence(1, 0) descends to [1, 0] and
            // the phantom element_at(toks, 1) errors under ANSI — an
            // all-whitespace doc must yield an EMPTY candidate list
            // (the oracle's list_transform over [] does the same)
            when(size(col("toks")) >= 1,
              transform(sequence(lit(1), least(size(col("toks")), lit(36))),
                i => when(pmod(i, lit(9)) === 0, lit("the"))
                  .otherwise(element_at(col("toks"), i))))
              .otherwise(array().cast("array<string>")))
        graft.ops.TextAnalysis.rougeL(
            docs.select(col("doc_id"), col("cand_toks"), col("ref_toks")),
            "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE toksrc AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |prep AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_transform(generate_series(1, least(len(t), 16)),
             |      i -> CASE WHEN i % 9 = 0 THEN 'the' ELSE t[i] END) AS ct,
             |    t[1:16] AS rt
             |  FROM toksrc),
             |dp AS (
             |  SELECT doc_id, 0 AS i,
             |    list_transform(generate_series(0, len(rt)),
             |      x -> CAST(0 AS BIGINT)) AS row
             |  FROM prep
             |  UNION ALL
             |  SELECT d.doc_id, d.i + 1,
             |    list_prepend(CAST(0 AS BIGINT),
             |      list_transform(generate_series(1, len(p.rt)), j ->
             |        list_max(list_transform(generate_series(1, j), j2 ->
             |          greatest(d.row[j2+1], d.row[j2] +
             |            CASE WHEN p.ct[d.i+1] = p.rt[j2]
             |                 THEN 1 ELSE 0 END)))))
             |  FROM dp d JOIN prep p ON p.doc_id = d.doc_id
             |  WHERE d.i < len(p.ct)),
             |fin AS (
             |  SELECT d.doc_id, CAST(len(p.ct) AS BIGINT) AS len_cand,
             |    CAST(len(p.rt) AS BIGINT) AS len_ref,
             |    CAST(d.row[len(p.rt) + 1] AS BIGINT) AS lcs
             |  FROM dp d JOIN prep p ON p.doc_id = d.doc_id
             |  WHERE d.i = len(p.ct)),
             |r AS (
             |  SELECT doc_id, len_cand, len_ref, lcs,
             |    CASE WHEN len_cand > 0
             |      THEN lcs * 10000 // len_cand ELSE 0 END AS rouge_p_bp,
             |    CASE WHEN len_ref > 0
             |      THEN lcs * 10000 // len_ref ELSE 0 END AS rouge_r_bp
             |  FROM fin)
             |SELECT doc_id, len_cand, len_ref, lcs, rouge_p_bp, rouge_r_bp,
             |  CAST(CASE WHEN rouge_p_bp + rouge_r_bp > 0
             |    THEN 2 * rouge_p_bp * rouge_r_bp
             |      // (rouge_p_bp + rouge_r_bp)
             |    ELSE 0 END AS BIGINT) AS rouge_f_bp
             |FROM r ORDER BY doc_id""".stripMargin)
    ),

    // Unicode script profile over deterministically script-injected docs
    // (every 11th gets ×4 Cyrillic — enough to trip the 20% mixed flag
    // on short docs only, every 13th Han, every 17th Greek): both
    // engines count by Unicode script property and replay the argmax /
    // runner-up flag via the same sorted (-count, name) key.
    "q_text_script_profile" -> QueryDef(
      (s, d) => {
        val aug = Tables.documents(s, d).withColumn("text", concat(
          col("text"),
          when(pmod(col("doc_id"), lit(11)) === 0,
            repeat(lit(" пример текста"), 4)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 0, lit(" 例子文本"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(17)) === 0, lit(" παράδειγμα"))
            .otherwise(lit(""))))
        graft.ops.TextAnalysis.scriptProfile(aug)
          .select("doc_id", "n_latin", "n_cyrillic", "n_han", "n_arabic",
            "n_greek", "n_digit", "dominant_script", "mixed_script")
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 11 = 0
             |         THEN repeat(' пример текста', 4) ELSE '' END
             |    || CASE WHEN doc_id % 13 = 0 THEN ' 例子文本' ELSE '' END
             |    || CASE WHEN doc_id % 17 = 0 THEN ' παράδειγμα' ELSE '' END
             |      AS text
             |  FROM documents),
             |counts AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(text, '\p{Latin}'))
             |      AS BIGINT) AS n_latin,
             |    CAST(len(regexp_extract_all(text, '\p{Cyrillic}'))
             |      AS BIGINT) AS n_cyrillic,
             |    CAST(len(regexp_extract_all(text, '\p{Han}'))
             |      AS BIGINT) AS n_han,
             |    CAST(len(regexp_extract_all(text, '\p{Arabic}'))
             |      AS BIGINT) AS n_arabic,
             |    CAST(len(regexp_extract_all(text, '\p{Greek}'))
             |      AS BIGINT) AS n_greek,
             |    CAST(len(regexp_extract_all(text, '[0-9]'))
             |      AS BIGINT) AS n_digit
             |  FROM aug),
             |ranked AS (
             |  SELECT *, list_sort([
             |      struct_pack(nc := -n_latin,    s := 'latin'),
             |      struct_pack(nc := -n_cyrillic, s := 'cyrillic'),
             |      struct_pack(nc := -n_han,      s := 'han'),
             |      struct_pack(nc := -n_arabic,   s := 'arabic'),
             |      struct_pack(nc := -n_greek,    s := 'greek')]) AS l
             |  FROM counts)
             |SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic, n_greek,
             |  n_digit,
             |  CASE WHEN l[1].nc = 0 THEN 'none' ELSE l[1].s END
             |    AS dominant_script,
             |  (l[1].nc < 0 AND l[2].nc < 0 AND (-l[2].nc) * 5 >= -l[1].nc)
             |    AS mixed_script
             |FROM ranked ORDER BY doc_id""".stripMargin)
    ),

    // CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020):
    // an add-1 bigram LM trained on the src0 slice (the "Wikipedia"
    // stand-in) scores every doc; per SOURCE, docs split at the tercile
    // boundaries of the cumulative count over the nll VALUE domain
    // (head = cleanest third) — the standard pre-mixing quality
    // stratification. Windows run over the per-source (source, nll)
    // value-domain table, never the corpus; thresholds broadcast back.
    "q_text_ccnet_buckets" -> QueryDef(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val scored = graft.ops.DataSelect.lmScore(docs,
            col("source") === "src0")
          .join(docs.select("doc_id", "source"), "doc_id")
        val cells = scored.groupBy("source", "nll_per_tok_bp")
          .agg(count(lit(1)).as("n"))
        val cum = cells
          .withColumn("cumn", sum("n").over(
            w.partitionBy("source").orderBy("nll_per_tok_bp")
              .rowsBetween(w.unboundedPreceding, w.currentRow)))
          .withColumn("total", sum("n").over(w.partitionBy("source")))
        val th = cum.groupBy("source").agg(
          min(when(col("cumn") * 3 >= col("total"),
            col("nll_per_tok_bp"))).as("t1"),
          min(when(col("cumn") * 3 >= col("total") * 2,
            col("nll_per_tok_bp"))).as("t2"))
        scored.join(broadcast(th), "source")
          .withColumn("bucket",
            when(col("nll_per_tok_bp") <= col("t1"), "head")
              .when(col("nll_per_tok_bp") <= col("t2"), "middle")
              .otherwise("tail"))
          .groupBy("source", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            min("nll_per_tok_bp").as("min_nll_bp"),
            max("nll_per_tok_bp").as("max_nll_bp"))
          .orderBy("source", "bucket")
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS s
             |  FROM documents),
             |vt AS (
             |  SELECT count(DISTINCT w)::BIGINT AS v
             |  FROM (SELECT unnest(s) AS w FROM tk WHERE source = 'src0')),
             |bg AS (
             |  SELECT doc_id, source, s[i] AS w1,
             |    s[i] || ' ' || s[i+1] AS gram
             |  FROM tk, unnest(generate_series(1, len(s) - 1)) AS g(i)
             |  WHERE len(s) >= 2),
             |dbg AS (
             |  SELECT doc_id, source, w1, gram, count(*)::BIGINT AS c
             |  FROM bg GROUP BY 1, 2, 3, 4),
             |trainb AS (
             |  SELECT gram, CAST(sum(c) AS BIGINT) AS cb FROM dbg
             |  WHERE source = 'src0' GROUP BY 1),
             |trainu AS (
             |  SELECT w1, CAST(sum(c) AS BIGINT) AS cu FROM dbg
             |  WHERE source = 'src0' GROUP BY 1),
             |lp AS (
             |  SELECT doc_id, source, c,
             |    CAST(floor(ln(
             |      (coalesce(cb, 0) + 1)::DOUBLE /
             |      (coalesce(cu, 0) + v)::DOUBLE) * 10000) AS BIGINT) AS lp_bp
             |  FROM dbg
             |  LEFT JOIN trainb USING (gram)
             |  LEFT JOIN trainu USING (w1)
             |  CROSS JOIN vt),
             |sc AS (
             |  SELECT doc_id, source,
             |    CAST(-sum(c * lp_bp) AS BIGINT)
             |      // CAST(sum(c) AS BIGINT) AS nll
             |  FROM lp GROUP BY 1, 2),
             |cells AS (
             |  SELECT source, nll, count(*)::BIGINT AS n
             |  FROM sc GROUP BY 1, 2),
             |cum AS (
             |  SELECT source, nll, n,
             |    CAST(sum(n) OVER (PARTITION BY source ORDER BY nll
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cumn,
             |    CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS total
             |  FROM cells),
             |th AS (
             |  SELECT source,
             |    min(CASE WHEN cumn * 3 >= total THEN nll END) AS t1,
             |    min(CASE WHEN cumn * 3 >= total * 2 THEN nll END) AS t2
             |  FROM cum GROUP BY 1)
             |SELECT sc.source,
             |  CASE WHEN nll <= t1 THEN 'head'
             |       WHEN nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
             |  count(*)::BIGINT AS n_docs,
             |  min(nll) AS min_nll_bp, max(nll) AS max_nll_bp
             |FROM sc JOIN th USING (source)
             |GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin)
    ),

    // Sentence-level chrF2 over the same corrupted-candidate fixture as
    // q_text_bleu (every 9th of the first 36 tokens → 'the', reference =
    // first 40 tokens): both engines strip whitespace, extract char
    // 1..6-grams, clip via a full outer (pair,n,gram) join, and replay
    // every precision/recall/F ratio exactly.
    "q_text_chrf" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("ref_text", array_join(slice(col("toks"), 1, 40), " "))
          .withColumn("cand_text", array_join(
            // zero-token guard — same reasoning as q_text_bleu's
            when(size(col("toks")) >= 1,
              transform(sequence(lit(1), least(size(col("toks")), lit(36))),
                i => when(pmod(i, lit(9)) === 0, lit("the"))
                  .otherwise(element_at(col("toks"), i))))
              .otherwise(array().cast("array<string>")), " "))
        graft.ops.TextAnalysis.chrF(
            docs.select(col("doc_id"), col("cand_text"), col("ref_text")),
            "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH toksrc AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |prep AS MATERIALIZED (
             |  SELECT doc_id,
             |    regexp_replace(array_to_string(
             |      list_transform(generate_series(1, least(len(t), 36)),
             |        i -> CASE WHEN i % 9 = 0 THEN 'the' ELSE t[i] END),
             |      ' '), '\s', '', 'g') AS cs,
             |    regexp_replace(array_to_string(t[1:40], ' '),
             |      '\s', '', 'g') AS rs
             |  FROM toksrc),
             |lens AS (
             |  SELECT doc_id, CAST(len(cs) AS BIGINT) AS clen,
             |    CAST(len(rs) AS BIGINT) AS rlen
             |  FROM prep),
             |cg AS MATERIALIZED (
             |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cc FROM (
             |    SELECT doc_id, n, substr(cs, i::INT, n::INT) AS g
             |    FROM prep CROSS JOIN range(1, 7) nn(n),
             |      unnest(generate_series(1, len(cs) - n + 1)) AS gg(i)
             |    WHERE len(cs) >= n)
             |  GROUP BY 1, 2, 3),
             |rg AS MATERIALIZED (
             |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS rc FROM (
             |    SELECT doc_id, n, substr(rs, i::INT, n::INT) AS g
             |    FROM prep CROSS JOIN range(1, 7) nn(n),
             |      unnest(generate_series(1, len(rs) - n + 1)) AS gg(i)
             |    WHERE len(rs) >= n)
             |  GROUP BY 1, 2, 3),
             |orders AS (
             |  SELECT doc_id, n,
             |    CAST(sum(least(coalesce(cc, 0), coalesce(rc, 0)))
             |      AS BIGINT) AS m,
             |    CAST(sum(coalesce(cc, 0)) AS BIGINT) AS tc,
             |    CAST(sum(coalesce(rc, 0)) AS BIGINT) AS tr
             |  FROM cg FULL OUTER JOIN rg USING (doc_id, n, g)
             |  GROUP BY 1, 2),
             |pr AS (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_orders,
             |    CAST(sum(m * 10000 // tc) AS BIGINT) AS sp,
             |    CAST(sum(m * 10000 // tr) AS BIGINT) AS sr
             |  FROM orders WHERE tc > 0 AND tr > 0 GROUP BY 1),
             |fin AS (
             |  SELECT doc_id, n_orders,
             |    sp // n_orders AS chrp_bp, sr // n_orders AS chrr_bp
             |  FROM pr)
             |SELECT l.doc_id, l.clen AS n_cand_chars, l.rlen AS n_ref_chars,
             |  CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
             |  CAST(coalesce(chrp_bp, 0) AS BIGINT) AS chrp_bp,
             |  CAST(coalesce(chrr_bp, 0) AS BIGINT) AS chrr_bp,
             |  CAST(coalesce(CASE WHEN 4 * chrp_bp + chrr_bp > 0
             |    THEN 5 * chrp_bp * chrr_bp // (4 * chrp_bp + chrr_bp)
             |    ELSE 0 END, 0) AS BIGINT) AS chrf_bp
             |FROM lens l LEFT JOIN fin USING (doc_id)
             |ORDER BY l.doc_id""".stripMargin)
    ),

    // Gopher repetition filters (Rae et al. 2021 Table A1) over
    // deterministically dirtied docs: every 7th doc gets its own first
    // 6 tokens stuffed ×5 (trips the top/dup n-gram rules), every 5th
    // three identical banner lines (trips both line rules); both engines
    // rebuild the corruption AND replay lines, gram counts, argmax
    // masses, and the exact interval-union coverage bit-for-bit.
    // (Named *_gopher_*: plain q_text_repetition is the older
    // single-n dup/top-fraction query above.)
    "q_text_gopher_repetition" -> QueryDef(
      (s, d) => {
        val t = graft.ops.TextAnalysis.tokens(col("text"))
        val p = array_join(slice(t, 1, 6), " ")
        val aug = Tables.documents(s, d).withColumn("text", concat(
          col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" "), p, lit(" "), p, lit(" "), p, lit(" "), p,
              lit(" "), p)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit("\nCOOKIE BANNER OK\nCOOKIE BANNER OK\nCOOKIE BANNER OK"))
            .otherwise(lit(""))))
        graft.ops.TextClean.repetitionRules(aug).orderBy("doc_id")
      },
      Some("""WITH aug AS MATERIALIZED (
             |  SELECT doc_id,
             |    text
             |    || CASE WHEN doc_id % 7 = 0
             |         THEN ' ' || p || ' ' || p || ' ' || p || ' ' || p
             |           || ' ' || p ELSE '' END
             |    || CASE WHEN doc_id % 5 = 0
             |         THEN chr(10) || 'COOKIE BANNER OK'
             |           || chr(10) || 'COOKIE BANNER OK'
             |           || chr(10) || 'COOKIE BANNER OK' ELSE '' END AS text
             |  FROM (SELECT doc_id, text,
             |          array_to_string(list_filter(string_split(text, ' '),
             |            x -> x <> '')[1:6], ' ') AS p
             |        FROM documents)),
             |base AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '') AS t,
             |    list_filter(string_split(text, chr(10)),
             |      l -> regexp_matches(l, '\S')) AS ln,
             |    CAST(len(text) AS BIGINT) AS chars
             |  FROM aug),
             |linestats AS (
             |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
             |    CAST(len(ln) AS BIGINT) AS n_lines,
             |    CAST(len(list_distinct(ln)) AS BIGINT) AS dln,
             |    CAST(coalesce(list_sum(list_transform(ln, l -> len(l))), 0)
             |      AS BIGINT) AS lc,
             |    CAST(coalesce(list_sum(list_transform(list_distinct(ln),
             |      l -> len(l))), 0) AS BIGINT) AS dlc,
             |    chars
             |  FROM base),
             |occ AS MATERIALIZED (
             |  SELECT doc_id, n, CAST(i - 1 AS BIGINT) AS pos,
             |    array_to_string(t[i:i+n-1], ' ') AS g
             |  FROM base CROSS JOIN range(2, 11) nn(n),
             |    unnest(generate_series(1, len(t) - n + 1)) AS gg(i)),
             |cnt AS MATERIALIZED (
             |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
             |  FROM occ GROUP BY 1, 2, 3),
             |top AS (
             |  SELECT doc_id,
             |    max(CASE WHEN n = 2 THEN tm END) AS tm2,
             |    max(CASE WHEN n = 3 THEN tm END) AS tm3,
             |    max(CASE WHEN n = 4 THEN tm END) AS tm4
             |  FROM (
             |    SELECT doc_id, n, c * len(g) AS tm,
             |      row_number() OVER (PARTITION BY doc_id, n
             |                         ORDER BY c DESC, g ASC) AS rn
             |    FROM cnt WHERE n <= 4)
             |  WHERE rn = 1 GROUP BY 1),
             |cov AS (
             |  SELECT doc_id,
             |    max(CASE WHEN n = 5 THEN cv END) AS cov5,
             |    max(CASE WHEN n = 6 THEN cv END) AS cov6,
             |    max(CASE WHEN n = 7 THEN cv END) AS cov7,
             |    max(CASE WHEN n = 8 THEN cv END) AS cov8,
             |    max(CASE WHEN n = 9 THEN cv END) AS cov9,
             |    max(CASE WHEN n = 10 THEN cv END) AS cov10
             |  FROM (
             |    SELECT doc_id, n,
             |      CAST(sum(least(n, coalesce(nx - pos, n))) AS BIGINT) AS cv
             |    FROM (
             |      SELECT o.doc_id, o.n, o.pos,
             |        lead(o.pos) OVER (PARTITION BY o.doc_id, o.n
             |                          ORDER BY o.pos) AS nx
             |      FROM occ o JOIN cnt ON cnt.doc_id = o.doc_id
             |        AND cnt.n = o.n AND cnt.g = o.g
             |      WHERE o.n >= 5 AND cnt.c >= 2)
             |    GROUP BY 1, 2)
             |  GROUP BY 1),
             |fr AS (
             |  SELECT l.doc_id, l.n_words, l.n_lines,
             |    CASE WHEN n_lines > 0
             |      THEN (n_lines - dln) * 10000 // n_lines ELSE 0 END
             |      AS dup_line_frac_bp,
             |    CASE WHEN lc > 0 THEN (lc - dlc) * 10000 // lc ELSE 0 END
             |      AS dup_line_char_frac_bp,
             |    CASE WHEN chars > 0
             |      THEN coalesce(tm2, 0) * 10000 // chars ELSE 0 END
             |      AS top_2gram_char_frac_bp,
             |    CASE WHEN chars > 0
             |      THEN coalesce(tm3, 0) * 10000 // chars ELSE 0 END
             |      AS top_3gram_char_frac_bp,
             |    CASE WHEN chars > 0
             |      THEN coalesce(tm4, 0) * 10000 // chars ELSE 0 END
             |      AS top_4gram_char_frac_bp,
             |    CASE WHEN n_words > 0
             |      THEN coalesce(cov5, 0) * 10000 // n_words ELSE 0 END
             |      AS dup_5gram_frac_bp,
             |    CASE WHEN n_words > 0
             |      THEN coalesce(cov6, 0) * 10000 // n_words ELSE 0 END
             |      AS dup_6gram_frac_bp,
             |    CASE WHEN n_words > 0
             |      THEN coalesce(cov7, 0) * 10000 // n_words ELSE 0 END
             |      AS dup_7gram_frac_bp,
             |    CASE WHEN n_words > 0
             |      THEN coalesce(cov8, 0) * 10000 // n_words ELSE 0 END
             |      AS dup_8gram_frac_bp,
             |    CASE WHEN n_words > 0
             |      THEN coalesce(cov9, 0) * 10000 // n_words ELSE 0 END
             |      AS dup_9gram_frac_bp,
             |    CASE WHEN n_words > 0
             |      THEN coalesce(cov10, 0) * 10000 // n_words ELSE 0 END
             |      AS dup_10gram_frac_bp
             |  FROM linestats l
             |  LEFT JOIN top USING (doc_id)
             |  LEFT JOIN cov USING (doc_id))
             |SELECT doc_id, n_words, n_lines,
             |  CAST(dup_line_frac_bp AS BIGINT) AS dup_line_frac_bp,
             |  CAST(dup_line_char_frac_bp AS BIGINT) AS dup_line_char_frac_bp,
             |  CAST(top_2gram_char_frac_bp AS BIGINT) AS top_2gram_char_frac_bp,
             |  CAST(top_3gram_char_frac_bp AS BIGINT) AS top_3gram_char_frac_bp,
             |  CAST(top_4gram_char_frac_bp AS BIGINT) AS top_4gram_char_frac_bp,
             |  CAST(dup_5gram_frac_bp AS BIGINT) AS dup_5gram_frac_bp,
             |  CAST(dup_6gram_frac_bp AS BIGINT) AS dup_6gram_frac_bp,
             |  CAST(dup_7gram_frac_bp AS BIGINT) AS dup_7gram_frac_bp,
             |  CAST(dup_8gram_frac_bp AS BIGINT) AS dup_8gram_frac_bp,
             |  CAST(dup_9gram_frac_bp AS BIGINT) AS dup_9gram_frac_bp,
             |  CAST(dup_10gram_frac_bp AS BIGINT) AS dup_10gram_frac_bp,
             |  (dup_line_frac_bp <= 3000 AND dup_line_char_frac_bp <= 2000
             |    AND top_2gram_char_frac_bp <= 2000
             |    AND top_3gram_char_frac_bp <= 1800
             |    AND top_4gram_char_frac_bp <= 1600
             |    AND dup_5gram_frac_bp <= 1500 AND dup_6gram_frac_bp <= 1400
             |    AND dup_7gram_frac_bp <= 1300 AND dup_8gram_frac_bp <= 1200
             |    AND dup_9gram_frac_bp <= 1100 AND dup_10gram_frac_bp <= 1000)
             |    AS pass_repetition
             |FROM fr ORDER BY doc_id""".stripMargin)
    ),

    // Pairwise Cohen's kappa over the 5-rater fixture (the dawid_skene
    // ratings rebuilt verbatim): per rater pair, exact-integer κ in
    // basis points — truncation toward zero matches DuckDB // on
    // negative κ, so worse-than-chance pairs replay too.
    "q_text_cohen_kappa" -> QueryDef(
      (s, d) => {
        val ratings = Tables.documents(s, d)
          .select(col("doc_id"), expr("pmod(n_chars div 50, 4)").as("_true"))
          .withColumn("rater",
            explode(sequence(lit(0L), lit(4L))))
          .withColumn("_v",
            conv(substring(md5(concat(col("doc_id").cast("string"),
              lit(":"), col("rater").cast("string"))), 1, 1), 16, 10)
              .cast("long"))
          .withColumn("label",
            when(col("_v") < col("rater") + 2,
              pmod(col("_true") + 1 + pmod(col("_v"), lit(3)), lit(4)))
              .otherwise(col("_true")))
        graft.ops.ChatData.cohenKappa(ratings, "doc_id", "rater", "label")
          .orderBy("r1", "r2")
      },
      Some(s"""WITH ratings AS (
             |  SELECT doc_id AS it, r,
             |    CASE WHEN v < 2 + r
             |         THEN ((n_chars // 50) % 4 + 1 + v % 3) % 4
             |         ELSE (n_chars // 50) % 4 END AS l
             |  FROM (
             |    SELECT doc_id, n_chars, r,
             |      ${hexDigitSql(
                      "md5(doc_id::VARCHAR || ':' || r::VARCHAR)", 1)} AS v
             |    FROM documents, range(0, 5) t(r))),
             |pairs AS (
             |  SELECT a.r AS r1, b.r AS r2, a.l AS l1, b.l AS l2
             |  FROM ratings a JOIN ratings b
             |    ON a.it = b.it AND a.r < b.r),
             |cells AS (
             |  SELECT r1, r2, l1, l2, count(*)::BIGINT AS c
             |  FROM pairs GROUP BY 1, 2, 3, 4),
             |am AS (SELECT r1, r2, l1 AS lab, CAST(sum(c) AS BIGINT) AS a
             |       FROM cells GROUP BY 1, 2, 3),
             |bm AS (SELECT r1, r2, l2 AS lab, CAST(sum(c) AS BIGINT) AS b
             |       FROM cells GROUP BY 1, 2, 3),
             |pe AS (SELECT r1, r2, CAST(sum(a * b) AS BIGINT) AS pe_num
             |       FROM am JOIN bm USING (r1, r2, lab) GROUP BY 1, 2),
             |top AS (
             |  SELECT r1, r2, CAST(sum(c) AS BIGINT) AS n_items,
             |    CAST(sum(CASE WHEN l1 = l2 THEN c ELSE 0 END) AS BIGINT)
             |      AS n_agree
             |  FROM cells GROUP BY 1, 2),
             |j AS (
             |  SELECT top.r1, top.r2, n_items, n_agree,
             |    COALESCE(pe_num, 0) AS pe_num
             |  FROM top LEFT JOIN pe USING (r1, r2))
             |SELECT r1, r2, n_items, n_agree, pe_num,
             |  CASE WHEN n_items * n_items = pe_num THEN NULL
             |       ELSE (CASE WHEN n_items * n_agree >= pe_num
             |                  THEN 1 ELSE -1 END) *
             |            ((abs(n_items * n_agree - pe_num) * 10000)
             |             // (n_items * n_items - pe_num)) END AS kappa_bp
             |FROM j ORDER BY r1, r2""".stripMargin)
    ),

    // Luhn-validated card-number detection: every doc gets one VALID
    // 16-digit PAN (check digit minted in-engine from the payload) and
    // one invalid twin appended; the detector must count exactly the
    // valid one — both engines run the same split + checksum lambda.
    "q_text_pii_luhn" -> QueryDef(
      (s, d) => {
        import graft.ops.TextClean
        val payload = lpad(
          ((col("doc_id") * 7919L + 123L) % 1000000000000000L)
            .cast("string"), 15, "0")
        val check = pmod(lit(10) -
          pmod(TextClean.luhnSum(concat(payload, lit("0"))), lit(10)),
          lit(10))
        val valid = concat(payload, check.cast("string"))
        val invalid = concat(payload,
          pmod(check + 1, lit(10)).cast("string"))
        Tables.documents(s, d)
          .withColumn("_t2",
            concat_ws(" ", col("text"), valid, lit("ref"), invalid))
          .select(col("doc_id"),
            size(TextClean.cardCandidates(col("_t2"))).cast("long")
              .as("n_candidates"),
            TextClean.countLuhnCards(col("_t2")).cast("long")
              .as("n_valid"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
             |  SELECT doc_id, text,
             |    lpad(CAST((doc_id * 7919 + 123) % 1000000000000000
             |      AS VARCHAR), 15, '0') AS payload
             |  FROM documents),
             |minted AS (
             |  SELECT doc_id, text, payload,
             |    (10 - (${luhnSumSql("(payload || '0')")}) % 10) % 10
             |      AS chk
             |  FROM base),
             |txt AS (
             |  SELECT doc_id,
             |    text || ' ' || payload || chk::VARCHAR || ' ref ' ||
             |      payload || ((chk + 1) % 10)::VARCHAR AS t2
             |  FROM minted),
             |cand AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(t2, '[^0-9]+'),
             |      c -> length(c) >= 13 AND length(c) <= 19) AS cs
             |  FROM txt)
             |SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_candidates,
             |  CAST(len(list_filter(cs, c ->
             |    (${luhnSumSql("c")}) % 10 = 0)) AS BIGINT) AS n_valid
             |FROM cand ORDER BY doc_id""".stripMargin)
    ),

    // Two-sample KS drift statistic between the even- and odd-doc_id
    // halves' quality scores — the offline distribution-shift gate; the
    // sup runs over the score VALUE domain (≤ 10001 bp rows), never the
    // corpus, and the cross products are DECIMAL/HUGEINT-exact.
    "q_text_ks_drift" -> QueryDef(
      (s, d) => {
        val scored = Tables.documents(s, d)
          .withColumn("score_bp",
            floor(graft.ops.TextAnalysis.qualityScore(col("text")) * 10000)
              .cast("long"))
        graft.ops.DataQuality.ksTestBp(scored,
          col("doc_id") % 2 === 0, "score_bp")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             |    length(replace(text, ' ', ''))::DOUBLE AS nosp
             |  FROM documents),
             |sc AS (
             |  SELECT doc_id,
             |    CAST(floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
             |      + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.3
             |      + least((nosp / len(toks)) / 8.0, 1.0) * 0.3) * 10000)
             |      AS BIGINT) AS s
             |  FROM t),
             |cells AS (
             |  SELECT s,
             |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS a,
             |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)
             |      AS BIGINT) AS b
             |  FROM sc GROUP BY 1),
             |c AS (
             |  SELECT s,
             |    CAST(sum(a) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
             |      AS HUGEINT) AS ca,
             |    CAST(sum(b) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
             |      AS HUGEINT) AS cb,
             |    CAST(sum(a) OVER () AS HUGEINT) AS na,
             |    CAST(sum(b) OVER () AS HUGEINT) AS nb
             |  FROM cells)
             |SELECT CAST(max(na) AS BIGINT) AS n_a,
             |  CAST(max(nb) AS BIGINT) AS n_b,
             |  CAST(CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
             |    (max(abs(ca * nb - cb * na)) * 10000)
             |      // (max(na) * max(nb)) ELSE NULL END AS BIGINT) AS d_bp
             |FROM c""".stripMargin)
    ),

    // Chao1 vocabulary-richness estimate: one token count + one
    // single-row aggregate; the unseen-tail correction in exact
    // hundredths both engines replay.
    "q_text_chao1" -> QueryDef(
      (s, d) => graft.ops.TextAnalysis.chao1(Tables.documents(s, d)),
      Some("""WITH tok AS (
             |  SELECT unnest(list_filter(string_split(text, ' '),
             |    x -> x <> '')) AS tok
             |  FROM documents),
             |cnt AS (SELECT tok, count(*)::BIGINT AS c FROM tok GROUP BY 1),
             |agg AS (
             |  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
             |    count(*)::BIGINT AS vocab,
             |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
             |  FROM cnt)
             |SELECT n_tokens, vocab, f1, f2,
             |  CAST(100 * vocab + (100 * f1 * (f1 - 1)) // (2 * (f2 + 1))
             |    AS BIGINT) AS chao1_x100
             |FROM agg""".stripMargin)
    ),

    // Krippendorff's alpha over a RAGGED rating pool — the cohen_kappa
    // 5-rater fixture with every (doc_id + rater) % 7 == 0 rating
    // dropped, so items carry 4 OR 5 ratings (exactly the missing-data
    // case Fleiss NULL-refuses); both engines run the same
    // lcm-scaled 1/(n_u-1) coincidence arithmetic.
    "q_text_krippendorff" -> QueryDef(
      (s, d) => {
        val ratings = Tables.documents(s, d)
          .select(col("doc_id"), expr("pmod(n_chars div 50, 4)").as("_true"))
          .withColumn("rater", explode(sequence(lit(0L), lit(4L))))
          .filter(pmod(col("doc_id") + col("rater"), lit(7)) =!= 0)
          .withColumn("_v",
            conv(substring(md5(concat(col("doc_id").cast("string"),
              lit(":"), col("rater").cast("string"))), 1, 1), 16, 10)
              .cast("long"))
          .withColumn("label",
            when(col("_v") < col("rater") + 2,
              pmod(col("_true") + 1 + pmod(col("_v"), lit(3)), lit(4)))
              .otherwise(col("_true")))
        graft.ops.ChatData.krippendorffAlpha(
          ratings, "doc_id", "rater", "label")
      },
      Some(s"""WITH ratings AS (
             |  SELECT doc_id AS it,
             |    CASE WHEN v < 2 + r
             |         THEN ((n_chars // 50) % 4 + 1 + v % 3) % 4
             |         ELSE (n_chars // 50) % 4 END AS l
             |  FROM (
             |    SELECT doc_id, n_chars, r,
             |      ${hexDigitSql(
                      "md5(doc_id::VARCHAR || ':' || r::VARCHAR)", 1)} AS v
             |    FROM documents, range(0, 5) t(r)
             |    WHERE (doc_id + r) % 7 <> 0)),
             |cell AS (
             |  SELECT it, l, count(*)::BIGINT AS c FROM ratings
             |  GROUP BY 1, 2),
             |item AS (
             |  SELECT it, CAST(sum(c) AS BIGINT) AS n,
             |    CAST(sum(c * c) AS BIGINT) AS ss
             |  FROM cell GROUP BY 1 HAVING sum(c) >= 2),
             |pc AS (
             |  SELECT l, CAST(sum(c) AS BIGINT) AS nc
             |  FROM cell JOIN item USING (it) GROUP BY 1),
             |top AS (
             |  SELECT count(*)::BIGINT AS n_items,
             |    CAST(sum(n) AS BIGINT) AS n_ratings,
             |    CAST(sum(720720 * (n * n - ss) // (n - 1)) AS BIGINT)
             |      AS d_obs_scaled
             |  FROM item),
             |cats AS (
             |  SELECT count(*)::BIGINT AS n_categories,
             |    CAST(sum(nc::HUGEINT * nc) AS HUGEINT) AS csq
             |  FROM pc)
             |SELECT coalesce(n_items, 0) AS n_items,
             |  coalesce(n_ratings, 0) AS n_ratings, n_categories,
             |  d_obs_scaled,
             |  CASE WHEN n_ratings IS NULL OR n_ratings < 2
             |         OR n_ratings::HUGEINT * n_ratings - csq = 0 THEN NULL
             |       ELSE CAST(10000 - d_obs_scaled::HUGEINT
             |         * (n_ratings - 1) * 10000
             |         // (720720::HUGEINT
             |            * (n_ratings::HUGEINT * n_ratings - csq))
             |         AS BIGINT) END AS alpha_bp
             |FROM top CROSS JOIN cats""".stripMargin)
    ),

    // Flesch-Kincaid grade / reading-ease per doc: both engines count
    // the same whitespace words, [.!?]+ sentence runs, and [aeiouy]+
    // vowel-group syllables, then replay the published coefficients in
    // milli-point truncating arithmetic.
    "q_text_readability" -> QueryDef(
      (s, d) => graft.ops.TextAnalysis.readability(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_words,
             |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
             |      AS BIGINT)) AS n_sentences,
             |    CAST(coalesce(list_sum(list_transform(toks, w ->
             |      greatest(1, len(regexp_extract_all(lower(w),
             |        '[aeiouy]+'))))), 0) AS BIGINT) AS n_syllables
             |  FROM t)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |  CASE WHEN n_words > 0
             |    THEN 390 * n_words // n_sentences
             |      + 11800 * n_syllables // n_words - 15590 END
             |    AS fk_grade_x1000,
             |  CASE WHEN n_words > 0
             |    THEN 206835 - 1015 * n_words // n_sentences
             |      - 84600 * n_syllables // n_words END AS fre_x1000
             |FROM m ORDER BY doc_id""".stripMargin)
    ),

    // ROUGE-1 and ROUGE-2 over the rouge_l corruption fixture (ref =
    // first 40 tokens, candidate = first 36 with every 9th replaced):
    // clipped n-gram overlap counts and bp P/R/F replayed from the same
    // space-joined gram tables in both engines.
    "q_text_rouge_n" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("ref_toks", slice(col("toks"), 1, 40))
          .withColumn("cand_toks",
            // zero-token guard: sequence(1, 0) descends to [1, 0] and
            // the phantom element_at(toks, 1) errors under ANSI — an
            // all-whitespace doc must yield an EMPTY candidate list
            // (the oracle's list_transform over [] does the same)
            when(size(col("toks")) >= 1,
              transform(sequence(lit(1), least(size(col("toks")), lit(36))),
                i => when(pmod(i, lit(9)) === 0, lit("the"))
                  .otherwise(element_at(col("toks"), i))))
              .otherwise(array().cast("array<string>")))
          .select(col("doc_id"), col("cand_toks"), col("ref_toks"))
        val r1 = graft.ops.TextAnalysis.rougeN(docs, "doc_id", 1)
          .withColumn("n", lit(1L))
        val r2 = graft.ops.TextAnalysis.rougeN(docs, "doc_id", 2)
          .withColumn("n", lit(2L))
        r1.unionByName(r2).orderBy("n", "doc_id")
      },
      Some("""WITH toksrc AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |prep AS MATERIALIZED (
             |  SELECT doc_id,
             |    list_transform(generate_series(1, least(len(t), 36)),
             |      i -> CASE WHEN i % 9 = 0 THEN 'the' ELSE t[i] END) AS ct,
             |    t[1:40] AS rt
             |  FROM toksrc),
             |base AS (
             |  SELECT doc_id, nn FROM prep CROSS JOIN (VALUES (1), (2)) v(nn)),
             |sides AS (
             |  SELECT doc_id, nn, 'c' AS side, ct AS tk FROM base
             |    JOIN prep USING (doc_id)
             |  UNION ALL
             |  SELECT doc_id, nn, 'r', rt FROM base JOIN prep USING (doc_id)),
             |grams AS (
             |  SELECT doc_id, nn, side,
             |    array_to_string(tk[i:i+nn-1], ' ') AS g
             |  FROM sides,
             |    unnest(generate_series(1, len(tk) - nn + 1)) AS u(i)),
             |cnt AS (
             |  SELECT doc_id, nn, side, g, count(*)::BIGINT AS c
             |  FROM grams GROUP BY 1, 2, 3, 4),
             |cj AS (
             |  SELECT doc_id, nn, g, coalesce(a.c, 0) AS cc,
             |    coalesce(b.c, 0) AS rc
             |  FROM (SELECT doc_id, nn, g, c FROM cnt WHERE side = 'c') a
             |  FULL OUTER JOIN
             |    (SELECT doc_id, nn, g, c FROM cnt WHERE side = 'r') b
             |    USING (doc_id, nn, g)),
             |agg AS (
             |  SELECT doc_id, nn, CAST(sum(cc) AS BIGINT) AS n_grams_cand,
             |    CAST(sum(rc) AS BIGINT) AS n_grams_ref,
             |    CAST(sum(least(cc, rc)) AS BIGINT) AS n_overlap
             |  FROM cj GROUP BY 1, 2),
             |fin AS (
             |  SELECT base.doc_id, base.nn,
             |    coalesce(n_grams_cand, 0) AS n_grams_cand,
             |    coalesce(n_grams_ref, 0) AS n_grams_ref,
             |    coalesce(n_overlap, 0) AS n_overlap
             |  FROM base LEFT JOIN agg USING (doc_id, nn)),
             |r AS (
             |  SELECT doc_id, nn, n_grams_cand, n_grams_ref, n_overlap,
             |    CASE WHEN n_grams_cand > 0
             |      THEN n_overlap * 10000 // n_grams_cand ELSE 0 END
             |      AS rougen_p_bp,
             |    CASE WHEN n_grams_ref > 0
             |      THEN n_overlap * 10000 // n_grams_ref ELSE 0 END
             |      AS rougen_r_bp
             |  FROM fin)
             |SELECT doc_id, n_grams_cand, n_grams_ref, n_overlap,
             |  rougen_p_bp, rougen_r_bp,
             |  CAST(CASE WHEN rougen_p_bp + rougen_r_bp > 0
             |    THEN 2 * rougen_p_bp * rougen_r_bp
             |      // (rougen_p_bp + rougen_r_bp)
             |    ELSE 0 END AS BIGINT) AS rougen_f_bp,
             |  CAST(nn AS BIGINT) AS n
             |FROM r ORDER BY n, doc_id""".stripMargin)
    ),

    // Heaps'-law vocabulary growth: cumulative distinct-token count over
    // 10 id-range prefixes, decomposed through each token's FIRST bucket
    // so the curve is one corpus aggregation + bucket-domain windows —
    // never a per-prefix distinct rescan.
    "q_text_vocab_growth" -> QueryDef(
      (s, d) => graft.ops.CorpusStats.vocabGrowth(
        Tables.documents(s, d), "doc_id", "text", 10),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |mx AS (SELECT max(doc_id) AS m FROM toks),
             |b AS (
             |  SELECT least(9, doc_id * 10 // (m + 1)) AS bkt, t
             |  FROM toks, mx),
             |mass AS (
             |  SELECT bkt, count(*)::BIGINT AS docs,
             |    CAST(sum(len(t)) AS BIGINT) AS tk
             |  FROM b GROUP BY 1),
             |firsts AS (
             |  SELECT w, min(bkt) AS fb FROM (
             |    SELECT bkt, unnest(t) AS w FROM b) GROUP BY 1),
             |nv AS (SELECT fb AS bkt, count(*)::BIGINT AS nw
             |  FROM firsts GROUP BY 1),
             |spine AS (
             |  SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT)
             |    AS bucket),
             |cur AS (
             |  SELECT bucket,
             |    CAST(sum(coalesce(mass.docs, 0)) OVER (ORDER BY bucket)
             |      AS BIGINT) AS docs_cum,
             |    CAST(sum(coalesce(mass.tk, 0)) OVER (ORDER BY bucket)
             |      AS BIGINT) AS tokens_cum,
             |    CAST(sum(coalesce(nv.nw, 0)) OVER (ORDER BY bucket)
             |      AS BIGINT) AS vocab_cum
             |  FROM spine LEFT JOIN mass ON mass.bkt = bucket
             |    LEFT JOIN nv ON nv.bkt = bucket)
             |SELECT bucket, docs_cum, tokens_cum, vocab_cum,
             |  CASE WHEN tokens_cum > 0
             |    THEN vocab_cum * 10000 // tokens_cum END AS ttr_bp
             |FROM cur ORDER BY bucket""".stripMargin)
    ),

    // Gries' deviation of proportions for the top-50 terms over 8
    // id-mod parts: the dispersion readout frequency alone hides — both
    // engines run the exact common-denominator HUGEINT/DECIMAL form with
    // the algebraic absent-part correction.
    "q_text_burstiness" -> QueryDef(
      (s, d) => graft.ops.CorpusStats.burstiness(
        Tables.documents(s, d), "doc_id", "text", 8, 50),
      Some("""WITH tp AS (
             |  SELECT w AS token, doc_id % 8 AS p, count(*)::BIGINT AS c
             |  FROM (
             |    SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             |      x -> x <> '')) AS w
             |    FROM documents) GROUP BY 1, 2),
             |pt AS (SELECT p, CAST(sum(c) AS BIGINT) AS tok
             |  FROM tp GROUP BY 1),
             |g AS (SELECT CAST(sum(tok) AS BIGINT) AS tt FROM pt),
             |top AS (
             |  SELECT token, CAST(sum(c) AS BIGINT) AS cnt
             |  FROM tp GROUP BY 1 ORDER BY cnt DESC, token LIMIT 50),
             |j AS (
             |  SELECT tp.token, top.cnt, g.tt,
             |    sum(abs(tp.c::HUGEINT * g.tt
             |      - top.cnt::HUGEINT * pt.tok)) AS dev,
             |    CAST(sum(pt.tok) AS BIGINT) AS present
             |  FROM tp JOIN top USING (token) JOIN pt USING (p), g
             |  GROUP BY 1, 2, 3)
             |SELECT token, cnt,
             |  CAST((dev + cnt::HUGEINT * (tt - present)) * 10000
             |    // (2 * cnt::HUGEINT * tt) AS BIGINT) AS dp_bp
             |FROM j ORDER BY cnt DESC, token""".stripMargin)
    ),

    // Trigram novelty of the odd-id half of the corpus against the
    // even-id half: per-doc fraction of distinct trigrams unseen in the
    // reference, collapsed to an 11-row decile histogram. The
    // memorization/novelty readout for generated or newly-crawled data.
    "q_text_novelty" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.ops.CorpusStats.ngramNovelty(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", 3)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |gr AS (
             |  SELECT DISTINCT doc_id,
             |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
             |  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
             |  WHERE len(t) >= 3),
             |ref AS (SELECT DISTINCT gram FROM gr WHERE doc_id % 2 = 0),
             |tst AS (SELECT doc_id, gram FROM gr WHERE doc_id % 2 = 1),
             |per AS (
             |  SELECT tst.doc_id, count(*)::BIGINT AS g,
             |    CAST(sum(CASE WHEN ref.gram IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS h
             |  FROM tst LEFT JOIN ref ON ref.gram = tst.gram
             |  GROUP BY 1),
             |nv AS (SELECT doc_id, g, h, (g - h) * 10000 // g AS nov
             |  FROM per)
             |SELECT nov // 1000 AS decile, count(*)::BIGINT AS docs,
             |  CAST(sum(g) AS BIGINT) AS grams,
             |  CAST(sum(g - h) AS BIGINT) AS novel_grams
             |FROM nv GROUP BY 1 ORDER BY 1""".stripMargin)
    )
  )

  /** DuckDB replay of [[graft.ops.TextAnalysis.bpeTrain]]: per round k,
    * `p{k}` (freq-weighted adjacent-pair counts over the symbolized
    * vocabulary), `b{k}` (best pair: max count, lexicographically smallest
    * on ties), `w{k}` (vocabulary after two sentinel-bounded literal
    * replaces — identical left-to-right non-overlapping semantics in both
    * engines). Final SELECT unions the merge table.
    */
  private def bpeTrainSql(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= bpeTrainCtes(nMerges)
    sb ++= "\n" + (1 to nMerges).map { k =>
      s"""SELECT $k AS step, string_split(pair, ' ')[1] AS "left",
         |  string_split(pair, ' ')[2] AS "right",
         |  replace(pair, ' ', '') AS merged, n AS pair_count FROM b$k""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY step")
    sb.toString
  }

  /** The training CTE chain alone (`WITH w0 ... w{nMerges}`) — the final
    * `w{nMerges}` holds every vocabulary word in its fully-merged
    * symbolization, which is exactly what BPE ENCODING produces for that
    * word, so the encode oracle joins the corpus against it directly.
    */
  private def bpeTrainCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS MATERIALIZED (
             |  SELECT trim(regexp_replace(tok, '(.)', '\1 ', 'g')) AS w,
             |    count(*) AS freq
             |  FROM (SELECT unnest(list_filter(string_split(text, ' '),
             |          x -> x <> '')) AS tok FROM documents)
             |  GROUP BY 1)""".stripMargin
    for (k <- 1 to nMerges) {
      val prev = s"w${k - 1}"
      sb ++= s""",
               |p$k AS MATERIALIZED (
               |  SELECT s[i] || ' ' || s[i+1] AS pair,
               |    CAST(sum(freq) AS BIGINT) AS n
               |  FROM (SELECT string_split(w, ' ') AS s, freq FROM $prev),
               |       unnest(generate_series(1, len(s) - 1)) AS g(i)
               |  WHERE len(s) >= 2 GROUP BY 1),
               |b$k AS MATERIALIZED (
               |  SELECT pair, n FROM p$k ORDER BY n DESC, pair LIMIT 1),
               |w$k AS MATERIALIZED (
               |  SELECT trim(replace(replace(' ' || w || ' ',
               |      ' ' || (SELECT pair FROM b$k) || ' ',
               |      ' ' || (SELECT replace(pair, ' ', '') FROM b$k) || ' '),
               |      ' ' || (SELECT pair FROM b$k) || ' ',
               |      ' ' || (SELECT replace(pair, ' ', '') FROM b$k) || ' ')) AS w,
               |    freq
               |  FROM $prev)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB replay of [[graft.ops.Graph.textRank]]: the word-adjacency
    * graph (both-direction bigram counts), then `iters` unrolled rounds of
    * [[graft.ops.Graph.pageRank]]'s fixed-point recurrence. Ranks are
    * BIGINT micro-units, each edge's contribution floor-divides by its
    * source's out-weight and the damped mix floor-divides by 1000, so
    * every intermediate is exact integer arithmetic and the sum order is
    * free. One division by 1e6 at the end turns micro-units into ranks.
    */
  private def textRankSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH toks AS (
             |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |g AS (
             |  SELECT t[i] AS a, t[i+1] AS b
             |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS s(i)
             |  WHERE len(t) >= 2),
             |edges AS MATERIALIZED (
             |  SELECT u, v, CAST(count(*) AS BIGINT) AS w FROM (
             |    SELECT a AS u, b AS v FROM g
             |    UNION ALL SELECT b AS u, a AS v FROM g)
             |  WHERE u <> v
             |  GROUP BY u, v),
             |outw AS MATERIALIZED (
             |  SELECT u, CAST(sum(w) AS BIGINT) AS wu FROM edges GROUP BY u),
             |r0 AS MATERIALIZED (
             |  SELECT DISTINCT u AS tok, CAST(1000000 AS BIGINT) AS r
             |  FROM edges)""".stripMargin
    for (k <- 1 to iters) {
      sb ++= s""",
               |r$k AS MATERIALIZED (
               |  SELECT e.v AS tok,
               |    CAST(150 * 1000 +
               |      (850 * CAST(sum(r.r * e.w // o.wu) AS BIGINT)) // 1000
               |      AS BIGINT) AS r
               |  FROM edges e
               |  JOIN r${k - 1} r ON e.u = r.tok
               |  JOIN outw o ON e.u = o.u
               |  GROUP BY e.v)""".stripMargin
    }
    sb ++= s"\nSELECT tok, r / 1000000.0 AS r FROM r$iters " +
      "ORDER BY r DESC, tok LIMIT 30"
    sb.toString
  }

  /** DuckDB replay of [[graft.ops.Graph.personalizedPageRank]] over the
    * textRank co-occurrence graph with literal `seeds`: r0 puts Micro on
    * seeds only, each round re-injects the 150000 teleport term into
    * seeds only — the exact integer recurrence Spark runs.
    */
  private def pprSql(iters: Int, seeds: Seq[String]): String = {
    val inList = seeds.map(s => s"'$s'").mkString(", ")
    val sb = new StringBuilder
    sb ++= """WITH toks AS (
             |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |g AS (
             |  SELECT t[i] AS a, t[i+1] AS b
             |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS s(i)
             |  WHERE len(t) >= 2),
             |edges AS MATERIALIZED (
             |  SELECT u, v, CAST(count(*) AS BIGINT) AS w FROM (
             |    SELECT a AS u, b AS v FROM g
             |    UNION ALL SELECT b AS u, a AS v FROM g)
             |  WHERE u <> v
             |  GROUP BY u, v),
             |outw AS MATERIALIZED (
             |  SELECT u, CAST(sum(w) AS BIGINT) AS wu FROM edges GROUP BY u),
             |r0 AS MATERIALIZED (
             |  SELECT DISTINCT u AS tok,
             |""".stripMargin
    sb ++= s"    CAST(CASE WHEN u IN ($inList) THEN 1000000 ELSE 0 END" +
      " AS BIGINT) AS r\n  FROM edges)"
    for (k <- 1 to iters) {
      sb ++= s""",
               |r$k AS MATERIALIZED (
               |  SELECT e.v AS tok,
               |    CAST(CASE WHEN e.v IN ($inList) THEN 150000 ELSE 0 END +
               |      (850 * CAST(sum(r.r * e.w // o.wu) AS BIGINT)) // 1000
               |      AS BIGINT) AS r
               |  FROM edges e
               |  JOIN r${k - 1} r ON e.u = r.tok
               |  JOIN outw o ON e.u = o.u
               |  GROUP BY e.v)""".stripMargin
    }
    sb ++= s"""
             |SELECT tok, r / 1000000.0 AS r, false AS is_seed
             |FROM r$iters WHERE tok NOT IN ($inList)
             |ORDER BY r DESC, tok LIMIT 20""".stripMargin
    sb.toString
  }

  /** Decimal value of hex digit `i` (1-based) of md5 expression `h`. */
  private def hexDigitSql(h: String, i: Int): String =
    s"(instr('0123456789abcdef', substring($h, $i, 1)) - 1)"

  /** DuckDB replay of [[graft.ops.TextClean.luhnSum]]: right-parity
    * doubling (minus 9 past 9) summed over the digit string `s` (a SQL
    * expression; may be an outer lambda variable — nested lambdas are
    * DuckDB-supported).
    */
  private def luhnSumSql(s: String): String =
    s"list_sum(list_transform(generate_series(1, length($s)), i -> " +
      s"CASE WHEN (length($s) - i) % 2 = 1 THEN " +
      s"CASE WHEN 2 * (ascii(substring($s, i, 1)) - 48) > 9 " +
      s"THEN 2 * (ascii(substring($s, i, 1)) - 48) - 9 " +
      s"ELSE 2 * (ascii(substring($s, i, 1)) - 48) END " +
      s"ELSE ascii(substring($s, i, 1)) - 48 END))"

  /** Value of the first 4 hex digits of md5 expression `h` — DuckDB replay
    * of Spark's `conv(substring(md5(x), 1, 4), 16, 10)`.
    */
  private def hex4Sql(h: String): String =
    s"(${hexDigitSql(h, 1)} * 4096 + ${hexDigitSql(h, 2)} * 256 + " +
      s"${hexDigitSql(h, 3)} * 16 + ${hexDigitSql(h, 4)})"

  /** One Dawid-Skene hard-EM round as chained CTEs: smoothed confusion
    * cells from `cur${r-1}`, fixed-point log weights via the shared
    * pseudo-log2 block, per-item log-posterior ranks `scx$r` and the
    * re-labeled `cur$r`. Mirrors [[graft.ops.ChatData.dawidSkene]] cell
    * for cell (K=4, the 5-rater panel, add-one smoothing).
    */
  private def dsRoundSql(r: Int): String =
    s"""j$r AS (
       |  SELECT g.it, g.r, g.l, c.t
       |  FROM ratings g JOIN cur${r - 1} c USING (it)),
       |cell$r AS MATERIALIZED (
       |  SELECT dr.r, dt.t, dl.l, CAST(coalesce(cc.c, 0) AS BIGINT) AS c
       |  FROM (SELECT DISTINCT r FROM ratings) dr
       |  CROSS JOIN range(0, 4) dt(t)
       |  CROSS JOIN range(0, 4) dl(l)
       |  LEFT JOIN (SELECT r, t, l, count(*) AS c
       |             FROM j$r GROUP BY 1, 2, 3) cc
       |    ON cc.r = dr.r AND cc.t = dt.t AND cc.l = dl.l),
       |rsum$r AS (
       |  SELECT r, t, CAST(sum(c) AS BIGINT) AS rs
       |  FROM cell$r GROUP BY 1, 2),
       |pc$r AS (
       |  SELECT dt.t, CAST(coalesce(p.c, 0) AS BIGINT) AS pc
       |  FROM range(0, 4) dt(t)
       |  LEFT JOIN (SELECT t, count(*) AS c FROM cur${r - 1} GROUP BY 1) p
       |    ON p.t = dt.t),
       |vals$r AS (
       |  SELECT DISTINCT x FROM (
       |    SELECT c + 1 AS x FROM cell$r
       |    UNION SELECT rs + 4 FROM rsum$r
       |    UNION SELECT pc + 1 FROM pc$r
       |    UNION SELECT n + 4 FROM ntot)),
       |${pseudoLog2Sql(s"x$r", s"vals$r")},
       |w$r AS MATERIALIZED (
       |  SELECT c.r, c.t, c.l, lc.l - lr.l AS w
       |  FROM cell$r c
       |  JOIN rsum$r s ON s.r = c.r AND s.t = c.t
       |  JOIN lgx$r lc ON lc.x = c.c + 1
       |  JOIN lgx$r lr ON lr.x = s.rs + 4),
       |pw$r AS (
       |  SELECT p.t, lp.l - ln.l AS pw
       |  FROM pc$r p
       |  JOIN lgx$r lp ON lp.x = p.pc + 1
       |  CROSS JOIN ntot
       |  JOIN lgx$r ln ON ln.x = ntot.n + 4),
       |sc$r AS (
       |  SELECT g.it, w.t, CAST(min(pw.pw) + sum(w.w) AS BIGINT) AS s
       |  FROM ratings g
       |  JOIN w$r w ON w.r = g.r AND w.l = g.l
       |  JOIN pw$r pw ON pw.t = w.t
       |  GROUP BY 1, 2),
       |scx$r AS MATERIALIZED (
       |  SELECT it, t, s, row_number() OVER (PARTITION BY it
       |      ORDER BY s DESC, t) AS rn
       |  FROM sc$r),
       |cur$r AS MATERIALIZED (
       |  SELECT it, t FROM scx$r WHERE rn = 1)""".stripMargin

  /** Value of the first 8 hex digits of md5 expression `h` — DuckDB
    * replay of Spark's `conv(substring(md5(x), 1, 8), 16, 10)`; the 2³²
    * bucket domain [[graft.ops.DataSelect.stratifiedSample]] draws from.
    */
  private def hex8Sql(h: String): String =
    (1 to 8).map(i =>
      s"${hexDigitSql(h, i)} * ${1L << (4 * (8 - i))}")
      .mkString("(", " + ", ")")

  /** DuckDB replay of [[graft.ops.ChatData.bradleyTerry]] over the
    * q_text_bradley_terry fixture: the comparison log once, then per MM
    * round k the t-term aggregate `s{k}`, the raw update `u{k}` (no-game
    * items keep their strength, zero-win items go to 0 — the op's pinned
    * boundary semantics), and the renormalization `w{k}` (Σw = K·10⁶) —
    * each the identical integer expression tree Spark runs.
    */
  private def btSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH games AS (
             |  SELECT
             |    CASE WHEN a.n_chars > b.n_chars
             |           OR (a.n_chars = b.n_chars AND a.doc_id > b.doc_id)
             |         THEN a.source ELSE b.source END AS i,
             |    CASE WHEN a.n_chars > b.n_chars
             |           OR (a.n_chars = b.n_chars AND a.doc_id > b.doc_id)
             |         THEN b.source ELSE a.source END AS j
             |  FROM documents a JOIN documents b
             |    ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id
             |  WHERE a.source <> b.source),
             |d AS MATERIALIZED (
             |  SELECT i, j, CAST(count(*) AS BIGINT) AS g FROM (
             |    SELECT i, j FROM games UNION ALL SELECT j, i FROM games)
             |  GROUP BY 1, 2),
             |ng AS (SELECT i AS item, CAST(sum(g) AS BIGINT) AS n_games
             |       FROM d GROUP BY 1),
             |wn AS (SELECT i AS item, CAST(count(*) AS BIGINT) AS n_wins
             |       FROM games GROUP BY 1),
             |items AS MATERIALIZED (
             |  SELECT ng.item, n_games,
             |    CAST(coalesce(n_wins, 0) AS BIGINT) AS n_wins
             |  FROM ng LEFT JOIN wn USING (item)),
             |w0 AS (SELECT item, CAST(1000000 AS BIGINT) AS w FROM items),
             |""".stripMargin
    for (k <- 1 to iters) {
      sb ++= s"""s$k AS (
               |  SELECT d.i AS item,
               |    CAST(sum(CASE WHEN wi.w + wj.w > 0
               |      THEN g * 1000000000000 // (wi.w + wj.w)
               |      ELSE 0 END) AS BIGINT) AS s
               |  FROM d JOIN w${k - 1} wi ON d.i = wi.item
               |         JOIN w${k - 1} wj ON d.j = wj.item
               |  GROUP BY 1),
               |u$k AS (
               |  SELECT it.item,
               |    CASE WHEN s.s IS NULL OR s.s <= 0 THEN wp.w
               |         ELSE it.n_wins * 1000000000000 // s.s END AS u
               |  FROM items it LEFT JOIN s$k s ON it.item = s.item
               |       JOIN w${k - 1} wp ON it.item = wp.item),
               |w$k AS MATERIALIZED (
               |  SELECT item,
               |    CAST(u * ((SELECT count(*) FROM items) * 1000000)
               |      // (SELECT sum(u) FROM u$k) AS BIGINT) AS w
               |  FROM u$k),
               |""".stripMargin
    }
    sb.setLength(sb.length - 2) // drop the trailing ",\n"
    sb ++= s"""
             |SELECT w.item, w.w AS strength_micro,
             |  CAST(row_number() OVER (ORDER BY w.w DESC, w.item) AS BIGINT)
             |    AS rank,
             |  n_wins, n_games
             |FROM w$iters w JOIN items USING (item)
             |ORDER BY rank""".stripMargin
    sb.toString
  }

  /** Value of the first 12 hex digits of md5 expression `h` — DuckDB
    * replay of the 48-bit rendezvous weight in
    * [[graft.ops.DataSelect.rendezvousShard]].
    */
  private def hex12Sql(h: String): String =
    (1 to 12).map(i =>
      s"${hexDigitSql(h, i)} * ${1L << (4 * (12 - i))}")
      .mkString("(", " + ", ")")

  /** DuckDB replay of [[graft.ops.Sketches.cmsBucket]]: first 6 hex digits
    * of md5("cms:row:tok") mod 1024.
    */
  /** DuckDB replay of [[graft.ops.DataSelect.logisticTrace]]: the feature
    * table once, then per iteration k a gradient CTE `g{k}` (per-doc
    * contributions quantized to integer micro-units BEFORE the sum — the
    * same order-free reduction Spark does), a weight-update CTE `w{k}`
    * (identical expression tree), and an accuracy CTE `c{k}` (`z ≥ 0`,
    * transcendental-free). The final SELECT unions the training trace.
    */
  private def lrTrainSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH m AS (
              |  SELECT
              |    len(list_filter(regexp_split_to_array(text, '\\s+'),
              |      x -> x <> ''))::BIGINT AS n_words,
              |    len(list_filter(string_split(text, chr(10)),
              |      x -> x <> ''))::BIGINT AS n_lines,
              |    len(list_filter(regexp_split_to_array(text, '\\s+'),
              |      w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS n_alpha_words,
              |    len(list_filter(regexp_split_to_array(text, '\\s+'),
              |      w -> w IN ('the','a','of','and','is')))::BIGINT AS n_stopwords,
              |    (len(regexp_extract_all(text, '#'))
              |      + len(regexp_extract_all(text, '\\.\\.\\.')))::BIGINT AS n_symbols,
              |    len(list_filter(string_split(text, chr(10)),
              |      l -> regexp_matches(l, '^[-*]')))::BIGINT AS n_bullet_lines,
              |    len(list_filter(string_split(text, chr(10)),
              |      l -> regexp_matches(l, '\\.\\.\\.${"$"}')))::BIGINT AS n_ellipsis_lines,
              |    length(regexp_replace(text, '\\s', '', 'g'))::BIGINT AS chars_no_ws
              |  FROM documents),
              |f AS MATERIALIZED (
              |  SELECT CASE WHEN
              |      (n_words >= 50 AND n_words <= 100000)
              |      AND (chars_no_ws >= n_words*3 AND chars_no_ws <= n_words*10)
              |      AND (n_symbols*10 <= n_words)
              |      AND (n_alpha_words*10 >= n_words*8)
              |      AND (n_stopwords >= 2)
              |      AND (n_bullet_lines*10 <= n_lines*9)
              |      AND (n_ellipsis_lines*10 <= n_lines*3)
              |    THEN 1.0 ELSE 0.0 END AS y,
              |    least(n_words::DOUBLE / 100.0, 1.0) AS x1,
              |    n_stopwords::DOUBLE / n_words AS x2,
              |    least((chars_no_ws::DOUBLE / n_words) / 10.0, 1.0) AS x3
              |  FROM m WHERE n_words >= 1),
              |w0 AS (SELECT 0.0::DOUBLE AS wb, 0.0::DOUBLE AS wt,
              |  0.0::DOUBLE AS wo, 0.0::DOUBLE AS wl)""".stripMargin
    for (k <- 1 to iters) {
      val p = k - 1
      val z = "(wb + wt*x1 + wo*x2 + wl*x3)"
      val diff = s"((1.0/(1.0 + exp(-$z))) - y)"
      def grad(x: String) =
        s"CAST(sum(CAST(floor(($diff * $x) * 1000000.0) AS BIGINT)) AS BIGINT)"
      sb ++= s""",
                |g$k AS (SELECT count(*) AS n,
                |  CAST(sum(CAST(floor($diff * 1000000.0) AS BIGINT)) AS BIGINT) AS gb,
                |  ${grad("x1")} AS gt,
                |  ${grad("x2")} AS go,
                |  ${grad("x3")} AS gl
                |  FROM f, w$p),
                |w$k AS (SELECT
                |  wb - 4.0 * (gb::DOUBLE / (n * 1000000.0)) AS wb,
                |  wt - 4.0 * (gt::DOUBLE / (n * 1000000.0)) AS wt,
                |  wo - 4.0 * (go::DOUBLE / (n * 1000000.0)) AS wo,
                |  wl - 4.0 * (gl::DOUBLE / (n * 1000000.0)) AS wl
                |  FROM w$p, g$k),
                |c$k AS (SELECT count(*) AS nc FROM f, w$k
                |  WHERE ((wb + wt*x1 + wo*x2 + wl*x3) >= 0.0) = (y = 1.0))""".stripMargin
    }
    sb ++= "\n" + (1 to iters).map { k =>
      s"""SELECT CAST($k AS INTEGER) AS step,
         |  CAST(floor(wb * 1000000.0) AS BIGINT) AS w0_q,
         |  CAST(floor(wt * 1000000.0) AS BIGINT) AS w1_q,
         |  CAST(floor(wo * 1000000.0) AS BIGINT) AS w2_q,
         |  CAST(floor(wl * 1000000.0) AS BIGINT) AS w3_q,
         |  nc AS n_correct FROM w$k, c$k""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY step")
    sb.toString
  }

  /** DuckDB replay of [[graft.ops.DataSelect.dsirBucket]]: first 6 hex
    * digits of md5("dsir:" + gram) mod 256.
    */
  private def dsirBucketSql(gram: String): String = {
    val h = s"md5('dsir:' || $gram)"
    s"((${hexDigitSql(h, 1)} * 1048576 + ${hexDigitSql(h, 2)} * 65536 + " +
      s"${hexDigitSql(h, 3)} * 4096 + ${hexDigitSql(h, 4)} * 256 + " +
      s"${hexDigitSql(h, 5)} * 16 + ${hexDigitSql(h, 6)}) % 256)"
  }

  private def cmsBucketSql(tok: String, row: String): String = {
    val h = s"md5('cms:' || $row || ':' || $tok)"
    s"((${hexDigitSql(h, 1)} * 1048576 + ${hexDigitSql(h, 2)} * 65536 + " +
      s"${hexDigitSql(h, 3)} * 4096 + ${hexDigitSql(h, 4)} * 256 + " +
      s"${hexDigitSql(h, 5)} * 16 + ${hexDigitSql(h, 6)}) % 1024)"
  }

  /** CASE-resolution note: the `greatest` tie-break order must match Spark's
    * `greatest(struct(d, lang))` which compares (density, lang) pairs — on a
    * density tie the lexicographically LARGEST lang wins. The DuckDB CASE
    * checks langs in reverse-alphabetical order to replicate that.
    */
  private def langDensitySql: String =
    graft.ops.TextAnalysis.langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      val inList = ms.map(m => s"'${m}'").mkString(", ")
      s"len(list_filter(toks, x -> x IN ($inList)))::DOUBLE / len(toks) AS d_$lang"
    }.mkString(",\n    ")
}
