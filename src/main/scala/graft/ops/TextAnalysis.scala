package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token stats,
  * quality scoring, language-ID heuristic, content fingerprints. All are
  * pure `org.apache.spark.sql.functions` compositions (codegen'd, no UDFs),
  * so they scale as narrow projections — no shuffle, full pushdown.
  */
object TextAnalysis {

  /** Non-empty whitespace tokens. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / size(tokens(text))

  /** Mean token length (chars excluding separators / token count). */
  def avgTokenLength(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") / size(tokens(text))

  /** BPE-ish subword count: letter runs, digit runs, single symbols. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Heuristic quality score in [0,1]: rewards length (→100 tokens),
    * vocabulary diversity, and word shape (→8-char mean). Deterministic
    * arithmetic only, so it can be oracle-checked.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 100.0, lit(1.0))
    val divScore = distinctTokenRatio(text)
    val shapeScore = least(avgTokenLength(text) / 8.0, lit(1.0))
    lenScore * 0.4 + divScore * 0.3 + shapeScore * 0.3
  }

  /** Stopword-marker language ID: relative frequency of per-language marker
    * tokens; highest marker density wins, 'und' (undetermined) when no
    * marker clears 1%. N-gram-free variant suited to whitespace languages.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "不")
  )

  /** Language ID from a PRE-MATERIALIZED token array column. `toks` must be
    * a bound attribute (`.withColumn("_toks", tokens(col("text")))`), not an
    * inline expression: HOF lambdas re-evaluate their closed-over input per
    * element when interpreted (the Dedup.shingles trap — 10× on this query).
    */
  def langIdFromTokens(toks: Column): Column = {
    val densities = langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      lang -> size(filter(toks, t => ms.map(m => t === m).reduce(_ || _)))
        .cast("double") / size(toks)
    }
    val best = densities.map { case (lang, d) =>
      struct(d.as("d"), lit(lang).as("lang"))
    }
    val top = greatest(best: _*)
    when(top.getField("d") >= 0.01, top.getField("lang")).otherwise(lit("und"))
  }

  /** (doc_id, gram, c): per-document n-gram occurrence counts, NOT
    * deduplicated (unlike [[Dedup.shingles]], which distincts per doc —
    * repetition analysis needs the multiplicities).
    */
  def ngramCounts(docs: DataFrame, n: Int): DataFrame = {
    val t = col("_toks")
    graft.util.Partitioning.fanOut(docs)
      .withColumn("_toks", tokens(col("text")))
      .filter(size(t) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(t) - n), i =>
          concat_ws(" ", (0 until n).map(k => element_at(t, i + k + 1)): _*)))
          .as("gram"))
      .groupBy("doc_id", "gram")
      .agg(count(lit(1)).as("c"))
  }

  /** Gopher-style within-document repetition metrics on n-grams:
    * `dup_frac` = fraction of n-gram occurrences that are repeats of an
    * n-gram already seen in the doc; `top_frac` = fraction taken by the
    * single most frequent n-gram. Boilerplate- and loop-generated text
    * scores high on both; the standard cut drops docs above a threshold.
    *
    * Two hash aggregations with map-side partials (doc×gram, then doc) —
    * no joins, no skew risk beyond a single pathological document, which
    * partial aggregation absorbs. Scales linearly.
    */
  def repetition(docs: DataFrame, n: Int = 2): DataFrame =
    ngramCounts(docs, n)
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_ngrams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_ngrams"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"))
          .as("dup_frac"),
        (col("top_c").cast("double") / col("n_ngrams")).as("top_frac"))

  /** Per-document coverage by the corpus's `k` most frequent tokens
    * (ties broken lexicographically, so the top list is deterministic
    * and engine-replayable). High coverage = low-information text.
    *
    * The token-frequency aggregate is vocabulary-sized, orders of
    * magnitude smaller than the corpus; the k-row top list is broadcast
    * back, so the per-doc pass is one map-side-combined aggregation over
    * the token stream — no corpus-sized shuffle beyond the groupBy.
    * The row_number window runs on the aggregated vocabulary, not the
    * corpus (single-partition, but over vocab-count rows only).
    */
  def topTokenCoverage(docs: DataFrame, k: Int = 10): DataFrame = {
    val toks = graft.util.Partitioning.fanOut(docs)
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), explode(col("_toks")).as("tok"))
    // sort+limit plans as TakeOrderedAndProject — per-partition partial
    // top-k merged once, vs a WindowExec that would drag the whole
    // vocabulary through one partition
    val top = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok"))
      .limit(k)
      .select(col("tok"), lit(1).as("_hit"))
    toks.join(broadcast(top), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_top"))
      .withColumn("coverage",
        col("n_top").cast("double") / col("n_tokens"))
  }

  /** Context-window chunking: split each document's token stream into
    * windows of `size` tokens advancing by `size - overlap` — the
    * standard preprocessing step before embedding or training-sequence
    * construction. Pure projection (explode of a per-row computed array):
    * no shuffle, scales linearly.
    *
    * Chunk starts are 0, step, 2·step … < n_tokens; the final chunk may
    * be shorter than `size`.
    */
  def chunk(docs: DataFrame, size: Int, overlap: Int = 0): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val step = size - overlap
    val t = col("_toks")
    graft.util.Partitioning.fanOut(docs)
      .withColumn("_toks", tokens(col("text")))
      .filter(size_(t) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size_(t) - 1, lit(step)),
          s => concat_ws(" ", slice(t, s + 1, lit(size))))))
      .withColumnRenamed("pos", "chunk_id")
      .withColumnRenamed("col", "chunk")
      .withColumn("n_chunk_tokens", size_(split(col("chunk"), " ")))
  }

  // functions.size shadowed by the Int parameter name above
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** Sequence packing: assign documents to fixed-capacity token bins by
    * the running token count, independently per `source` partition — the
    * batch formulation of training-sequence packing. A document lands in
    * the bin where its first token falls in the source's contiguous
    * token stream (deterministic: doc_id order).
    *
    * The cumulative sum is a window per source — each source's stream
    * packs in parallel; a global single-stream pack would serialize the
    * corpus and is exactly what NOT to do at 100 TB. Emits per-doc bin
    * assignment; aggregate downstream for bin fill stats.
    */
  def pack(docs: DataFrame, binTokens: Long): DataFrame = {
    require(binTokens > 0, s"binTokens must be positive, got $binTokens")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", tokenCount(col("text")).cast("long"))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        // DIV: exact integer division (long / long promotes to double and
        // wobbles past 2^53 — the ts_ns lesson)
        expr(s"(_cum - n_tokens) DIV $binTokens").as("bin_id"))
  }

  /** Quality-greedy per-source token budgeting — the "data recipe"
    * selector: given a per-source token budget table, keep each source's
    * highest-quality docs until the running token count would exceed its
    * budget (greedy prefix on (quality desc, doc_id) — deterministic).
    * The cumulative sum windows PER SOURCE (the `pack` argument: strata
    * fill in parallel, no global stream); the budget table is
    * sources-sized and broadcast. Returns the selected docs with their
    * rank metrics; aggregate downstream for recipe totals.
    *
    * In: docs `(doc_id, source, text)`; budgets `(source, budget_tokens)`.
    */
  def tokenBudget(docs: DataFrame, budgets: DataFrame): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("quality_bp").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("quality_bp",
        floor(qualityScore(col("text")) * 10000).cast("long"))
      .withColumn("n_tokens", tokenCount(col("text")).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .join(broadcast(budgets), Seq("source"))
      .filter(col("cum_tokens") <= col("budget_tokens"))
      .select("doc_id", "source", "quality_bp", "n_tokens", "cum_tokens")
  }

  /** 64-bit-ish polynomial content fingerprint over characters
    * (acc*31 + codepoint, mod 1e9+7) — the batch analog of a rolling hash,
    * reproducible in any engine.
    */
  def fingerprint(text: Column): Column = {
    val chars = filter(split(text, ""), c => c =!= "")
    aggregate(
      transform(chars, c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31L + c) % 1000000007L
    )
  }

  /** Simpson diversity of the token distribution: 1 − Σ pᵢ² where pᵢ is
    * token i's frequency share. Distinct-token RATIO counts each type
    * once; this weights by mass, so "a a a a b" scores low diversity
    * even though half its types are unique — the signal that flags
    * keyword-stuffed or loop-generated text that sneaks past type
    * counts. Σ c² stays integer (one aggregation) and the final value is
    * one exact division: 1 − Σc²/n² — engine-replayable bit-for-bit,
    * unlike a Shannon entropy whose `log` is libm-specific.
    */
  def simpsonDiversity(docs: DataFrame): DataFrame =
    graft.util.Partitioning.fanOut(docs)
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), explode(col("_toks")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("sum_c2"))
      .select(col("doc_id"), col("n"), col("sum_c2"),
        (lit(1.0) - col("sum_c2").cast("double") / (col("n") * col("n")))
          .as("diversity"))

  /** Chao1 vocabulary-richness estimate (Chao 1984, bias-corrected
    * form) — "how big is the vocabulary this corpus SAMPLES", the
    * tokenizer-sizing / corpus-coverage readout (observed vocabulary
    * undercounts; singletons and doubletons estimate the unseen tail):
    *
    *   Chao1 = V + f₁(f₁−1) / (2(f₂+1))
    *
    * (V observed types, f₁ once-seen, f₂ twice-seen). Shipped as
    * `chao1_x100` = 100·V + (100·f₁(f₁−1)) div (2(f₂+1)) — exact
    * integer arithmetic any engine replays (f₁² exits BIGINT at
    * f₁ ≈ 3·10⁸ types — web-corpus vocabulary is ~10⁸; past that the
    * one expression lifts to DECIMAL like collocations).
    *
    * Shape: one token count (map-side combinable) then one single-row
    * aggregate — no joins, no windows; model state is one row.
    *
    * Out: one row `(n_tokens, vocab, f1, f2, chao1_x100)`.
    */
  def chao1(docs: DataFrame): DataFrame =
    graft.util.Partitioning.fanOut(docs)
      .withColumn("_toks", tokens(col("text")))
      .select(explode(col("_toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1_x100",
        expr("100 * vocab + (100 * f1 * (f1 - 1)) div (2 * (f2 + 1))"))

  /** Flesch–Kincaid readability per document — the classic
    * grade-level/reading-ease pair every text-quality gate reports next
    * to the Gopher rules (a corpus skewed to grade-16 legalese or
    * grade-2 listicles is a mixing problem the length gates cannot
    * see). Heuristic syllables: vowel-GROUP count `[aeiouy]+` per
    * lowercased token, min 1 per word — the standard dictionary-free
    * approximation; sentences: terminal-punctuation runs `[.!?]+`,
    * min 1 per doc.
    *
    * Milli-point integer forms (truncating division, replayable on any
    * engine — no IEEE arithmetic):
    *
    *   fk_grade_x1000 = 390·W div S + 11800·Y div W − 15590
    *   fre_x1000      = 206835 − 1015·W div S − 84600·Y div W
    *
    * (W words, S sentences, Y syllables; 0.39/11.8/15.59 and
    * 206.835/1.015/84.6 are the published FK/FRE coefficients ×1000).
    * Tokenless docs get NULL scores, not a fake grade.
    *
    * Shape: pure per-row projection (two regexp scans + one HOF fold) —
    * whole-stage codegen, no shuffle, corpus-linear at any scale.
    *
    * Out: (idCol, n_words, n_sentences, n_syllables, fk_grade_x1000,
    * fre_x1000).
    */
  def readability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("n_words", size(col("_toks")).cast("long"))
      .withColumn("n_sentences",
        greatest(lit(1L),
          size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
            .cast("long")))
      .withColumn("n_syllables",
        aggregate(col("_toks"), lit(0L), (acc, t) =>
          acc + greatest(lit(1L),
            size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
              .cast("long"))))
      .withColumn("fk_grade_x1000", expr(
        "if(n_words > 0, 390L * n_words div n_sentences " +
          "+ 11800L * n_syllables div n_words - 15590L, null)"))
      .withColumn("fre_x1000", expr(
        "if(n_words > 0, 206835L - 1015L * n_words div n_sentences " +
          "- 84600L * n_syllables div n_words, null)"))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("fk_grade_x1000"), col("fre_x1000"))

  /** ROUGE-N (Lin 2004) between candidate and reference token arrays —
    * the n-gram companion to [[rougeL]] (ROUGE-2 is the other number
    * summarization/eval reports): clipped n-gram overlap,
    *
    *   overlap = Σ_g min(cnt_cand(g), cnt_ref(g))
    *   r_bp = overlap·10⁴ div Σ cnt_ref,  p_bp = overlap·10⁴ div Σ cnt_cand
    *
    * with the same bp F1 as rougeL. Exact integers throughout.
    *
    * Shape: the two sides explode to (id, gram) COUNTS (corpus-linear,
    * map-side combinable), meet in one equi-join on (id, gram) — never a
    * per-row quadratic scan — and fold back to one row per pair. Pairs
    * with an empty side get 0-valued bp ratios (nothing to overlap), not
    * dropped rows.
    *
    * In: one row per pair `(idCol, cand_toks, ref_toks)`.
    * Out: (idCol, n_grams_cand, n_grams_ref, n_overlap, rougen_p_bp,
    * rougen_r_bp, rougen_f_bp).
    */
  def rougeN(pairs: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram order must be positive: $n")
    // space-joined grams (tokens are space-split, so no collisions —
    // the [[bleu]] gramsOf convention); sequence(1,0) would generate
    // DESCENDING [1,0], so short arrays take the explicit empty branch
    def grams(c: Column): Column =
      when(size(c) >= n,
        transform(sequence(lit(1), size(c) - (n - 1)),
          i => array_join(slice(c, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    // r9 restructure (the [[bleu]] melt): one (pair, side, gram) stream
    // + one aggregation with conditional per-side sums replaces the two
    // per-side aggregations + full-outer join. explode_outer keeps
    // zero-gram docs as a null-gram row per side; groupBy merges the
    // two sides' null rows into one group whose guarded sums are 0 —
    // the same zeros the old full outer (where null keys never match)
    // fed the final rollup. (In the OLD form the null-gram rows of the
    // two sides stayed as two separate rows with the other side's
    // count null→0 — same contribution.)
    val occ = pairs.select(col(idCol).as("_id"), explode(array(
        struct(lit(1L).as("_s"), col("cand_toks").as("_t")),
        struct(lit(0L).as("_s"), col("ref_toks").as("_t")))).as("_x"))
      // _t materialized as a plain column BEFORE the gram HOF reads it
      // (the documented lambda-closure re-evaluation trap)
      .select(col("_id"), col("_x._s").as("_s"), col("_x._t").as("_t"))
      .select(col("_id"), col("_s"),
        explode_outer(grams(col("_t"))).as("_g"))
    occ.groupBy("_id", "_g")
      .agg(
        sum(when(col("_g").isNotNull, col("_s")).otherwise(0L)).as("_cc"),
        sum(when(col("_g").isNotNull, lit(1L) - col("_s")).otherwise(0L))
          .as("_rc"))
      .groupBy(col("_id"))
      .agg(
        sum(col("_cc")).as("n_grams_cand"),
        sum(col("_rc")).as("n_grams_ref"),
        sum(least(col("_cc"), col("_rc"))).as("n_overlap"))
      .withColumn("rougen_p_bp",
        expr("if(n_grams_cand > 0, n_overlap * 10000 div n_grams_cand, 0L)"))
      .withColumn("rougen_r_bp",
        expr("if(n_grams_ref > 0, n_overlap * 10000 div n_grams_ref, 0L)"))
      .withColumn("rougen_f_bp",
        expr("if(rougen_p_bp + rougen_r_bp > 0, " +
          "2 * rougen_p_bp * rougen_r_bp div (rougen_p_bp + rougen_r_bp), " +
          "0L)"))
      .select(col("_id").as(idCol), col("n_grams_cand"), col("n_grams_ref"),
        col("n_overlap"), col("rougen_p_bp"), col("rougen_r_bp"),
        col("rougen_f_bp"))
  }

  /** TF-IDF keyword extraction: the `k` highest-scoring terms per
    * document, score = tf × (N / df) with raw inverse document frequency
    * (no log — the ranking is identical and the arithmetic stays one
    * exact integer product plus one IEEE division, so any SQL engine
    * replays it bit-for-bit; a log-scaled idf differs across libm
    * implementations in the last ulp).
    *
    * Scale shape: term frequencies are one doc×term aggregation with
    * map-side partials; document frequencies aggregate THAT result down
    * to vocabulary size (orders of magnitude smaller than the corpus);
    * the df table joins back on the term key — an equi-join Spark
    * shuffles on `tok`, or broadcasts when the vocabulary fits. The
    * per-doc top-k window partitions by doc_id (corpus-parallel, never
    * a global sort). Ties are deterministic: score desc, term asc.
    */
  def tfidf(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = graft.util.Partitioning.fanOut(docs)
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), explode(col("_toks")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df_, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("tok"))))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok").as("term"),
        col("tf"), col("df"), col("score"))
  }

  /** N-gram LM coverage scoring — the engine-replayable core of a
    * CCNet-style language-model quality filter: how much of a document's
    * n-gram mass is "known" to a model trained on the corpus itself
    * (corpus frequency ≥ `minCount`). Low coverage = improbable text
    * under the corpus LM (gibberish, OCR noise, wrong language); the
    * standard pipeline drops or down-weights low scorers. A true
    * perplexity would multiply probabilities through `log` — whose last-
    * ulp behavior differs per libm — so the score is kept as exact
    * integer mass ratios that any engine reproduces bit-for-bit.
    *
    * Scale shape: per-doc n-gram counts (one corpus aggregation with
    * map-side partials), an n-gram-vocabulary-sized model table
    * aggregated from it, and one equi-join back on the gram key.
    * Nothing touches the driver; the model table IS the trained model,
    * reusable across scoring runs.
    */
  def lmCoverage(docs: DataFrame, n: Int = 2, minCount: Long = 3L): DataFrame = {
    val grams = ngramCounts(docs, n)
    val model = grams.groupBy("gram")
      .agg(sum(col("c")).as("corpus_c"))
      .filter(col("corpus_c") >= minCount)
      .select(col("gram"), lit(1).as("_known"))
    grams.join(model, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_ngrams"),
        sum(when(col("_known").isNotNull, col("c")).otherwise(0L))
          .as("n_known"))
      .withColumn("known_frac",
        col("n_known").cast("double") / col("n_ngrams"))
  }

  /** Collocation mining: adjacent token pairs that co-occur far more
    * often than their parts' frequencies predict — the multi-word-
    * expression signal ("new york", "machine learning") used for
    * tokenizer vocabulary curation and phrase-aware chunking. The
    * association score is the T-normalized lift
    *
    *   lift(a,b) = n_ab · T / (n_a · n_b)
    *
    * (n_ab = corpus count of the bigram, n_a/n_b = corpus counts of each
    * token AS a bigram member, T = total bigram events) — the PMI
    * exponential up to a corpus constant, so the RANKING matches PMI
    * while staying in exact integer arithmetic: the score ships as
    * `lift_e4 = ⌊10000 · n_ab · T / (n_a · n_b)⌋`, replayable
    * bit-for-bit by any engine (PMI proper would take a log — libm-
    * specific last-ulp, the same reason tfidf/BM25 here stay rational).
    *
    * Scale shape: one bigram aggregation with map-side partials (the
    * gram table is vocabulary², corpus-size-independent), two marginal
    * aggregations over it, and equi-joins on the token key. Overflow:
    * the score runs in DECIMAL(38,0) — exact to 10³⁸, so a trillion-
    * bigram corpus (10⁴·n_ab·T ≈ 10²⁸) stays exact where BIGINT
    * arithmetic would wrap at n_ab·T ≈ 9.2e14. The OUTPUT stays BIGINT:
    * lift_e4 ≤ 10⁴·T (n_ab ≤ min(n_a, n_b)), inside Int64 to T ≈ 10¹⁴.
    */
  def collocations(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    val bi = graft.util.AutoUnpersist.persistScoped(
      ngramCounts(docs, 2).groupBy("gram").agg(sum(col("c")).as("n_ab"))
        .select(split(col("gram"), " ").as("_uv"), col("n_ab"))
        .select(element_at(col("_uv"), 1).as("a"),
          element_at(col("_uv"), 2).as("b"), col("n_ab")))
    val left = bi.groupBy("a").agg(sum(col("n_ab")).as("n_a"))
    val right = bi.groupBy("b").agg(sum(col("n_ab")).as("n_b"))
    val total = bi.agg(sum(col("n_ab")).as("t_bigrams"))
    bi.filter(col("n_ab") >= minCount)
      .join(left, "a")
      .join(right, "b")
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        liftE4(col("n_ab"), col("n_a"), col("n_b"), col("t_bigrams"))
          .as("lift_e4"))
  }

  /** `⌊10⁴·n_ab·T / (n_a·n_b)⌋` in DECIMAL(38,0) — exact past the
    * BIGINT wrap at n_ab·T ≈ 9.2e14 (identical values below it; the
    * spec pins both regions). Output BIGINT.
    */
  def liftE4(nAb: Column, nA: Column, nB: Column, t: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftShim.expression(lit(10000).cast("decimal(38,0)") * nAb * t),
        GraftShim.expression(nA.cast("decimal(38,0)") * nB)))
      .cast("long")
  }

  /** Weighted systematic sampling: pick ~`n` documents per `source`
    * stratum with probability proportional to `weightCol` (an integer
    * column), deterministically. Each stratum lays its documents on a
    * cumulative-weight line in doc_id order; a document is selected iff
    * its weight span crosses a multiple of (stratum total / n) — the
    * classic systematic PPS design, reduced to exact integer arithmetic
    * (`floor(cum·n / W)` transitions) that a SQL oracle replays
    * bit-for-bit. Heavier documents are proportionally likelier to
    * straddle a boundary; documents heavier than one stride are always
    * selected (count 1 — no multiplicity).
    *
    * Scale shape: one cumulative-sum window per source stratum — strata
    * sample in parallel and a 100 TB corpus has many sources; the
    * stratum totals are a broadcast-sized aggregate joined back on
    * `source`. No global ordering anywhere.
    */
  def weightedSample(docs: DataFrame, n: Int, weightCol: String = "n_chars"): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = docs.groupBy("source")
      .agg(sum(col(weightCol)).as("_total"))
    docs
      .withColumn("_cum", sum(col(weightCol)).over(w))
      .join(broadcast(totals), "source")
      // selected iff floor(cum*n/W) > floor((cum-w)*n/W): the span
      // (cum-w, cum] contains a stride boundary. Exact BIGINT products —
      // cum ≤ stratum weight, so cum·n stays far under 2^63 for any
      // realistic stratum (overflow needs cum·n > 9e18).
      .filter(expr(s"(_cum * $n) DIV _total") >
        expr(s"((_cum - $weightCol) * $n) DIV _total"))
      .select(col("doc_id"), col("source"), col(weightCol).as("weight"),
        col("_cum").as("cum_weight"))
  }

  /** BPE vocabulary training as distributed aggregations.
    *
    * The classic corpus-side tokenizer-training loop: start from the
    * word-frequency table with words split into character symbols; each
    * round counts adjacent symbol pairs (weighted by word frequency, one
    * map-side-combined aggregation over the vocabulary — NOT the corpus),
    * picks the most frequent pair (ties: lexicographically smallest), and
    * merges it everywhere. Returns the merge table (step, left, right,
    * merged, pair_count) — the artifact a tokenizer ships.
    *
    * Scale shape: the corpus is touched ONCE (word-frequency groupBy);
    * every round after that works on the vocabulary table, which is
    * orders of magnitude smaller. Only the single best (pair, count) row
    * is collected per round, and training stops at the first round that
    * finds no pair left.
    *
    * Merge semantics: symbols live space-separated with sentinel spaces
    * at both ends; a round applies TWO sentinel-bounded `replace` passes,
    * so pairs that become adjacent because their left neighbour merged in
    * the same pass are caught (canonical greedy BPE for runs up to
    * length 4; longer same-pair runs defer to the next round — a
    * deterministic, engine-replayable approximation, and the identical
    * `replace` left-to-right non-overlapping semantics is what lets a
    * SQL engine replay training bit-for-bit).
    *
    * Symbols must not contain spaces (true for whitespace tokenization by
    * construction).
    */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // word-frequency table, symbolized: "abc" -> "a b c"
    val words0 = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(trim(regexp_replace(col("tok"), "(.)", "$1 ")).as("w"), col("freq"))
      .localCheckpoint(true)
    // the most frequent adjacent pair of a symbolized table, if any
    def bestPair(words: DataFrame): Option[(String, Long)] = {
      val s = col("_s")
      words
        .withColumn("_s", split(col("w"), " "))
        .filter(size(s) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(s) - 2), i =>
            concat_ws(" ", element_at(s, i + 1), element_at(s, i + 2)))
        ).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("n"))
        .orderBy(desc("n"), asc("pair"))
        .limit(1).collect()
        .headOption.map(r => (r.getString(0), r.getLong(1)))
    }
    val merges =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    // the pair the next round merges: found on the round before it, so
    // training settles as soon as no pair is left, or the budget is spent
    var next = if (nMerges >= 1) bestPair(words0) else None
    if (next.nonEmpty)
      graft.util.Loop.until("bpeTrain", words0, nMerges) { (words, step) =>
        val (pair, n) = next.get
        val Array(l, r) = pair.split(" ", 2)
        val merged = l + r
        merges += ((step, l, r, merged, n))
        // literal (non-regex) replace — same left-to-right non-overlapping
        // semantics as SQL replace(), which is what the oracle replays
        def once(c: Column) =
          litReplace(c, " " + pair + " ", " " + merged + " ")
        words.withColumn("w",
          trim(once(once(concat(lit(" "), col("w"), lit(" "))))))
      } { words =>
        next = if (merges.length == nMerges) None else bestPair(words)
        next.isEmpty
      }
    merges.toSeq.toDF("step", "left", "right", "merged", "pair_count")
  }

  /** Literal (non-regex) replace with SQL `replace()` left-to-right
    * non-overlapping semantics — the engine-replayable primitive both
    * BPE sides build on.
    */
  private def litReplace(c: Column, find: String, repl: String): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(
      org.apache.spark.sql.catalyst.expressions.StringReplace(
        GraftShim.expression(c),
        GraftShim.expression(lit(find)),
        GraftShim.expression(lit(repl))))
  }

  /** The ENCODE side of [[bpeTrain]]: apply an ordered merge list (the
    * shipped tokenizer artifact) to the corpus and return per-document
    * subword counts — the number a context-length packer or a cost model
    * actually needs.
    *
    * Scale shape — the key trick is that encoding is a function of the
    * WORD, not the occurrence: the merge chain (two sentinel-bounded
    * literal replaces per merge, identical semantics to the training
    * loop, so encode(word) ≡ the training vocabulary's final
    * symbolization) runs over the DISTINCT-token vocabulary table, and
    * the corpus pays only one equi-join on the token key plus a per-doc
    * count aggregation. A 100 TB corpus with a 10M-word vocabulary does
    * vocabulary × merges string work, not corpus × merges.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    // token stream feeds the vocab distinct AND the join — one pass
    val toks = graft.util.AutoUnpersist.persistScoped(
      graft.util.Partitioning.fanOut(docs)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok")))
    var w: Column = concat(lit(" "),
      trim(regexp_replace(col("tok"), "(.)", "$1 ")), lit(" "))
    merges.foreach { case (l, r) =>
      val pair = " " + l + " " + r + " "
      val merged = " " + l + r + " "
      w = litReplace(litReplace(w, pair, merged), pair, merged)
    }
    val encoded = toks.select("tok").distinct()
      .select(col("tok"), size(split(trim(w), " ")).as("_np"))
    toks.join(encoded, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("_np")).as("n_bpe_tokens"))
  }

  /** Tokenizer fertility audit: per-language chars-per-BPE-token and
    * BPE-tokens-per-word, the compression-parity report every multilingual
    * tokenizer decision reads (a language whose fertility runs 2× the
    * corpus mean pays 2× the context budget for the same content — the
    * standard argument for rebalancing merges or vocab).
    *
    * Shape: [[bpeEncode]]'s per-doc counts (vocab-sized merge work, one
    * corpus equi-join) + one narrow char-count projection, then a single
    * languages-sized groupBy — map-side combinable, one shuffle. Ratios
    * are BIGINT basis points via integer division (`x*10000 div y`), so
    * any engine replays them bit-for-bit.
    */
  def tokenizerFertility(
      docs: DataFrame, merges: Seq[(String, String)],
      langCol: String = "lang"
  ): DataFrame = {
    val enc = bpeEncode(docs, merges)
    val chars = docs
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), col(langCol).as("lang"),
        aggregate(col("_toks"), lit(0L),
          (a, t) => a + length(t).cast("long")).as("n_token_chars"))
    chars.join(enc, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"),
        sum("n_token_chars").as("n_token_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_token_chars"),
        expr("n_token_chars * 10000 div n_bpe_tokens")
          .as("chars_per_token_bp"),
        expr("n_bpe_tokens * 10000 div n_words").as("bpe_per_word_bp"))
  }

  /** Temperature-based stratum rebalancing — the multilingual-LM mixing
    * rule (sample share ∝ p^α with α = 1/2, the XLM-R / mT5 recipe):
    * majority strata downsample, minority strata upsample, and the total
    * document budget is preserved. Everything after the one square root
    * is EXACT integer arithmetic so any engine replays the same sample:
    * per-stratum weight s = ⌊√(n·10⁶)⌋ (√p up to the common normalizer —
    * IEEE-correctly-rounded in every engine), integer-divided into a
    * target count, and realized per doc as ⌊target/n⌋ guaranteed copies
    * plus one md5-keyed Bernoulli copy with probability (target mod n)/n
    * — deterministic in doc_id, never `rand()`, so a rerun of a 100 TB
    * mix job reproduces byte-identical output.
    *
    * Scale shape: two stratum-sized aggregates (map-side partial, ≤
    * |strata| rows), then one broadcast join back to the corpus — a
    * single shuffle-free pass over the data. Returns per-doc `copies`
    * (0 = dropped, ≥2 = upsampled epochs) with the stratum's `n_l` and
    * `target_docs`; explode a `sequence(1, copies)` downstream to
    * materialize the mixed corpus.
    */
  def temperatureMix(docs: DataFrame, strataCol: String = "lang"): DataFrame = {
    val stats = docs.groupBy(strataCol).agg(count(lit(1)).as("n_l"))
    val tot = stats.agg(sum("n_l").as("n_total"))
    val scaled = stats.withColumn("s_l",
      floor(sqrt(col("n_l").cast("double") * lit(1000000.0))).cast("long"))
    val norm = scaled.agg(sum("s_l").as("s_total"))
    val targets = scaled.crossJoin(broadcast(tot)).crossJoin(broadcast(norm))
      .withColumn("target_docs", expr("(s_l * n_total) div s_total"))
      .select(strataCol, "n_l", "target_docs")
    docs.join(broadcast(targets), Seq(strataCol))
      .withColumn("_u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long"))
      // fractional-remainder Bernoulli: accept iff u/2²⁴ < rem/n, kept
      // in integers as u·n < rem·2²⁴
      .withColumn("copies",
        expr("target_docs div n_l") +
          when(col("_u") * col("n_l") <
            expr("(target_docs % n_l)") * lit(16777216L), 1L).otherwise(0L))
      .drop("_u")
  }

  /** Curriculum bucketing: assign every doc an equal-size quality-ordered
    * bucket (0 = best) — the data-ordering primitive behind
    * quality-curriculum training schedules. Equivalent to a global
    * `(row_number − 1)·k div N` over (quality desc, doc_id), but computed
    * WITHOUT a global single-partition window: quality is floored to
    * basis points, so the rank decomposes into "docs with strictly
    * higher quality_bp" (a ≤10001-row cumulative table, broadcast back)
    * plus a tie-break row_number windowed BY quality value — partitions
    * are value-domain groups, so the corpus-sized window never
    * serializes onto one task. The bucket formula spreads remainder docs
    * evenly (unlike SQL ntile's front-loading), and ties break on doc_id
    * — fully deterministic, any engine replays it.
    */
  /** Per-group Zipf-law fit: the slope of log-frequency vs log-rank
    * over each group's vocabulary — natural language sits near −1
    * (Zipf 1949), and a corpus slice that doesn't is machine-generated,
    * templated, or mis-parsed, which makes the exponent a cheap
    * corpus-health signal per language/source. Both axes use the
    * fixed-point square-and-shift log2 ([[withPseudoLog2]]) and the fit
    * is the exact-integer OLS of [[TimeSeries.trend]] — slope_micro ≈
    * −10⁶·α, engine-replayable end to end. Work: one token count, one
    * per-group rank window (vocabulary-sized), one aggregation.
    */
  def zipfFit(docs: DataFrame, byCol: String = "lang"): DataFrame = {
    val vf = docs
      .select(col(byCol).as("grp"), explode(tokens(col("text"))).as("w"))
      .groupBy("grp", "w").agg(count(lit(1)).as("f"))
    val wnd = Window.partitionBy("grp").orderBy(desc("f"), col("w"))
    val ranked = vf.withColumn("r", row_number().over(wnd).cast("long"))
    val logged = withPseudoLog2(withPseudoLog2(ranked, "r", "x"), "f", "y")
    TimeSeries.trend(logged.select(col("grp"), col("x"), col("y")),
        "grp", "x", "y")
      .withColumnRenamed("grp", byCol)
      .withColumnRenamed("n", "n_vocab")
  }

  /** Cross-source quantile normalization (the Bolstad et al. 2003
    * microarray technique applied to corpus curation): every source's
    * quality-score distribution is mapped onto the POOLED distribution
    * by rank, so a threshold or mixing policy downstream compares
    * sources on one scale — source-specific score inflation (one crawl
    * scoring systematically high) stops distorting the mix.
    *
    * norm(doc) = pooled score at global rank 1 + ⌊(r−1)(N−1)/(n_s−1)⌋,
    * r the doc's rank within its source — integer arithmetic, ties by
    * doc_id, so both engines replay it bit-exactly. The global rank
    * uses the same value-domain decomposition as [[curriculum]]
    * (≤10001-row cumulative table + per-value tie window — no global
    * single-partition sort); the target lookup is then an EQUI-join on
    * rank, because every computed target position hits exactly one
    * pooled rank. Single-member sources map to the pooled median.
    *
    * Out: (doc_id, source, q_bp, r, n_s, norm_q_bp).
    */
  def quantileNormalize(docs: DataFrame, srcCol: String = "source"): DataFrame = {
    val q = graft.util.AutoUnpersist.persistScoped(
      docs.select(col("doc_id"), col(srcCol).as("source"),
        floor(qualityScore(col("text")) * 10000).cast("long").as("q_bp")))
    val ws = Window.partitionBy("source").orderBy("q_bp", "doc_id")
    val withR = q.withColumn("r", row_number().over(ws).cast("long"))
      .join(q.groupBy("source").agg(count(lit(1)).as("n_s")), "source")
    val dist = q.groupBy("q_bp").agg(count(lit(1)).as("n_q"))
    val below = Window.orderBy("q_bp")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = dist
      .withColumn("n_below", coalesce(sum("n_q").over(below), lit(0L)))
      .select("q_bp", "n_below")
    val tot = q.agg(count(lit(1)).as("n_total"))
    val pooled = q.join(broadcast(cum), "q_bp")
      .withColumn("_tie", row_number().over(
        Window.partitionBy("q_bp").orderBy("doc_id")).cast("long"))
      .select((col("n_below") + col("_tie")).as("grank"),
        col("q_bp").as("norm_q_bp"))
    withR.crossJoin(broadcast(tot))
      .withColumn("p",
        when(col("n_s") > 1,
          expr("1 + (r - 1) * (n_total - 1) div (n_s - 1)"))
          .otherwise(expr("1 + (n_total - 1) div 2")))
      .join(pooled, col("p") === col("grank"))
      .select("doc_id", "source", "q_bp", "r", "n_s", "norm_q_bp")
  }

  def curriculum(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets: $nBuckets")
    val q = docs.select(col("doc_id"),
      floor(qualityScore(col("text")) * 10000).cast("long").as("quality_bp"))
    val dist = q.groupBy("quality_bp").agg(count(lit(1)).as("n_q"))
    // cumulative count of strictly-better docs: a window over the
    // VALUE table (≤10001 rows) — single-partition is fine there
    val above = Window.orderBy(desc("quality_bp"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = dist
      .withColumn("n_above", coalesce(sum("n_q").over(above), lit(0L)))
      .select("quality_bp", "n_above")
    val tot = q.agg(count(lit(1)).as("n_total"))
    q.join(broadcast(cum), Seq("quality_bp"))
      .withColumn("_tie", row_number().over(
        Window.partitionBy("quality_bp").orderBy("doc_id")).cast("long"))
      .crossJoin(broadcast(tot))
      .withColumn("rank", col("n_above") + col("_tie"))
      .withColumn("bucket", expr(s"(rank - 1) * $nBuckets div n_total"))
      .select("doc_id", "quality_bp", "rank", "bucket")
  }

  /** Deterministic output-shard manifest — the handoff artifact between
    * a curation run and the training data loader: docs are assigned to
    * `nShards` shards by id hash (stable under reordering AND under
    * corpus growth — a doc never migrates, unlike round-robin or
    * size-balanced packing), and each shard row carries the accounting a
    * loader or auditor needs: doc/token/char volume, the id range, and
    * an ORDER-FREE content checksum (sum of each doc's 48-bit text-hash
    * prefix) that any engine — or a later re-run — can recompute to
    * prove the shard's contents didn't drift.
    *
    * One hash projection + one groupBy with map-side partials; output is
    * exactly `nShards` rows. The checksum is a commutative BIGINT sum,
    * so per-partition partials combine without ordering constraints —
    * the same replayability discipline as the rest of the engine.
    */
  def shardManifest(
      docs: DataFrame, nShards: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"
  ): DataFrame =
    docs
      .withColumn("shard",
        pmod(conv(substring(md5(col(idCol).cast("string")), 1, 6), 16, 10)
          .cast("long"), lit(nShards.toLong)))
      .withColumn("_ck",
        conv(substring(md5(col(textCol)), 1, 12), 16, 10).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol))).as("n_tokens"),
        sum(length(col(textCol))).as("n_chars"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"),
        sum(col("_ck")).as("content_checksum"))

  /** Fixed-point base-2 logarithm of a positive BIGINT column, appended
    * as `out` in units of 2^-fracBits: lfix = e*2^fracBits + frac where
    * e = bit_length(x) - 1 and frac comes from the classic
    * square-and-shift mantissa recursion (each squaring of the [1,2)
    * mantissa yields one fractional bit; the mantissa is requantized to
    * 20 fixed bits every step so all products stay far inside BIGINT).
    * No libm call reaches the plan — the whole thing is integer
    * multiply/shift/compare, so any engine replays it bit-for-bit (the
    * log-valued twin of DataSelect.pseudoExp). Pure chained projection:
    * Catalyst collapses the fracBits steps into one codegen stage.
    */
  /** Sentence-level BLEU (Papineni et al. 2002) between candidate and
    * reference token arrays — the n-gram-overlap eval behind MT/SFT
    * regression gates and paraphrase audits. Per order n ≤ `maxN`:
    * clipped precision p_n = Σ_g min(c_cand(g), c_ref(g)) / |cand
    * n-grams|, emitted in bp; the composite is kept in LOG space —
    * log2 BLEU = log2(BP) + (Σ_n log2 p_n)/maxN with log2(BP) =
    * −(r−c)·log2(e)/c when c < r else 0 — all in the 2⁻¹⁶ fixed point
    * of [[withPseudoLog2]] plus one integer brevity division, so every
    * value replays engine-exactly (no libm; 2^score is monotone in
    * score, so ranking/thresholding needs no exp). `bleu_log2_fp` is
    * NULL when any order has zero clipped matches or the candidate is
    * shorter than `maxN` tokens — the cases textbook BLEU sends to 0 =
    * 2^−∞; the per-order bp columns still report what matched.
    *
    * Scale shape: per order one bounded-fanout gram projection +
    * explode (corpus-gram-sized, the pass every token op pays), one
    * (pair, n, gram) count, one cand×ref equi-join ON THE PAIR KEY
    * (never cross-pair), two pair-keyed aggregates — partitions by
    * pair id at any corpus size. The tokenized two-sided frame is
    * scope-persisted; gram counts ≤ doc length keep every pseudo-log2
    * operand far under its 2⁴³ headroom.
    *
    * In: `idCol`, `candCol`/`refCol` as array<string> token columns.
    * Out: (idCol, len_cand, len_ref, p1_bp..p{maxN}_bp, bp_log2_fp,
    * bleu_log2_fp).
    */
  def bleu(pairs: DataFrame, idCol: String = "pair_id",
      candCol: String = "cand_toks", refCol: String = "ref_toks",
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8)
    val Lg2E = 94548L // floor(log2(e) * 2^16)
    val toks = graft.util.AutoUnpersist.persistScoped(
      pairs.select(col(idCol).as("_id"),
        col(candCol).as("_ct"), col(refCol).as("_rt"))
        .withColumn("_clen", size(col("_ct")).cast("long"))
        .withColumn("_rlen", size(col("_rt")).cast("long")))
    // r9 restructure: both sides melt into ONE (pair, side, n, gram)
    // stream and ONE (pair, n, gram) aggregation with conditional
    // per-side sums — the old form aggregated each side separately and
    // equi-joined the two counted frames (2 aggregation shuffles + a
    // join + 2·maxN scans of the pair frame → 1 shuffle + 2 scans;
    // a gram's cand/ref counts live in the same group row, so the
    // "clip" is a projection, not a join). filter(_cc > 0) replicates
    // the old LEFT join (cand-present grams only) exactly.
    val sides = toks.select(col("_id"), explode(array(
        struct(lit(1L).as("_s"), col("_ct").as("_t")),
        struct(lit(0L).as("_s"), col("_rt").as("_t")))).as("_x"))
      .select(col("_id"), col("_x._s").as("_s"), col("_x._t").as("_t"))
    def gramsOfN(n: Int): Column =
      when(size(col("_t")) >= n,
        transform(sequence(lit(1), size(col("_t")) - (n - 1)),
          i => array_join(slice(col("_t"), i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    val occ = (1 to maxN).map { n =>
      sides.select(col("_id"), col("_s"), lit(n).as("_n"),
        explode(gramsOfN(n)).as("_g"))
    }.reduce(_ unionAll _)
    val stats = occ.groupBy("_id", "_n", "_g")
      .agg(sum(col("_s")).as("_cc"), sum(lit(1L) - col("_s")).as("_rc"))
      .filter(col("_cc") > 0)
      .withColumn("_m", least(col("_cc"), col("_rc")))
      .groupBy("_id", "_n")
      .agg(sum("_m").as("_clip"), sum("_cc").as("_tot"))
    // r10: ONE pair-keyed aggregation computes the per-order bp columns
    // AND the log-space composite together — `stats` previously fed two
    // separate aggregates (perOrder + logged) from two plan branches, so
    // the whole corpus-gram pipeline above ran TWICE per action (the
    // battery's bleu cpu_sec ran ~2× chrF's, whose melt has one chain).
    // The pseudo-log2 recursion now runs over every (pair, order) row
    // including _clip = 0 ones (the old form filtered first); its
    // bit recursion is total on 0 (bin(0) → _e = 0, _m = 0 → _lc = 0)
    // and the when(_clip > 0) guards mask exactly the rows the old
    // filter dropped: _npos = count over _clip > 0 rows, _slp = the
    // same guarded sum, NULL (not 0) when no order matched — matching
    // the old left-join-miss semantics bit for bit.
    val en = withPseudoLog2(withPseudoLog2(stats, "_clip", "_lc"), "_tot", "_lt")
    val pCols = (1 to maxN).map(n =>
      max(when(col("_n") === n, expr("_clip * 10000 div _tot")))
        .as(s"p${n}_bp"))
    val perId = en.groupBy("_id").agg(
      pCols.head,
      pCols.tail ++ Seq(
        sum(when(col("_clip") > 0, lit(1L))).as("_npos"),
        sum(when(col("_clip") > 0, col("_lc") - col("_lt"))).as("_slp")): _*)
    toks.select("_id", "_clen", "_rlen")
      .join(perId, Seq("_id"), "left")
      .withColumn("bp_log2_fp",
        expr(s"if(_clen >= _rlen or _clen = 0, 0L, " +
          s"-(((_rlen - _clen) * $Lg2E) div _clen))"))
      .withColumn("bleu_log2_fp",
        when(col("_npos") === maxN,
          col("bp_log2_fp") + expr(s"_slp div $maxN")))
      .drop("_npos", "_slp")
      .withColumnRenamed("_id", idCol)
      .withColumnRenamed("_clen", "len_cand")
      .withColumnRenamed("_rlen", "len_ref")
  }

  /** Unicode SCRIPT profile — the triage [[langIdFromTokens]]' token heuristic
    * can't do on non-whitespace scripts: per doc, character counts for
    * the five big writing systems (Latin, Cyrillic, Han, Arabic, Greek —
    * Unicode script properties, identical `\p{Script}` semantics in
    * Java regex and RE2) plus digits, the DOMINANT script (argmax, ties
    * → alphabetical via the injective struct-min), and a
    * `mixed_script` flag when the runner-up holds ≥ 20% of the leader's
    * mass — the mixed-script signal behind homoglyph spam and
    * mis-segmented multilingual crawls (UTS #39's high-level cue).
    * All-zero docs (no letters in any tracked script) read 'none'.
    *
    * Pure per-row codegen projection — no shuffle, no join; cost is
    * five regex passes over the text, linear at any corpus size.
    *
    * Out: docs + n_latin/n_cyrillic/n_han/n_arabic/n_greek/n_digit,
    * dominant_script, mixed_script.
    */
  def scriptProfile(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scripts = Seq("latin" -> "\\p{IsLatin}", "cyrillic" -> "\\p{IsCyrillic}",
      "han" -> "\\p{IsHan}", "arabic" -> "\\p{IsArabic}",
      "greek" -> "\\p{IsGreek}")
    val counted = scripts.foldLeft(docs) { case (df, (nm, re)) =>
      df.withColumn(s"n_$nm",
        size(regexp_extract_all(col(textCol), lit(re), lit(0))).cast("long"))
    }.withColumn("n_digit",
      size(regexp_extract_all(col(textCol), lit("[0-9]"), lit(0)))
        .cast("long"))
    val entries = scripts.map { case (nm, _) =>
      struct((-col(s"n_$nm")).as("nc"), lit(nm).as("s")) }
    counted
      .withColumn("_best", least(entries: _*))
      .withColumn("_second",
        array_min(filter(array(entries: _*), e => e =!= col("_best"))))
      .withColumn("dominant_script",
        when(col("_best.nc") === 0L, lit("none")).otherwise(col("_best.s")))
      .withColumn("mixed_script",
        col("_best.nc") < 0L && (-col("_second.nc")) * 5L >= -col("_best.nc")
          && col("_second.nc") < 0L)
      .drop("_best", "_second")
  }

  /** Sentence-level chrF (Popović 2015, the chrF2 default) between
    * candidate and reference STRINGS — the character-n-gram F-score that
    * complements [[bleu]]'s word grams: robust to tokenization and
    * morphology differences (inflection variants share most char grams
    * where word BLEU scores zero), the standard second axis of an MT/
    * generation eval gate. Whitespace is stripped first (the sacrebleu
    * default), then per order n ≤ `maxN`:
    *
    *   prec_n = Σ_g min(c_cand, c_ref) / Σ_g c_cand,  rec_n likewise
    *
    * over a FULL outer (pair, n, gram) join so ref-only grams feed the
    * recall denominator. Orders with an empty side are skipped
    * (sacrebleu's effective order); chrP/chrR are the div-means of the
    * contributing orders in bp, and
    *
    *   chrF_bp = (1+β²)·chrP·chrR div (β²·chrP + chrR)
    *
    * — all BIGINT (≤ 5·10⁸ intermediates), so both engines replay every
    * value exactly. Pairs with no contributing order (either side
    * empty) report zeros with n_orders = 0.
    *
    * Scale shape: identical to [[bleu]] — per order one bounded-fanout
    * char-gram projection + explode (chars ≈ 5× token volume), one
    * (pair, n, gram) count per side, one pair-keyed equi-join, two
    * pair-keyed aggregates; pairs score independently at any corpus
    * size. No window, no log recursion needed (chrF is a plain ratio).
    *
    * In: `idCol`, `candCol`/`refCol` as STRING columns.
    * Out: (idCol, n_cand_chars, n_ref_chars, n_orders, chrp_bp,
    * chrr_bp, chrf_bp).
    */
  def chrF(pairs: DataFrame, idCol: String = "pair_id",
      candCol: String = "cand_text", refCol: String = "ref_text",
      maxN: Int = 6, beta: Int = 2): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN out of range: $maxN")
    require(beta >= 1 && beta <= 10, s"beta out of range: $beta")
    val b2 = beta.toLong * beta
    val strs = graft.util.AutoUnpersist.persistScoped(
      pairs.select(col(idCol).as("_id"),
        regexp_replace(col(candCol), "\\s", "").as("_cs"),
        regexp_replace(col(refCol), "\\s", "").as("_rs"))
        .withColumn("_clen", length(col("_cs")).cast("long"))
        .withColumn("_rlen", length(col("_rs")).cast("long")))
    // r9 restructure (the [[bleu]] melt): one (pair, side, n, gram)
    // stream, one aggregation with conditional per-side sums — replaces
    // two per-side aggregations + a FULL OUTER join (a gram on either
    // side keeps its group row with the other side's count at 0, which
    // is exactly what the full outer produced after coalesce).
    val sides = strs.select(col("_id"), explode(array(
        struct(lit(1L).as("_s"), col("_cs").as("_str")),
        struct(lit(0L).as("_s"), col("_rs").as("_str")))).as("_x"))
      .select(col("_id"), col("_x._s").as("_s"), col("_x._str").as("_str"))
    def gramsOfN(n: Int): Column =
      when(length(col("_str")) >= n,
        transform(sequence(lit(1), length(col("_str")) - (n - 1)),
          i => col("_str").substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
    val occ = (1 to maxN).map { n =>
      sides.select(col("_id"), col("_s"), lit(n).as("_n"),
        explode(gramsOfN(n)).as("_g"))
    }.reduce(_ unionAll _)
    val orders = occ.groupBy("_id", "_n", "_g")
      .agg(sum(col("_s")).as("_cc"), sum(lit(1L) - col("_s")).as("_rc"))
      .withColumn("_m", least(col("_cc"), col("_rc")))
      .groupBy("_id", "_n")
      .agg(sum("_m").as("_mm"),
        sum(col("_cc")).as("_tc"),
        sum(col("_rc")).as("_tr"))
      .filter(col("_tc") > 0 && col("_tr") > 0)
      .withColumn("_p", expr("_mm * 10000 div _tc"))
      .withColumn("_rr", expr("_mm * 10000 div _tr"))
    val agg = orders.groupBy("_id")
      .agg(count(lit(1)).as("n_orders"),
        sum("_p").as("_sp"), sum("_rr").as("_sr"))
      .withColumn("chrp_bp", expr("_sp div n_orders"))
      .withColumn("chrr_bp", expr("_sr div n_orders"))
      .withColumn("chrf_bp",
        expr(s"if($b2 * chrp_bp + chrr_bp > 0, " +
          s"(1 + $b2) * chrp_bp * chrr_bp div " +
          s"($b2 * chrp_bp + chrr_bp), 0L)"))
      .select("_id", "n_orders", "chrp_bp", "chrr_bp", "chrf_bp")
    strs.select("_id", "_clen", "_rlen")
      .join(agg, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        col("_clen").as("n_cand_chars"), col("_rlen").as("n_ref_chars"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("chrp_bp"), lit(0L)).as("chrp_bp"),
        coalesce(col("chrr_bp"), lit(0L)).as("chrr_bp"),
        coalesce(col("chrf_bp"), lit(0L)).as("chrf_bp"))
  }

  /** T5-style span-corruption pair generation (Raffel et al. 2020 §3.1.4
    * "span corruption"; the UL2 R-denoiser) — the batch op that turns a
    * clean corpus into (input, target) denoising pairs: masked spans are
    * replaced by `<extra_id_k>` sentinels in the input, and the target
    * lists each sentinel followed by the tokens it hides.
    *
    * Deterministic, engine-replayable masking with NO sequential state:
    * span starts live on a position GRID (1, 1+stride, …) and fire when
    * the position's md5 draw clears `startThresh`/16; span length is
    * 1 + (second draw mod maxSpan), clamped to the doc tail. Because
    * maxSpan < stride, spans can NEVER overlap — the greedy
    * left-to-right suppression real samplers need (a sequential fold)
    * is designed out, so both engines compute identical spans with pure
    * per-position arithmetic. Defaults mask ≈ 14% of tokens in mean-3
    * spans (the T5 recipe's 15%/3 knobs).
    *
    * Pure per-row array projection — no shuffle, no join; the masking
    * draw is one md5 per grid position (n/stride per doc).
    *
    * Out: (idCol, n_tokens, n_spans, n_masked, input_text, target_text).
    */
  def spanCorrupt(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", seed: String = "t5",
      stride: Int = 8, maxSpan: Int = 5, startThresh: Int = 6): DataFrame = {
    require(stride > maxSpan && maxSpan >= 1,
      s"need maxSpan < stride: $maxSpan, $stride")
    require(startThresh >= 1 && startThresh <= 15)
    def draw(pos: Column, salt: String): Column =
      conv(substring(md5(concat(lit(s"$seed$salt:"),
        col("_id").cast("string"), lit(":"), pos.cast("string"))), 1, 1),
        16, 10).cast("long")
    val base = docs.select(col(idCol).as("_id"),
        tokens(col(textCol)).as("_t"))
      .withColumn("_n", size(col("_t")).cast("long"))
      // spans: grid positions whose draw fires, with clamped lengths
      .withColumn("_sp", filter(
        transform(sequence(lit(1L), greatest(col("_n"), lit(1L)),
          lit(stride.toLong)),
          p => struct(p.as("p"),
            least(lit(1L) + pmod(draw(p, "L"), lit(maxSpan.toLong)),
              col("_n") - p + 1L).as("l"),
            draw(p, "S").as("d"))),
        e => e.getField("d") < startThresh && e.getField("p") <= col("_n")))
    base
      .withColumn("n_spans", size(col("_sp")).cast("long"))
      .withColumn("n_masked",
        aggregate(col("_sp"), lit(0L), (a, e) => a + e.getField("l")))
      .withColumn("input_text", when(col("_n") === 0L, lit(""))
        .otherwise(concat_ws(" ", filter(
          transform(sequence(lit(1L), col("_n")), pos => {
            val kIdx = size(filter(col("_sp"), e => e.getField("p") < pos))
            val isStart = exists(col("_sp"), e => e.getField("p") === pos)
            val covered = exists(col("_sp"),
              e => e.getField("p") <= pos &&
                pos < e.getField("p") + e.getField("l"))
            when(isStart, concat(lit("<extra_id_"), kIdx.cast("string"),
              lit(">")))
              .when(covered, lit(null).cast("string"))
              .otherwise(element_at(col("_t"), pos.cast("int")))
          }), x => x.isNotNull))))
      .withColumn("target_text", concat_ws(" ", flatten(
        transform(col("_sp"), (e, k) => concat(
          array(concat(lit("<extra_id_"), k.cast("string"), lit(">"))),
          slice(col("_t"), e.getField("p").cast("int"),
            e.getField("l").cast("int")))))))
      .select(col("_id").as(idCol), col("_n").as("n_tokens"),
        col("n_spans"), col("n_masked"), col("input_text"),
        col("target_text"))
  }

  /** Sentence-level ROUGE-L (Lin 2004) between candidate and reference
    * token arrays — the LONGEST-COMMON-SUBSEQUENCE eval axis that BLEU's
    * bag-of-grams and chrF's char grams both miss (word ORDER at
    * distance: "a b" vs "b a" shares every unigram but has LCS 1).
    * Both sides are cut to their first `maxLen` tokens (the prefix form
    * that keeps the quadratic DP bounded and engine-replayable; eval
    * snippets fit, and the cut lengths are reported). Per pair the full
    * LCS table runs as a per-row array fold — the classic row
    * recurrence in max-of-three form,
    *
    *   L[i][j] = max(L[i−1][j], L[i][j−1], L[i−1][j−1] + eq(i,j))
    *
    * (equivalent to the if/else textbook form: on a match the diagonal
    * term dominates) — an `aggregate` over cand tokens carrying the
    * previous DP row, with an inner `aggregate` over ref tokens
    * appending one cell per step. Any correct LCS yields the identical
    * integer table, so the DuckDB oracle may recurse row-by-row with
    * the cumulative-max reformulation and still match bit-for-bit.
    * P = LCS/len_cand, R = LCS/len_ref, F1 = 2PR/(P+R), all exact bp.
    *
    * Scale shape: a PURE per-row projection — no explode, no join, no
    * shuffle; cost is maxLen² small-integer steps per pair (≤ 256 at
    * the default), embarrassingly parallel at any corpus size. The
    * nested HOFs evaluate interpreted (ArrayAggregate has no codegen),
    * which the bounded cell count makes irrelevant.
    *
    * In: `idCol`, `candCol`/`refCol` as array<string> token columns.
    * Out: (idCol, len_cand, len_ref, lcs, rouge_p_bp, rouge_r_bp,
    * rouge_f_bp) — lengths AFTER the cut.
    */
  def rougeL(pairs: DataFrame, idCol: String = "pair_id",
      candCol: String = "cand_toks", refCol: String = "ref_toks",
      maxLen: Int = 16): DataFrame = {
    require(maxLen >= 1 && maxLen <= 64, s"maxLen out of range: $maxLen")
    val cut = pairs.select(col(idCol).as("_id"),
      slice(col(candCol), 1, maxLen).as("_ct"),
      slice(col(refCol), 1, maxLen).as("_rt"))
      .withColumn("_cl", size(col("_ct")).cast("long"))
      .withColumn("_rl", size(col("_rt")).cast("long"))
    // r9: the DP runs as a native codegen kernel (graft_lcs_length) —
    // the previous nested-`aggregate` HOF form evaluated interpreted
    // AND copied the accumulator array once per cell (LcsSpec pins
    // bit-equality of the two formulations on adversarial and random
    // inputs; the bench delta is recorded in OPTIMIZATION_r09.md)
    val dp = org.apache.spark.sql.graftshim.GraftShim.column(
      graft.sql.expressions.LcsLength(
        org.apache.spark.sql.graftshim.GraftShim.expression(col("_ct")),
        org.apache.spark.sql.graftshim.GraftShim.expression(col("_rt"))))
    cut
      .withColumn("lcs", dp)
      .withColumn("rouge_p_bp",
        expr("if(_cl > 0, lcs * 10000 div _cl, 0L)"))
      .withColumn("rouge_r_bp",
        expr("if(_rl > 0, lcs * 10000 div _rl, 0L)"))
      .withColumn("rouge_f_bp",
        expr("if(rouge_p_bp + rouge_r_bp > 0, " +
          "2 * rouge_p_bp * rouge_r_bp div (rouge_p_bp + rouge_r_bp), 0L)"))
      .select(col("_id").as(idCol), col("_cl").as("len_cand"),
        col("_rl").as("len_ref"), col("lcs"),
        col("rouge_p_bp"), col("rouge_r_bp"), col("rouge_f_bp"))
  }

  /** Driver-side twin of [[withPseudoLog2]] — the SAME bit recursion on
    * a Scala Long, for literal denominators (e.g. the geometric-noise
    * scale in [[Privacy.dpNoisyCounts]]) that must match the
    * distributed column form bit-for-bit (pinned by TextOpsSpec parity).
    * Same `x << 20` headroom bound: x < 2⁴³.
    */
  def pseudoLog2Long(x: Long, fracBits: Int = 16): Long = {
    require(x > 0 && x < (1L << 43), s"out of pseudo-log2 range: $x")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    var m = (x << 20) / (1L << e)
    var fr = 0L
    for (_ <- 1 to fracBits) {
      val sq = (m * m) / 1048576
      if (sq >= 2097152) { fr = fr * 2 + 1; m = sq / 2 }
      else { fr = fr * 2; m = sq }
    }
    e * (1L << fracBits) + fr
  }

  def withPseudoLog2(df: DataFrame, xCol: String, out: String,
      fracBits: Int = 16): DataFrame = {
    val base = df
      .withColumn("_e", (length(bin(col(xCol))) - 1).cast("long"))
      .withColumn("_m",
        expr(s"shiftleft(cast($xCol as bigint), 20) div shiftleft(cast(1 as bigint), cast(_e as int))"))
      .withColumn("_fr", lit(0L))
    (1 to fracBits).foldLeft(base) { (acc, _) =>
      acc.withColumn("_sq", expr("(_m * _m) div 1048576"))
        .withColumn("_fr", expr("_fr * 2 + if(_sq >= 2097152, 1, 0)"))
        .withColumn("_m", expr("if(_sq >= 2097152, _sq div 2, _sq)"))
        .drop("_sq")
    }
      .withColumn(out, expr(s"_e * ${1L << fracBits}L + _fr"))
      .drop("_e", "_m", "_fr")
  }

  /** Order-0 character entropy per document — the information-density
    * quality signal: H = log2(N) - (Σ c·log2 c)/N over the per-doc char
    * frequency table. Boilerplate/repetition-stuffed text sits far below
    * natural language (~4.0-4.2 bits/char for English); a low-side gate
    * catches gibberish and template spam that length/stopword heuristics
    * miss. All arithmetic is the fixed-point log above plus BIGINT
    * sums, so the value — not just the verdict — is engine-replayable.
    *
    * Scale shape: one char explode (corpus-char-sized, the same linear
    * pass every token op pays), one map-side-combinable (doc,char)
    * count (≤ alphabet-size groups per doc), one doc-sized aggregate.
    * No joins, no windows — embarrassingly parallel in doc_id.
    */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(col(idCol),
        explode(filter(split(col(textCol), ""), c => c =!= "")).as("ch"))
      .groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).as("c"))
    val perDoc = withPseudoLog2(counts, "c", "_lc")
      .groupBy(idCol)
      .agg(sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(expr("c * _lc")).as("_s2"))
    withPseudoLog2(perDoc, "n_chars", "_ln")
      .withColumn("h_fix", expr("_ln - (_s2 div n_chars)"))
      .withColumn("h_millibits", expr("h_fix * 1000 div 65536"))
      .drop("_ln", "_s2")
  }

  /** Jensen-Shannon divergence between two corpora's unigram
    * distributions — the snapshot-drift gate a recurring crawl runs
    * before retraining: JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q),
    * bounded [0,1] bits and symmetric (unlike raw KL, defined even when
    * one side has novel vocabulary).
    *
    * Fixed-point construction: token counts are first quantized to
    * integer PPM frequencies (`c·10⁶ div N`), then every log runs
    * through [[withPseudoLog2]] on products bounded by 10⁶·Σppm < 2⁴¹ —
    * far inside the log's `x << 20` headroom — using
    * log2(P/M) = log2(2·af·SB) − log2(af·SB + bf·SA) and
    * log2(2x) = lfix(x) + 2¹⁶ (exact: the pseudo-log's exponent step).
    * Every reduction is a BIGINT sum of per-token integers, so a second
    * engine replays the VALUE bit-for-bit. Tokens landing under 1 ppm
    * in a corpus quantize to zero frequency there; their mass is
    * reported, not hidden, as `a_dropped_ppm`/`b_dropped_ppm` (for a
    * heavy-tailed 10⁹-token corpus, compare at the source/domain level
    * or on a deterministic md5 doc-sample to keep the tail mass small).
    *
    * Shape: two corpus-linear token passes collapsing to vocab-sized
    * count tables, one vocab-sized full-outer join, three chained
    * fixed-point log projections (pure codegen), one single-row
    * aggregate; the only broadcast is the two one-row totals. Nothing
    * shuffles more than the vocabulary.
    *
    * Out: one row `(n_vocab_a, n_vocab_b, n_vocab_shared,
    * a_dropped_ppm, b_dropped_ppm, kl_pm_millibits, kl_qm_millibits,
    * jsd_millibits)` — jsd ∈ [0, 1000] millibits.
    */
  def jsDivergence(docsA: DataFrame, docsB: DataFrame,
      textCol: String = "text"): DataFrame =
    jsDivergenceFromCounts(
      tokenCountTable(docsA, textCol), tokenCountTable(docsB, textCol))

  /** Corpus unigram count table `(tok, c)` — the reduced form
    * [[jsDivergenceFromCounts]] (and the streaming drift monitor, which
    * stores these tables as its running state) consumes.
    */
  def tokenCountTable(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))

  /** [[jsDivergence]] over ALREADY-AGGREGATED `(tok, c)` count tables —
    * the mergeable form: count tables sum across shards/batches, so a
    * running corpus distribution never re-reads history.
    */
  def jsDivergenceFromCounts(countsA: DataFrame,
      countsB: DataFrame): DataFrame = {
    def freqs(counts0: DataFrame, c: String, f: String): DataFrame = {
      val counts = counts0.select(col("tok"), col("c").cast("long").as(c))
      counts.crossJoin(counts.agg(sum(col(c)).as("_n"))) // one-row broadcast
        .withColumn(f, expr(s"$c * 1000000L div _n"))
        .drop("_n")
    }
    // vocab-sized; checkpointed because the totals row, the value-domain
    // union (3×), and the term table all read it — without lineage
    // truncation the corpus token pass appears 8× in the logical plan
    // and PLANNING, not data, dominates (measured: 5.2 s → 1.3 s warm)
    val j = freqs(countsA, "ac", "af")
      .join(freqs(countsB, "bc", "bf"), Seq("tok"), "full_outer")
      .na.fill(0L, Seq("ac", "af", "bc", "bf"))
      .localCheckpoint(true)
    val tots = j.agg(
      sum(col("af")).as("_sa"), sum(col("bf")).as("_sb"),
      sum(col("ac")).as("_na"), sum(col("bc")).as("_nb"),
      sum(when(col("af") === 0L, col("ac")).otherwise(0L)).as("_da"),
      sum(when(col("bf") === 0L, col("bc")).otherwise(0L)).as("_db"))
    val terms0 = j.crossJoin(tots) // one-row broadcast
      .withColumn("_ju", expr("af * _sb"))
      .withColumn("_jv", expr("bf * _sa"))
      .withColumn("_jm", expr("af * _sb + bf * _sa"))
      .localCheckpoint(true) // read 4× below (3 value unions + terms)
    // ONE fixed-point log pass over the distinct value domain (≤ 3·vocab
    // rows), broadcast-joined back three times — the same decomposition
    // the oracle uses, and 3× fewer chained projections than logging
    // each column in place (the 16-step recursion is planning-heavy)
    val ltab = withPseudoLog2(
      Seq("_ju", "_jv", "_jm")
        .map(c => terms0.filter(col(c) > 0L).select(col(c).as("_x")))
        .reduce(_ unionByName _)
        .distinct(), "_x", "_l")
    val terms = Seq(("_ju", "_lu"), ("_jv", "_lv"), ("_jm", "_lm"))
      .foldLeft(terms0) { case (acc, (x, l)) =>
        acc.join(broadcast(ltab.select(col("_x").as(x), col("_l").as(l))),
          Seq(x), "left")
          .withColumn(l, coalesce(col(l), lit(0L)))
      }
    terms.agg(
      sum(when(col("ac") > 0L, 1L).otherwise(0L)).as("n_vocab_a"),
      sum(when(col("bc") > 0L, 1L).otherwise(0L)).as("n_vocab_b"),
      sum(when(col("ac") > 0L && col("bc") > 0L, 1L).otherwise(0L))
        .as("n_vocab_shared"),
      max(expr("_da * 1000000L div _na")).as("a_dropped_ppm"),
      max(expr("_db * 1000000L div _nb")).as("b_dropped_ppm"),
      sum(when(col("af") > 0L, expr("af * (_lu + 65536 - _lm)"))
        .otherwise(0L)).as("_tp"),
      sum(when(col("bf") > 0L, expr("bf * (_lv + 65536 - _lm)"))
        .otherwise(0L)).as("_tq"),
      max(col("_sa")).as("_fsa"), max(col("_sb")).as("_fsb"))
      .withColumn("kl_pm_millibits", expr("(_tp div _fsa) * 1000 div 65536"))
      .withColumn("kl_qm_millibits", expr("(_tq div _fsb) * 1000 div 65536"))
      .withColumn("jsd_millibits",
        expr("((_tp div _fsa + _tq div _fsb) div 2) * 1000 div 65536"))
      .select("n_vocab_a", "n_vocab_b", "n_vocab_shared",
        "a_dropped_ppm", "b_dropped_ppm",
        "kl_pm_millibits", "kl_qm_millibits", "jsd_millibits")
  }
}
