package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: remove training documents that collide with
  * an evaluation set on long n-grams — the standard contamination test
  * (a shared long n-gram is strong evidence the benchmark text leaked
  * into the corpus).
  *
  * Shape: both sides shingle to distinct per-doc n-grams; the collision
  * join is an equi-join on the n-gram (never a cross product), and the
  * benchmark side — eval suites are tiny next to a training corpus — is
  * broadcast-sized by construction. Per (doc, benchmark) collision counts
  * come from one groupBy with map-side partials. At 100 TB the corpus
  * side streams; only the benchmark shingle set is materialized.
  *
  * `n` defaults to 5 here because the synthetic corpus documents are
  * ~50 tokens; production decontamination typically uses 8-13-token
  * n-grams for the same mechanics.
  */
object Decontaminate {

  /** (doc_id, benchmark_id, n_hits): distinct shared n-grams per
    * contaminated (corpus doc, benchmark doc) pair, hits ≥ `minHits`.
    */
  def contaminationPairs(
      docs: DataFrame, benchmarks: DataFrame,
      n: Int = 5, minHits: Long = 1L
  ): DataFrame = {
    val corpusSh = Dedup.shingles(docs, n)
    val benchSh = Dedup.shingles(benchmarks, n)
      .withColumnRenamed("doc_id", "benchmark_id")
    corpusSh.join(benchSh, "w")
      .groupBy("doc_id", "benchmark_id")
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Span-level contamination report: for each shared n-gram, WHERE it
    * sits in the corpus document (1-based char offset of the first
    * occurrence, plus span length) — the output a surgical-excision
    * pipeline consumes when dropping whole documents is too blunt
    * (e.g. a long page quoting one benchmark item). Same equi-join
    * shape as [[contaminationPairs]] plus one join back to the corpus
    * text on doc_id; the offset probe is a codegen `instr` projection.
    */
  def contaminationSpans(
      docs: DataFrame, benchmarks: DataFrame, n: Int = 5
  ): DataFrame = {
    val corpusSh = Dedup.shingles(docs, n)
    val benchSh = Dedup.shingles(benchmarks, n)
      .withColumnRenamed("doc_id", "benchmark_id")
    corpusSh.join(benchSh, "w")
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("benchmark_id"), col("w").as("ngram"),
        instr(col("text"), col("w")).as("char_offset"),
        length(col("w")).as("span_len"))
  }

  /** SEMANTIC decontamination: corpus items whose embedding is
    * ≥ `thresholdBp` cosine-close to any benchmark embedding — catches
    * paraphrased/translated benchmark leakage that n-gram collision
    * can't see (the embedding-level complement of [[contaminationPairs]]).
    *
    * Per flagged corpus item: hit count, the max cosine (bp), and the
    * benchmark id achieving it (ties → larger id; a total order, so any
    * engine agrees). The benchmark side is broadcast — eval suites are
    * tiny next to a training corpus, the same asymmetry the n-gram path
    * leans on — so the corpus streams through one codegen projection
    * (FloatVecDot + hoisted norms): no shuffle at all on the big side.
    */
  def semanticPairs(
      corpus: DataFrame, benchmarks: DataFrame, thresholdBp: Long = 4000L,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    import graft.ops.{Similarity => Sim}
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("_vc"), Sim.norm(col(vecCol)).as("_nc"))
    val b = benchmarks.select(col(idCol).as("bench_id"),
      col(vecCol).as("_vb"), Sim.norm(col(vecCol)).as("_nb"))
    c.join(broadcast(b), lit(true))
      .withColumn("cos_bp",
        floor(Sim.dot(col("_vc"), col("_vb")) / (col("_nc") * col("_nb"))
          * 10000).cast("long"))
      .filter(col("cos_bp") >= thresholdBp)
      .groupBy("corpus_id")
      .agg(count(lit(1)).as("n_hits"),
        max(col("cos_bp")).as("max_cos_bp"),
        max(struct(col("cos_bp"), col("bench_id")))
          .getField("bench_id").as("best_bench"))
  }

  /** Fuzzy (edit-distance) contamination: corpus docs whose `prefixLen`-
    * char prefix is within `maxDist` Levenshtein edits of a benchmark
    * prompt's prefix — the screen that catches lightly-reformatted leaks
    * (whitespace drift, a dropped word, OCR noise) that exact n-gram
    * collision misses and embedding cosine over-matches.
    *
    * Candidate generation is the PassJoin segment scheme (Li, Deng,
    * Wang, Feng 2011, "PASS-JOIN: a partition-based method for
    * similarity joins"): split each corpus prefix into maxDist+1
    * aligned segments — if two strings are within maxDist edits, the
    * pigeonhole principle forces at least one corpus segment to appear
    * EXACTLY in the benchmark string, at a start position shifted by at
    * most maxDist. So candidates come from an EQUI-join on
    * (segment slot, segment text, corpus length): the corpus explodes
    * ×(maxDist+1) — constant — while each benchmark enumerates its
    * aligned substring windows (≤ (2k+1)²(k+1) rows, deduplicated;
    * benchmark suites are small by assumption). A length band alone
    * cannot prune fixed-width prefixes at all (every pair survives —
    * Θ(corpus×bench) distance kernels); segment equality prunes by
    * CONTENT, so non-leaked docs fall out of the join. Survivors —
    * candidate pairs, not all pairs — run Spark's THRESHOLD-banded
    * `levenshtein(l, r, d)` kernel, O(prefixLen·maxDist) each with
    * early exit. Degenerate repeated segments behave like hot LSH
    * buckets; the [[LshGuard]] cap pattern applies if a corpus's
    * boilerplate survives to this screen.
    *
    * Corpus prefixes shorter than maxDist+1 chars have no non-empty
    * segment split; they route through a length-bucket equi-join
    * fallback (trivially small: only benchmarks within maxDist chars of
    * near-empty strings can match).
    *
    * Returns (doc_id, benchmark_id, edit_dist) with edit_dist ≤ maxDist.
    */
  def fuzzyPairs(
      corpus: DataFrame, benchmarks: DataFrame,
      prefixLen: Int = 48, maxDist: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      benchIdCol: String = "benchmark_id"
  ): DataFrame = {
    val k = maxDist
    val nSeg = k + 1
    val c = corpus.select(col(idCol).as("doc_id"),
        substring(col(textCol), 1, prefixLen).as("_cp"))
      .withColumn("_cl", length(col("_cp")))
    val b = benchmarks.select(col(benchIdCol),
        substring(col(textCol), 1, prefixLen).as("_bp"))
      .withColumn("_bl", length(col("_bp")))

    // -- main path: PassJoin candidates for corpus prefixes with ≥ nSeg
    // chars (every segment non-empty). Segment i of a length-l string
    // covers [i·l div nSeg, (i+1)·l div nSeg) — 0-based.
    val segs = c.filter(col("_cl") >= nSeg)
      .withColumn("_i", explode(sequence(lit(0), lit(k))))
      .withColumn("_s", expr(s"(_i * _cl) div $nSeg"))
      .withColumn("_seg",
        expr(s"substring(_cp, _s + 1, ((_i + 1) * _cl) div $nSeg - _s)"))
      .select(col("doc_id"), col("_cp"), col("_cl"), col("_i"), col("_seg"))
    // benchmark windows: for each candidate corpus length l ∈ bl±k and
    // slot i, the substrings of _bp with that slot's length starting
    // within ±k of the slot's canonical position
    val wins = b
      // a benchmark shorter than nSeg−k chars can't be within k edits
      // of any main-path corpus string (and sequence() would descend)
      .filter(col("_bl") + k >= nSeg)
      .withColumn("_l", explode(sequence(
        greatest(col("_bl") - k, lit(nSeg)), col("_bl") + k)))
      .withColumn("_i", explode(sequence(lit(0), lit(k))))
      .withColumn("_s", expr(s"(_i * _l) div $nSeg"))
      .withColumn("_len", expr(s"((_i + 1) * _l) div $nSeg - (_i * _l) div $nSeg"))
      .withColumn("_plo", greatest(col("_s") - k, lit(0)))
      .withColumn("_phi", least(col("_s") + k, col("_bl") - col("_len")))
      // Spark's sequence(a, b) DESCENDS when a > b — an empty window
      // must be filtered out, not exploded
      .filter(col("_phi") >= col("_plo"))
      .withColumn("_p", explode(sequence(col("_plo"), col("_phi"))))
      .withColumn("_seg", expr("substring(_bp, _p + 1, _len)"))
      // the join never sees _p: dedup to distinct probe keys per benchmark
      .select(col(benchIdCol), col("_bp"), col("_l"), col("_i"), col("_seg"))
      .dropDuplicates(benchIdCol, "_l", "_i", "_seg")
    val passCands = segs
      .join(wins, segs("_cl") === wins("_l") &&
        segs("_i") === wins("_i") && segs("_seg") === wins("_seg"))
      .select(col("doc_id"), col(benchIdCol), col("_cp"), col("_bp"))
      .dropDuplicates("doc_id", benchIdCol)

    // -- fallback: near-empty corpus prefixes (< nSeg chars) — a
    // length-bucket equi-join (width nSeg, benchmark replicated ±1)
    val shortC = c.filter(col("_cl") < nSeg)
      .withColumn("_bucket", expr(s"_cl div $nSeg"))
    val shortB = b
      .withColumn("_bucket",
        explode(array((-1 to 1).map(d => expr(s"_bl div $nSeg + $d")): _*)))
    val shortCands = shortC.join(shortB, Seq("_bucket"))
      .filter(abs(col("_cl") - col("_bl")) <= k)
      .select(col("doc_id"), col(benchIdCol), col("_cp"), col("_bp"))

    passCands.unionByName(shortCands)
      .withColumn("edit_dist", levenshtein(col("_cp"), col("_bp"), k))
      .filter(col("edit_dist") >= 0)
      .select("doc_id", benchIdCol, "edit_dist")
  }
}
