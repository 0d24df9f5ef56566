package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, all shuffle-aware:
  *
  *  - exact: hash-groupBy on a content key (one shuffle, map-side partial)
  *  - MinHash+LSH: signature → banding → bucket equi-join, so candidate
  *    generation is an equi-shuffle join on band signatures — never a
  *    cross join. Verification (true Jaccard) runs only on candidates.
  *  - SimHash: 64-bit signature as 16 hex digits; hamming-close pairs are
  *    near-dups. Signature build is explode+groupBy (2 narrow shuffles).
  *  - n-gram Jaccard: inverted-index candidate join on rare shingles.
  *
  * The hash family is lexicographic-min over md5(seed‖shingle): any SQL
  * engine with md5 reproduces it bit-for-bit, which is what lets the
  * DuckDB oracle verify these distributed ops exactly.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per identical content key. */
  def exact(df: DataFrame, idCol: String, keyExpr: Column): DataFrame = {
    df.withColumn("_key", keyExpr)
      .groupBy("_key")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Corpus snapshot diff — the incremental-management primitive: given
    * yesterday's and today's corpus, classify every doc id as
    * added / removed / changed / unchanged by content hash. One
    * full-outer equi-join on the id (single shuffle, AQE-skew-safe);
    * hashes are computed in the scan projections, so each side is read
    * once and only (id, 16-byte digest) ever reaches the shuffle — at
    * 100 TB the diff moves GBs, not the corpus.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val o = oldDocs.select(col(idCol), md5(col(textCol)).as("_oh"))
    val n = newDocs.select(col(idCol), md5(col(textCol)).as("_nh"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_oh").isNull, lit("added"))
          .when(col("_nh").isNull, lit("removed"))
          .when(col("_oh") === col("_nh"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** doc_id → exploded distinct n-token shingles (column `w`).
    * Fans the doc scan out first when it has fewer splits than the
    * cluster has slots (a single-file fixture would otherwise run the
    * ~50× explode into hash-heavy consumers in one task); an
    * already-parallel corpus scan skips the shuffle — see
    * [[graft.util.Partitioning.fanOut]].
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    // tokens materialized as a column: a lambda closing over split(text)
    // re-evaluates the split per element (HOFs are interpreted) — ~10×
    val t = col("_toks")
    graft.util.Partitioning.fanOut(docs)
      .withColumn("_toks", split(col("text"), " "))
      .filter(size(t) >= n)
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(0), size(t) - n), i =>
            concat_ws(" ", (0 until n).map(k => element_at(t, i + k + 1)): _*))
        )).as("w"))
  }

  /** Per-doc MinHash signature columns m0..m{k-1}:
    * m_s = min over the doc's word n-gram shingles of
    * md5(s ‖ '|' ‖ shingle), computed straight from doc text by the
    * graft_word_minhash codegen kernel — one pass per doc, ZERO
    * shuffles on the signature side (no gram explode, vocabulary
    * distinct() exchange, join-back or k-min aggregation exchange),
    * bit-identical md5 lanes (WordMinhashSpec pins the kernel against
    * the explode formulation; min over occurrences ≡ min over the
    * distinct gram set). Docs with fewer than n tokens produce no
    * signature row, exactly as [[shingles]]' `filter(size >= n)` drops
    * them.
    */
  def minhashSignaturesKernel(docs: DataFrame, k: Int,
      shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShim
    graft.util.Partitioning.fanOut(docs)
      .select(col("doc_id"), GraftShim.column(
        graft.sql.expressions.WordMinhash(
          GraftShim.expression(col("text")), shingleSize, k)).as("_ms"))
      .filter(size(col("_ms")) === k)
      .select(col("doc_id") +:
        (0 until k).map(s => col("_ms").getItem(s).as(s"m$s")): _*)
  }

  /** Signature table → (doc_id, band, sig) long format: `rowsPerBand`
    * consecutive components hashed to one band signature per row.
    */
  private def bandMelt(sigs: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    sigs.select(
      col("doc_id"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          md5(concat((0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*))
            .as("sig"))
      }: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** LSH banding: rows-per-band consecutive signature components hashed to
    * one band signature; docs sharing any band signature are candidates.
    * Returns (i, j) with i < j, distinct.
    *
    * Bands are melted to (doc_id, band, sig) long format and self-joined
    * ONCE on (band, sig) — a per-band join union would re-run the whole
    * signature pipeline per band. The tiny melted table is persisted so
    * the self-join's two sides don't recompute it either. Buckets larger
    * than `maxBucket` are dropped (with a logged count) before the
    * self-join — see [[LshGuard.capBuckets]]; the default cap is far above
    * any honest bucket at tested scales, so results are unchanged except
    * under degenerate boilerplate floods.
    */
  def lshCandidates(
      sigs: DataFrame, k: Int, rowsPerBand: Int, maxBucket: Int = 5000,
      side: DataFrame => DataFrame = graft.util.Partitioning.indexSide
  ): DataFrame = {
    val melted = bandMelt(sigs, k, rowsPerBand)
    val meltedP = graft.util.AutoUnpersist.persistScoped(melted)
    val capped = graft.util.AutoUnpersist.persistScoped(
      LshGuard.capBuckets(meltedP, Seq("band", "sig"), maxBucket, side))
    // the band table is corpus-scaled (docs × bands): the self-join
    // stays partitioned unless the corpus anchor proves it small
    capped.select(col("doc_id").as("i"), col("band"), col("sig"))
      .join(side(
        capped.select(col("doc_id").as("j"), col("band"), col("sig"))),
        Seq("band", "sig"))
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
  }

  /** Exact Jaccard over shingle sets for given candidate pairs only.
    *
    * The (j, w) join's right side is the whole (persisted) shingle frame;
    * a tempting refinement is semi-joining it down to candidate-involved
    * docs first, but that puts `cands` in two plan branches and the lazy
    * scoped caches upstream race into re-running the candidate pipeline —
    * measured 2× WORSE at sf0.1. At corpus scale, callers that hold a
    * materialized candidate table (e.g. [[incrementalMinhash]], which
    * checkpoints its phases) can pre-filter `sh` themselves.
    */
  def verifyJaccard(cands: DataFrame, sh: DataFrame,
      side: DataFrame => DataFrame = graft.util.Partitioning.indexSide,
      pruneBp: Long = 0L
  ): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // every sh/counts side is corpus-scaled and explode-descended, so
    // their estimates cannot be trusted: the default `side` forces
    // partitioned joins unconditionally (see Partitioning.indexSide for
    // the measured broadcast-OOM hazard); ops that hold the corpus
    // anchor pass Partitioning.indexSideFor(docs), which keeps
    // Catalyst's (broadcast-friendly) choices at provably-small scale
    if (pruneBp > 0L) {
      // r10 LENGTH PREFILTER (Arasu et al.'s size filter — the exact
      // necessary condition of the set-similarity literature): c ≤
      // min(ni,nj) and |A∪B| ≥ max(ni,nj), so jaccard ≤ min/max — any
      // pair a caller will cut at `pruneBp` basis points whose sizes
      // differ by more than that ratio can be dropped BEFORE the
      // gram expansion (the verify's dominant cost: candidates × grams
      // rows — measured 44,801 → 15,461 pairs on the char-minhash zh
      // corpus, −66% of the expansion). The counts joins move AHEAD of
      // the expansion — same joins, reordered. One basis point of
      // slack (pruneBp − 1) makes the prune safe against callers that
      // cut on the DOUBLE jaccard (j ≥ t) and callers that cut on
      // floor(j·10⁴) ≥ bp alike: either cut implies true jaccard
      // > (pruneBp−1)/10⁴, hence min·10⁴ ≥ (pruneBp−1)·max. Dropped
      // pairs can never appear in the caller's output, so results are
      // bit-identical (oracle-verified at all SFs).
      val sized = cands
        .join(side(counts.select(col("doc_id").as("i"), col("n").as("ni"))), "i")
        .join(side(counts.select(col("doc_id").as("j"), col("n").as("nj"))), "j")
        .filter(least(col("ni"), col("nj")) * 10000L >=
          lit(pruneBp - 1L) * greatest(col("ni"), col("nj")))
      sized
        .join(side(sh.select(col("doc_id").as("i"), col("w"))), "i")
        .join(side(sh.select(col("doc_id").as("j"), col("w"))), Seq("j", "w"))
        .groupBy("i", "j", "ni", "nj").agg(count(lit(1)).as("c"))
        .select(col("i"), col("j"),
          (col("c").cast("double") / (col("ni") + col("nj") - col("c")))
            .as("jaccard"))
    } else {
      val common = cands
        .join(side(sh.select(col("doc_id").as("i"), col("w"))), "i")
        .join(side(sh.select(col("doc_id").as("j"), col("w"))), Seq("j", "w"))
        .groupBy("i", "j").agg(count(lit(1)).as("c"))
      common
        .join(side(counts.select(col("doc_id").as("i"), col("n").as("ni"))), "i")
        .join(side(counts.select(col("doc_id").as("j"), col("n").as("nj"))), "j")
        .select(col("i"), col("j"),
          (col("c").cast("double") / (col("ni") + col("nj") - col("c"))).as("jaccard"))
    }
  }

  /** Containment detection: C(A→B) = |A∩B| / |A| — the asymmetric
    * measure that catches a short document contained in a long one
    * (quotes, boilerplate wrappers, excerpt pages), which symmetric
    * Jaccard dilutes below any usable threshold. Candidates come from
    * the rare-shingle inverted index (a contained doc SHARES its rare
    * shingles with its container by definition, so the index recalls
    * these pairs); each candidate is verified with exact set counts —
    * the same one-aggregation-plus-two-count-joins shape as
    * [[verifyJaccard]], emitting containment in BOTH directions plus
    * jaccard for contrast. All ratios are exact integer divisions.
    */
  def containment(
      docs: DataFrame, threshold: Double = 0.9, maxDf: Int = 3,
      shingleSize: Int = 3
  ): DataFrame = {
    val side = graft.util.Partitioning.indexSideFor(docs)
    val sh = graft.util.AutoUnpersist.persistScoped(shingles(docs, shingleSize))
    // rare/sh/counts are vocabulary-/corpus-scaled: partitioned joins
    // unless the corpus anchor proves them small (Partitioning.indexSideFor)
    val rare = sh.groupBy("w").agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
    val rareSh = sh.join(side(rare.select("w")), "w")
    val cands = rareSh.select(col("doc_id").as("i"), col("w"))
      .join(side(rareSh.select(col("doc_id").as("j"), col("w"))), "w")
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cands
      .join(side(sh.select(col("doc_id").as("i"), col("w"))), "i")
      .join(side(sh.select(col("doc_id").as("j"), col("w"))), Seq("j", "w"))
      .groupBy("i", "j").agg(count(lit(1)).as("c"))
    common
      .join(side(counts.select(col("doc_id").as("i"), col("n").as("ni"))), "i")
      .join(side(counts.select(col("doc_id").as("j"), col("n").as("nj"))), "j")
      .select(col("i"), col("j"), col("c"), col("ni"), col("nj"),
        (col("c").cast("double") / col("ni")).as("containment_i"),
        (col("c").cast("double") / col("nj")).as("containment_j"),
        (col("c").cast("double") / (col("ni") + col("nj") - col("c")))
          .as("jaccard"))
      .filter(col("containment_i") >= threshold ||
        col("containment_j") >= threshold)
  }

  /** Full MinHash-LSH near-dup pipeline: word-kernel signatures →
    * [[lshCandidates]] → exact-Jaccard [[verifyJaccard]].
    * `pruneBp`: length-prefilter basis points for the verify (see
    * [[verifyJaccard]]) — defaults to the op's own `threshold` cut;
    * callers that apply a LOWER op threshold but cut the result at a
    * known bp downstream (the bp-exact queries pass threshold = 0 and
    * filter floor(j·10⁴) ≥ 8000 outside) pass their outer cut here.
    */
  def minhashLsh(
      docs: DataFrame, k: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.8, shingleSize: Int = 3,
      maxBucket: Int = 5000, pruneBp: Long = -1L
  ): DataFrame = {
    val prune = if (pruneBp >= 0L) pruneBp else (threshold * 10000).toLong
    // the shingle set feeds signatures AND the verify joins (4 consumers);
    // persist it instead of re-exploding the corpus each time (released
    // after the consuming action — see AutoUnpersist)
    val sh = graft.util.AutoUnpersist.persistScoped(shingles(docs, shingleSize))
    // Verify reads the FULL cached shingle frame. Two measured attempts
    // to pre-filter it to candidate-involved docs both lost:
    //  - lazy semi-join (r3): cands lands in two plan branches, scoped
    //    caches race into re-running the candidate pipeline — 2× worse;
    //  - eager localCheckpoint(cands) + semi-join (r4): race-free, but
    //    no measurable win at 1×-10× corpus (within the ±0.8 s run
    //    variance at sf0.1; a 10× disjoint-copy corpus ~11 s both
    //    ways) — the checkpoint barrier serializes candidates before
    //    verify and the extra join cancels the smaller-side savings.
    // The cached sh is simply cheap to re-read; callers that already hold
    // materialized candidates (incrementalMinhash) still pre-filter.
    val side = graft.util.Partitioning.indexSideFor(docs)
    // signatures come from the graft_word_minhash kernel straight off
    // the doc text — the cached gram frame serves only the verify (the
    // kernel's one extra corpus scan is far cheaper than the vocab
    // distinct + join + groupBy exchanges it removes)
    val sigs = minhashSignaturesKernel(docs, k, shingleSize)
    val cands = lshCandidates(sigs, k, rowsPerBand, maxBucket, side)
    verifyJaccard(cands, sh, side, prune)
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dedup: a NEW shard against a stored signature index
    * — the daily-pipeline shape, where yesterday's corpus was already
    * deduped and today's arrivals must be checked against it without
    * re-running history×history.
    *
    * `historySigs` is the persisted artifact (doc_id, m0..m{k-1} — what
    * [[minhashSignaturesKernel]] emits and a production pipeline stores
    * alongside the corpus). Only the new shard is shingled and signed;
    * history contributes its stored signatures to the banding join, and
    * candidate pairs keep only those touching ≥1 new doc. Verification
    * (true Jaccard) re-shingles JUST the history docs that appear in a
    * candidate pair — a semi-join against the candidate ids, not a
    * history re-scan. Work scales with |new| × bucket occupancy + the
    * candidate set, never with |history|².
    *
    * Equivalence contract (asserted in the spec and the DuckDB oracle):
    * the result is exactly the full-corpus [[minhashLsh]] restricted to
    * pairs with at least one new endpoint.
    */
  def incrementalMinhash(
      newDocs: DataFrame, historyDocs: DataFrame, historySigs: DataFrame,
      k: Int = 8, rowsPerBand: Int = 2, threshold: Double = 0.8,
      shingleSize: Int = 3, maxBucket: Int = 5000
  ): DataFrame = {
    // shard shingles feed the signature pipeline AND the verify union; a
    // scoped persist would be released by the first eager checkpoint
    // below (checkpointing IS a consuming action), so materialize them
    // the same way — the shard is the small side by definition
    val shNew = shingles(newDocs, shingleSize).localCheckpoint(true)
    // melted/capped are referenced from FOUR plan branches below (both
    // candidate sides, the new-bucket list, the history semi-join); a lazy
    // persist in one multi-branch query races concurrent stages into
    // recomputing the whole signature pipeline per branch (measured ~2×
    // wall). Like duplicateClusters, this op is multi-phase by nature:
    // eagerly checkpoint the tiny (docs × bands)-row band table once and
    // fan out from the materialized copy.
    val melted =
      bandMelt(minhashSignaturesKernel(newDocs, k, shingleSize), k, rowsPerBand)
        .withColumn("_new", lit(true))
        .unionByName(bandMelt(historySigs, k, rowsPerBand)
          .withColumn("_new", lit(false)))
    // the guard sees the union, so degenerate buckets are capped exactly
    // as a full run over the same corpus would cap them
    val side = graft.util.Partitioning.indexSideFor(historyDocs)
    val capped = LshGuard.capBuckets(melted.localCheckpoint(true),
      Seq("band", "sig"), maxBucket, side).localCheckpoint(true)
    val cands = capped
      .select(col("doc_id").as("i"), col("_new").as("_ni"),
        col("band"), col("sig"))
      .join(side(capped.select(col("doc_id").as("j"), col("_new").as("_nj"),
        col("band"), col("sig"))), Seq("band", "sig"))
      .filter(col("i") < col("j") && (col("_ni") || col("_nj")))
      .select("i", "j").distinct()
    // history docs needing re-shingling for the verify = exactly those
    // sharing a capped bucket with a new doc — read straight off the
    // persisted melted table instead of back through the candidate join
    // (which would put `cands` in two plan branches and run the banding
    // self-join twice)
    val newBuckets = capped.filter(col("_new"))
      .select("band", "sig").distinct()
    val candHistIds = capped.filter(!col("_new"))
      .join(newBuckets, Seq("band", "sig"))
      .select("doc_id").distinct()
    val shHist = shingles(
      historyDocs.join(candHistIds, Seq("doc_id"), "left_semi"), shingleSize)
    // the verify reads the combined shingle frame three times (counts +
    // the i/j joins) — same multi-branch race as above, so materialize it
    // once too; only shard + candidate-history shingles, not the corpus
    val shAll = shNew.unionByName(shHist).localCheckpoint(true)
    verifyJaccard(cands, shAll, side, (threshold * 10000).toLong)
      .filter(col("jaccard") >= threshold)
  }

  /** doc_id, d1..d16 (digit ints) + the 16-hex-char signature.
    *
    * Single-pass bit-vote formulation: the first 16 hex chars of md5(w)
    * are parsed ONCE per (doc, shingle) into two 32-bit halves, and the
    * 64 per-bit +1/-1 vote sums are computed as 64 `sum(when(...))`
    * aggregates in ONE groupBy(doc_id) — no ×16 row explode, one shuffle
    * with map-side partials, all codegen long arithmetic. (The previous
    * per-hex-digit explode formulation was the bench's single biggest
    * cost — 65 s combined at sf0.1.) Digit p's bit kk is 1 iff more
    * shingle hashes set it than clear it; sum==0 ties resolve to 0,
    * identical to the exploded formulation the oracle replays.
    */
  def simhashWide(sh: DataFrame): DataFrame = {
    val hashed = sh
      .select(col("doc_id"), md5(col("w")).as("h"))
      // 8 hex chars fit a long exactly; conv() returns a decimal string
      .withColumn("_hi", conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
      .withColumn("_lo", conv(substring(col("h"), 9, 8), 16, 10).cast("long"))
    // hex position p (1 = most significant), bit kk (0 = digit's LSB):
    // bit index inside the containing 32-bit half
    def vote(p: Int, kk: Int): Column = {
      val (half, bit) =
        if (p <= 8) (col("_hi"), 4 * (8 - p) + kk) else (col("_lo"), 4 * (16 - p) + kk)
      sum(when(shiftright(half, bit).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v${p}_$kk")
    }
    val aggs = for { p <- 1 to 16; kk <- 0 until 4 } yield vote(p, kk)
    val voted = hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val digits = (1 to 16).map { p =>
      (0 until 4).map(kk => when(col(s"v${p}_$kk") > 0, 1 << kk).otherwise(0))
        .reduce(_ + _).as(s"d$p")
    }
    voted.select(col("doc_id") +: digits: _*)
      .withColumn("simhash",
        concat((1 to 16).map(p =>
          expr(s"substring('0123456789abcdef', d$p + 1, 1)")): _*))
  }

  /** Per-doc 64-bit SimHash over shingle md5s, rendered as 16 hex digits
    * (hex digit p is rebuilt from the sign of the per-bit +1/-1 vote sums).
    */
  def simhash(sh: DataFrame): DataFrame =
    simhashWide(sh).select("doc_id", "simhash")

  /** SimHash near-dup pairs: candidates from 8 LSH bands of 2 hex digits
    * (8 bits) — docs within `maxHamming` bits collide in ≥1 band with high
    * probability — verified by exact bit-hamming over the 16 digits.
    * Same equi-join-only shape as MinHash banding.
    */
  def simhashPairs(
      sh: DataFrame, maxHamming: Int = 12, maxBucket: Int = 5000,
      side: DataFrame => DataFrame = graft.util.Partitioning.indexSide
  ): DataFrame =
    bandedHammingPairs(simhashWide(sh), maxHamming, maxBucket, side)

  /** Banded Hamming pairs over ANY 64-bit fingerprint in wide nibble form
    * (`doc_id, d1..d16` — the [[simhashWide]] layout, also produced by
    * `Multimodal.aHashWide` for perceptual image hashes): candidates from
    * 8 LSH bands of 2 hex digits verified by exact bit-hamming. Banding
    * is probabilistic — a pair within `maxHamming` bits collides in ≥1
    * band with high (not certain) probability; the exact blocked
    * formulation is the oracle twin at test scale.
    */
  def bandedHammingPairs(
      wideIn: DataFrame, maxHamming: Int = 12, maxBucket: Int = 5000,
      side: DataFrame => DataFrame = graft.util.Partitioning.indexSide
  ): DataFrame = {
    val wide = graft.util.AutoUnpersist.persistScoped(wideIn)
    val melted = graft.util.AutoUnpersist.persistScoped(
      wide.select(col("doc_id"),
        explode(array((0 until 8).map { b =>
          struct(lit(b).as("band"),
            concat_ws(":", col(s"d${2 * b + 1}"), col(s"d${2 * b + 2}")).as("key"))
        }: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.key")))
    val capped = graft.util.AutoUnpersist.persistScoped(
      LshGuard.capBuckets(melted, Seq("band", "key"), maxBucket, side))
    val cands = capped.select(col("doc_id").as("i"), col("band"), col("key"))
      .join(side(capped.select(col("doc_id").as("j"), col("band"), col("key"))),
        Seq("band", "key"))
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
    val hamming = (1 to 16).map(p =>
      expr(s"bit_count(ai.d$p ^ bj.d$p)")).reduce(_ + _)
    cands
      .join(wide.as("ai"), col("i") === col("ai.doc_id"))
      .join(wide.as("bj"), col("j") === col("bj.doc_id"))
      .select(col("i"), col("j"), hamming.cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** EXACT Hamming pairs over wide-nibble fingerprints — the all-pairs
    * oracle twin of [[bandedHammingPairs]] (blocked equi-join, no BNLJ;
    * O(N²) by definition, test-scale only — same role as
    * `Similarity.exactNearDupPairs`).
    */
  def exactHammingPairs(
      wide: DataFrame, maxHamming: Int = 12, nBlocks: Int = 8
  ): DataFrame = {
    val left = wide.select(col("doc_id").as("i") +:
        (1 to 16).map(p => col(s"d$p").as(s"a$p")): _*)
      .withColumn("_jb", explode(sequence(lit(0), lit(nBlocks - 1))))
    val right = wide.select(col("doc_id").as("j") +:
        ((1 to 16).map(p => col(s"d$p").as(s"b$p")) :+
          pmod(col("doc_id"), lit(nBlocks)).as("_jb")): _*)
    val hamming = (1 to 16).map(p =>
      expr(s"bit_count(a$p ^ b$p)")).reduce(_ + _)
    left.join(right, "_jb")
      .filter(col("i") < col("j"))
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("i", "j", "hamming")
  }

  /** Resolve near-dup pairs into duplicate clusters (connected components)
    * and pick a survivor per cluster (min id). Iterative min-label
    * propagation over the pair edges — each round is one shuffle join —
    * PLUS a pointer-doubling shortcut per convergence cycle from cycle
    * 3 on (label(v) ← label(label(v)), one labels×labels equi-join on
    * the doc-sized label table): labels only ever decrease, so the
    * shortcut composes two already-known reachability maps and the
    * min's horizon roughly DOUBLES per cycle instead of advancing two
    * hops — O(log diameter) cycles on chain-shaped components (the
    * large-star/small-star convergence law of Kiveris et al. 2014, via
    * the cheaper shortcut formulation). Near-clique dedup blobs — the
    * norm — converge in cycle 1 and verify in cycle 2, so they never
    * pay the shortcut join at all. `maxIter` (propagation rounds)
    * bounds the worst case; each convergence cycle is one
    * [[graft.util.Loop]] round, so an unconverged exit is counted there.
    *
    * Returns (doc_id, cluster_id) for every node that appears in a pair;
    * docs absent from `pairs` are implicitly their own cluster.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // materialize the (possibly expensive candidate-generation) pair
    // pipeline ONCE, eagerly, before anything references it twice: a lazy
    // persist is populated DURING the first job, so the union's two
    // branches — racing in concurrent stages — would each recompute the
    // full lineage instead of hitting the cache. An eager localCheckpoint
    // also truncates the plan, so every iteration below re-analyzes a
    // two-column leaf rather than the whole LSH pipeline.
    val p = pairs.localCheckpoint(true)
    // undirected edge list, both directions (cheap: two scans of the
    // checkpointed blocks), cached across propagation rounds
    val edges = p.select(col("i").as("a"), col("j").as("b"))
      .union(p.select(col("j").as("a"), col("i").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels0 = edges.groupBy(col("a").as("doc_id"))
      .agg(least(min(col("b")), first(col("a"))).as("cluster_id"))
    // `keepPrev` carries the INPUT label alongside the output one, so
    // the convergence check below is a plain filter over the
    // checkpointed round — it used to be a labels×labels shuffle join
    // per cycle (r9 optimization: one fewer shuffle join + job per
    // cycle, at every scale)
    def propagate(l: DataFrame, keepPrev: Boolean = false): DataFrame = {
      val joined = edges
        .join(l.withColumnRenamed("doc_id", "b"), "b")
        .groupBy(col("a").as("doc_id"))
        .agg(min(col("cluster_id")).as("nbr_min"))
        .join(l.select("doc_id", "cluster_id"), "doc_id")
      val outCols = Seq(col("doc_id"),
        least(col("nbr_min"), col("cluster_id")).as("cluster_id")) ++
        (if (keepPrev) Seq(col("cluster_id").as("_prev")) else Nil)
      joined.select(outCols: _*)
    }
    // pointer doubling: labels satisfy label(v) ≤ v and only decrease,
    // so label(label(v)) is a same-component id no larger than label(v)
    // — safe to adopt, and it squares the reachability map. Left join:
    // every label value is a node that appears in `labels` (labels cover
    // all edge endpoints), but coalesce keeps the op total regardless.
    // Extra columns (the convergence check's `_prev`) pass through.
    def shortcut(l: DataFrame): DataFrame = {
      val extra = l.columns.filter(c => c != "doc_id" && c != "cluster_id")
        .map(col)
      l.join(l.select(col("doc_id").as("cluster_id"),
          col("cluster_id").as("_gp")), Seq("cluster_id"), "left")
        .select(Seq(col("doc_id"),
          coalesce(col("_gp"), col("cluster_id")).as("cluster_id")) ++
          extra: _*)
    }
    // two propagation rounds per convergence check: dedup clusters are
    // near-cliques (diameter ≤ 2 is the norm), so checking every round
    // just doubles the job count. The label frame is one row per paired
    // doc — tiny relative to the edge data.
    // the shortcut only pays off on components deeper than the hops
    // plain cycles walk, so it stays off until cycle 3: near-clique
    // corpora (the dedup norm) fully resolve in cycle 1 and verify in
    // cycle 2 — they never pay the extra join at all (measured parity
    // on the clusters-derived battery queries) — while chain-shaped
    // components still get the O(log diameter) law from cycle 3 on
    // (reach 2, 4, then r → 2(r+2) per cycle).
    // convergence = the OUTER propagate (and the shortcut) changed
    // nothing. That is a fixed point of propagate: label(a) ≤
    // label(b) for every edge (a,b) in BOTH directions (edges are
    // undirected), hence labels are constant per component — fully
    // converged. `_prev` rides inside the checkpointed frame, so the
    // check is a filter over materialized blocks — no join, no shuffle.
    // An exit at the cap with labels still moving means some
    // component's diameter exceeds the propagation horizon (min-label
    // moves one hop per round): the labels are then an over-segmentation
    // of the true components — near-dup chains longer than ~2·maxIter
    // hops (heavily templated corpora) come back as several clusters.
    val labels = graft.util.Loop.until("duplicateClusters", labels0,
        (maxIter + 1) / 2) { (labels, cycle) =>
      val stepped = propagate(propagate(labels.drop("_prev")), keepPrev = true)
      if (cycle >= 3) shortcut(stepped) else stepped
    } { next =>
      next.filter(col("cluster_id") =!= col("_prev")).limit(1).count() == 0
    }.drop("_prev")
    // the returned frame is checkpointed — it no longer depends on this
    // (p's checkpoint blocks are reclaimed by the ContextCleaner on GC)
    edges.unpersist(false)
    labels
  }

  /** Survivor list: one kept doc per duplicate cluster (min id wins). */
  def survivors(pairs: DataFrame): DataFrame =
    duplicateClusters(pairs)
      .groupBy("cluster_id")
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("cluster_size"))

  /** Score-based survivor policy: per duplicate cluster, keep the member
    * with the highest `scoreCol` (ties: lowest id) — the production
    * policy when a quality signal exists (min-id keeps whichever crawl
    * shard arrived first; this keeps the best copy). One equi-join of
    * the cluster labels against the scored corpus plus one argmax
    * aggregation (max over a (score, -id) struct — no window over the
    * corpus).
    */
  def survivorsBy(
      pairs: DataFrame, scored: DataFrame, scoreCol: String,
      idCol: String = "doc_id"
  ): DataFrame =
    duplicateClusters(pairs)
      .join(scored.select(col(idCol).as("doc_id"), col(scoreCol).as("_s")),
        "doc_id")
      .groupBy("cluster_id")
      .agg(max(struct(col("_s").as("s"), (-col("doc_id")).as("negid"))).as("b"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), (-col("b.negid")).as("keep_id"),
        col("b.s").as("keep_score"), col("cluster_size"))

  /** Leakage-safe train/val/test split: fold assignment hashes the
    * near-duplicate CLUSTER id (singletons: the doc's own id), so two
    * near-duplicate documents can never straddle a fold boundary — the
    * eval-contamination mode a per-doc hash split has by construction
    * (a train doc's near-copy lands in test with probability
    * 1 − 1/buckets per pair). The split stays deterministic, stable
    * under corpus growth for unaffected clusters, and proportional in
    * expectation; only the hash INPUT changes vs the naive split.
    *
    * Scale shape: cluster labels come from [[duplicateClusters]] (the
    * checkpointed label propagation), then one left equi-join of the
    * corpus against the label table — which holds only PAIRED docs, a
    * tiny fraction of the corpus — plus a pure hash projection. Nothing
    * new shuffles at corpus width.
    *
    * Out: the input rows plus `cluster_id` (null for singletons),
    * `split_key`, `split` ∈ {train, val, test}.
    */
  def clusterSafeSplit(docs: DataFrame, pairs: DataFrame,
      buckets: Int = 10, trainUpto: Long = 8L, valUpto: Long = 9L
  ): DataFrame = {
    val keyed = docs.join(duplicateClusters(pairs), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
    val bucket = pmod(
      conv(substring(md5(col("split_key").cast("string")), 1, 4), 16, 10)
        .cast("long"),
      lit(buckets.toLong))
    keyed.withColumn("split",
      when(bucket < trainUpto, "train")
        .when(bucket < valUpto, "val")
        .otherwise("test"))
  }

  /** Inverted-index candidates: pairs sharing a shingle that occurs in at
    * most `maxDf` documents (rare-feature join — bounded fan-out, no cross
    * product), verified with exact Jaccard.
    *
    * ==Recall trade — prefer [[prefixFilterJaccard]] for exact recall==
    * The `maxDf` rarity filter makes this op RECALL-INCOMPLETE BY
    * CONSTRUCTION: two documents whose every shared shingle occurs in
    * more than `maxDf` documents are NEVER paired, no matter how similar
    * they are — e.g. boilerplate-heavy near-duplicates built entirely
    * from corpus-common phrases (see the "ngramJaccard misses what
    * prefix filtering finds" DedupSimilaritySpec fixture). Use this op
    * only when that trade is wanted (rare-feature linkage, cheap
    * screening of distinctive content). For a candidate set that is
    * COMPLETE at a Jaccard threshold — guaranteed by the pigeonhole
    * prefix bound (Bayardo et al. 2007), no df cap, no probability —
    * use [[prefixFilterJaccard]]; it is the default recommendation for
    * dedup decisions that feed deletion.
    */
  def ngramJaccard(docs: DataFrame, maxDf: Int = 3, shingleSize: Int = 3): DataFrame = {
    val side = graft.util.Partitioning.indexSideFor(docs)
    val sh = graft.util.AutoUnpersist.persistScoped(shingles(docs, shingleSize))
    val rare = sh.groupBy("w").agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
    // rare ≈ the vocabulary on diverse corpora — partitioned join unless
    // the corpus anchor proves it small (see Partitioning.indexSideFor)
    val rareSh = sh.join(side(rare.select("w")), "w")
    val cands = rareSh.select(col("doc_id").as("i"), col("w"))
      .join(side(rareSh.select(col("doc_id").as("j"), col("w"))), "w")
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
    verifyJaccard(cands, sh, side)
  }

  /** Character n-gram shingle sets over whitespace-STRIPPED text — the
    * shingling for scripts word tokenization mis-serves (CJK, Thai have
    * no spaces; the same content re-segmented differently is the same
    * content) and for robustness to spacing/formatting edits generally.
    * Stripping whitespace BEFORE gramming is the point: a re-spaced
    * copy has the identical gram set, where word shingles see disjoint
    * token streams. "Whitespace" is the FULL class — tab, newline, CR,
    * FF, VT, and every Unicode separator (\\p{Z}: NBSP, U+3000
    * ideographic space, …) — spelled as an explicit character class
    * because Java's `\\s` and RE2's `\\s` disagree on VT and both are
    * ASCII-only; a copy re-spaced with tabs or CJK full-width spaces
    * must still gram identically. Codegen position-explode + substr,
    * NOT a HOF transform (the cdcChunks lesson — interpreted
    * per-element lambdas cost ~3× on corpus-character streams); the
    * explode is a pure projection and only the distinct shuffles.
    */
  val WhitespaceClass = "[\\t\\n\\u000B\\f\\r\\p{Z}]+"

  def charShingles(docs: DataFrame, n: Int = 5): DataFrame = {
    val ct = col("_ct")
    graft.util.Partitioning.fanOut(docs)
      .select(col("doc_id"),
        regexp_replace(col("text"), WhitespaceClass, "").as("_ct"))
      .filter(length(ct) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(ct) - n + 1)).as("_i"), ct)
      .select(col("doc_id"), ct.substr(col("_i"), lit(n)).as("w"))
      .distinct()
  }

  /** [[minhashLsh]] on character shingles — same md5 family and
    * banding/verify machinery, different feature space. The scale
    * arguments transfer verbatim; the char vocabulary is larger
    * (≈ chars per doc vs tokens per doc).
    */
  def minhashLshChars(
      docs: DataFrame, k: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.8, n: Int = 5,
      maxBucket: Int = 5000, pruneBp: Long = -1L
  ): DataFrame = {
    val prune = if (pruneBp >= 0L) pruneBp else (threshold * 10000).toLong
    val side = graft.util.Partitioning.indexSideFor(docs)
    val sh = graft.util.AutoUnpersist.persistScoped(charShingles(docs, n))
    // char grams are nearly all unique (occurrences ≈ vocabulary), so
    // the word path's vocabulary-distinct + join-back md5 amortization
    // only COSTS here (r8 finding). r10: the per-gram md5 fold runs as
    // the graft_char_minhash codegen kernel — one pass over the
    // stripped text per DOC computes every lane min (min over
    // occurrences ≡ min over the distinct gram set), so the signature
    // side sheds the gram explode, the distinct() exchange, the k-min
    // aggregation exchange, and all per-gram hex-string building. Same
    // md5 family, bit-identical signatures (CharMinhashSpec pins the
    // kernel against the explode→distinct→groupBy formulation); the
    // gram frame `sh` survives only for the exact-Jaccard verify.
    import org.apache.spark.sql.graftshim.GraftShim
    val ct = col("_ct")
    val sigs = graft.util.Partitioning.fanOut(docs)
      .select(col("doc_id"),
        regexp_replace(col("text"), WhitespaceClass, "").as("_ct"))
      .filter(length(ct) >= n)
      .select(col("doc_id"), GraftShim.column(
        graft.sql.expressions.CharMinhash(
          GraftShim.expression(ct), n, k)).as("_ms"))
      .select(col("doc_id") +:
        (0 until k).map(s => col("_ms").getItem(s).as(s"m$s")): _*)
    val cands = lshCandidates(sigs, k, rowsPerBand, maxBucket, side)
    verifyJaccard(cands, sh, side, prune)
      .filter(col("jaccard") >= threshold)
  }

  /** Exact set-similarity join with a COMPLETENESS guarantee via prefix
    * filtering (Bayardo, Ma & Srikant 2007, "Scaling Up All Pairs
    * Similarity Search"; the candidate scheme PPJoin builds on): order
    * the shingle universe by (df asc, shingle) — rarest first — and
    * index only each doc's PREFIX, its first n − ⌈t·n⌉ + 1 shingles in
    * that order. Two sets with Jaccard ≥ t overlap in ≥ ⌈t·max(n)⌉
    * elements, so skipping the last ⌈t·n⌉ − 1 of either set cannot
    * erase the overlap: any qualifying pair MUST collide on a prefix
    * shingle. This makes the third candidate family here exact-recall —
    * unlike maxDf rarity (heuristic recall) or MinHash banding
    * (probabilistic recall) — while candidate volume still collapses,
    * because the global order puts the RARE shingles in every prefix.
    *
    * All arithmetic is integer: ⌈t·n⌉ at t = thresholdBp/10⁴ is
    * (thresholdBp·n + 9999) div 10⁴; the per-doc prefix rank is one
    * doc-partitioned window over (df, shingle) — a consistent global
    * total order applied locally, no global sort. Verification is the
    * shared exact-count [[verifyJaccard]].
    */
  def prefixFilterJaccard(
      docs: DataFrame, thresholdBp: Long = 8000, shingleSize: Int = 3
  ): DataFrame = {
    val side = graft.util.Partitioning.indexSideFor(docs)
    val sh = graft.util.AutoUnpersist.persistScoped(shingles(docs, shingleSize))
    prefixFilterJaccardOn(sh, thresholdBp, side)
  }

  /** [[prefixFilterJaccard]] over an ALREADY-SHINGLED (and ideally
    * persisted) frame `(doc_id, w)` — the composition point for callers
    * that feed several candidate generators from one shingle explode
    * (e.g. the LSH-recall audit, which runs this exact-recall join and
    * MinHash banding over the SAME gram frame; re-exploding the corpus
    * per generator would double the dominant scan+explode cost).
    * `side` must carry the caller's corpus-size evidence — pass
    * [[graft.util.Partitioning.indexSideFor]] of the source corpus.
    */
  def prefixFilterJaccardOn(
      sh: DataFrame, thresholdBp: Long,
      side: DataFrame => DataFrame = graft.util.Partitioning.indexSide
  ): DataFrame =
    verifyJaccard(prefixFilterCandidates(sh, thresholdBp, side), sh, side,
        thresholdBp)
      .select(col("i"), col("j"),
        floor(col("jaccard") * 10000).cast("long").as("jaccard_bp"))
      .filter(col("jaccard_bp") >= thresholdBp)

  /** The CANDIDATE stage of [[prefixFilterJaccardOn]] — distinct (i, j)
    * pairs colliding on a prefix shingle, exact-recall at `thresholdBp`
    * by the pigeonhole bound. Exposed separately so audits that verify
    * SEVERAL candidate generators against one shingle frame (the LSH
    * recall audit) can union candidate sets and run the exact-Jaccard
    * verify ONCE instead of once per generator.
    */
  def prefixFilterCandidates(
      sh: DataFrame, thresholdBp: Long,
      side: DataFrame => DataFrame = graft.util.Partitioning.indexSide,
      docSizes: Option[DataFrame] = None
  ): DataFrame = {
    require(thresholdBp > 0 && thresholdBp <= 10000, s"bad t: $thresholdBp")
    // df table ≈ vocabulary, sizes ≈ docs: both corpus-scaled —
    // partitioned joins unless the corpus anchor proves them small.
    // `docSizes` lets callers that ALSO aggregate per-doc gram counts
    // (the verify stage does) hand in one shared persisted (doc_id, n)
    // frame instead of re-aggregating the gram stream here (r10, the
    // lsh_recall audit: one fewer corpus-gram exchange).
    val dfc = sh.groupBy("w").agg(count(lit(1)).as("df"))
    val sizes = docSizes.getOrElse(
      sh.groupBy("doc_id").agg(count(lit(1)).as("n")))
    val wnd = Window.partitionBy("doc_id").orderBy("df", "w")
    val pref = graft.util.AutoUnpersist.persistScoped(
      sh.join(side(dfc), "w")
        .join(side(sizes), "doc_id")
        .withColumn("_rnk", row_number().over(wnd))
        .filter(col("_rnk") <=
          col("n") - expr(s"($thresholdBp * n + 9999) div 10000") + 1)
        .select("doc_id", "w"))
    pref.select(col("doc_id").as("i"), col("w"))
      .join(side(pref.select(col("doc_id").as("j"), col("w"))), "w")
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
  }
}
