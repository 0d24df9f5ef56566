package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (the SentencePiece unigram model of
  * Kudo 2018, "Subword Regularization") in Viterbi hard-EM form,
  * deterministic and engine-replayable end to end:
  *
  *   1. SEED: every substring of length ≤ `pieceLen` of every distinct
  *      word, corpus-frequency-weighted; pieces below `minSeedFreq`
  *      drop — except single characters, which never leave the
  *      vocabulary (the segmentability guarantee).
  *   2. SCORE: piece cost = L(total) − L(count) in 2⁻¹⁶-bit units,
  *      where L is the fixed-point square-and-shift log2
  *      ([[TextAnalysis.withPseudoLog2]]) — integer arithmetic only,
  *      so costs are bit-identical in any engine.
  *   3. VITERBI (E-step): per word, the min-cost segmentation by a
  *      FORWARD DP that carries the path: dp_i = least over k ≤
  *      `pieceLen` of dp_{i−k} + cost(piece ending at i), the
  *      segmentation string rides alongside (ties prefer the LONGER
  *      piece). Words are ≤ `maxWordLen` chars, so the recurrence
  *      unrolls into a fixed column chain — no per-row iteration, no
  *      UDF, pure codegen.
  *   4. RECOUNT (hard M-step): piece usage over the chosen
  *      segmentations, frequency-weighted; unused non-char pieces are
  *      pruned (the EM prune), unused chars keep a floor count of 1.
  *   5. Re-score, re-segment (`rounds` total Viterbi passes).
  *
  * Training data is the DISTINCT-word table (corpus touched once — the
  * same "encoding is a function of the word" argument as bpeEncode):
  * all DP work is vocabulary-sized, and corpus volume only feeds the
  * initial frequency count. Words longer than `maxWordLen` or
  * containing the segment separator '|' are excluded from training by
  * rule (both engines apply the same filter).
  *
  * Scale shape: the melt is ≤ maxWordLen·pieceLen rows per distinct
  * word; the pivot back is one map-side-combinable groupBy to one row
  * per word with ≤ 36 cost columns; each Viterbi round is a pure
  * projection over that frame. Nothing in the EM loop ever touches the
  * corpus again. At a 10M-word vocabulary every stage is a ~10M-row
  * narrow frame — executor-trivial.
  */
object UnigramTokenizer {

  /** (word, freq) for words eligible under the training rules. */
  def words(docs: DataFrame, maxWordLen: Int): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(length(col("word")).between(1, maxWordLen) &&
        !col("word").contains("|"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** One row per (word, freq, i, k, piece): the piece of length k
    * ending at 1-based char position i.
    */
  private def melt(w: DataFrame, maxWordLen: Int, pieceLen: Int): DataFrame =
    w.select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1), least(lit(pieceLen), col("i")))).as("k"))
      .withColumn("piece",
        col("word").substr(col("i") - col("k") + 1, col("k")))

  /** cost(piece) = L(total) − L(cnt) from a (piece, cnt) table. */
  private def score(counts: DataFrame): DataFrame = {
    val withL = TextAnalysis.withPseudoLog2(counts, "cnt", "_lc")
    val tot = TextAnalysis.withPseudoLog2(
      counts.agg(sum("cnt").as("cnt")), "cnt", "_lt")
      .select(col("_lt"))
    withL.crossJoin(broadcast(tot))
      .select(col("piece"), (col("_lt") - col("_lc")).as("cost"))
  }

  /** One Viterbi pass: per word, total cost and '|'-prefixed
    * segmentation under `scores`. Output (word, freq, cost, seg).
    */
  private def viterbi(m: DataFrame, scores: DataFrame,
      maxWordLen: Int, pieceLen: Int): DataFrame = {
    val wc = m.join(scores, "piece")
    val aggs = for {
      i <- 1 to maxWordLen; k <- 1 to pieceLen if k <= i
    } yield max(when(col("i") === i && col("k") === k, col("cost")))
      .as(s"c_${i}_$k")
    var df = wc.groupBy("word", "freq").agg(aggs.head, aggs.tail: _*)
      .withColumn("dp_0", lit(0L))
      .withColumn("seg_0", lit(""))
    for (i <- 1 to maxWordLen) {
      val ks = (1 to pieceLen).filter(_ <= i)
      val cands = ks.map(k => col(s"dp_${i - k}") + col(s"c_${i}_$k"))
      val dpI = if (cands.size == 1) cands.head else least(cands: _*)
      df = df.withColumn(s"dp_$i", dpI)
      // tie rule: among candidates equal to the minimum, the LONGEST
      // piece wins (checked k descending)
      val segI = ks.reverse.foldLeft(lit(null).cast("string")) { (acc, k) =>
        val cand = col(s"dp_${i - k}") + col(s"c_${i}_$k")
        coalesce(acc,
          when(cand.isNotNull && cand === col(s"dp_$i"),
            concat(col(s"seg_${i - k}"), lit("|"),
              col("word").substr(lit(i - k + 1), lit(k)))))
      }
      df = df.withColumn(s"seg_$i", segI)
    }
    val pickDp = coalesce((1 to maxWordLen).map(i =>
      when(length(col("word")) === i, col(s"dp_$i"))): _*)
    val pickSeg = coalesce((1 to maxWordLen).map(i =>
      when(length(col("word")) === i, col(s"seg_$i"))): _*)
    df.select(col("word"), col("freq"),
      pickDp.as("cost"), pickSeg.as("seg"))
  }

  /** Full training run. Output: one row per trained word —
    * (word, freq, n_pieces, seg, cost_l16) with `seg` '|'-joined and
    * cost in 2⁻¹⁶-bit units, after `rounds` Viterbi passes.
    */
  def train(
      docs: DataFrame, maxWordLen: Int = 12, pieceLen: Int = 3,
      rounds: Int = 2, minSeedFreq: Long = 3L
  ): DataFrame = {
    require(rounds >= 1 && maxWordLen >= 1 && pieceLen >= 1)
    // every stage below is vocabulary-sized
    val m = melt(words(docs, maxWordLen), maxWordLen, pieceLen)
      .localCheckpoint(true)
    val chars = m.filter(col("k") === 1).select("piece").distinct()
    val seed = m.groupBy("piece").agg(sum("freq").as("cnt"))
      .filter(col("cnt") >= minSeedFreq || length(col("piece")) === 1)
    val seedScores = score(seed).localCheckpoint(true)
    // rounds − 1 re-scorings, each from the pieces the current scores'
    // segmentation uses; the last Viterbi pass only segments. A pass is
    // an unrolled DP plan, so it is materialized before anything reads it.
    val scores = graft.util.Loop.rounds(seedScores, rounds - 1) { (scores, _) =>
      val usage = viterbi(m, scores, maxWordLen, pieceLen).localCheckpoint(true)
        .select(col("freq"),
          explode(split(expr("substring(seg, 2)"), "\\|")).as("piece"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
      val floorChars = chars
        .join(usage.select("piece"), Seq("piece"), "left_anti")
        .withColumn("cnt", lit(1L))
      score(usage.unionByName(floorChars))
    }
    viterbi(m, scores, maxWordLen, pieceLen).localCheckpoint(true)
      .select(col("word"), col("freq"),
        (size(split(col("seg"), "\\|")) - 1).as("n_pieces"),
        expr("substring(seg, 2)").as("seg"),
        col("cost").as("cost_l16"))
  }

  /** Apply a trained model to a corpus: per doc, word and piece totals
    * plus fertility (pieces per word, basis points) — the context-
    * budget number a tokenizer change moves. Segmentation is a
    * function of the WORD, so the corpus pays ONE equi-join against
    * the trained table plus a per-doc count; words outside the model
    * (longer than the training cap, or containing '|') fall back to
    * one piece per character — the same char-fallback rule training
    * guarantees, applied by rule.
    */
  def encode(docs: DataFrame, trained: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("word"))
      .join(trained.select(col("word"), col("n_pieces")), Seq("word"), "left")
      .withColumn("_p",
        coalesce(col("n_pieces").cast("long"), length(col("word")).cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("_p").as("n_pieces"))
      .withColumn("fertility_bp", expr("n_pieces * 10000 div n_words"))
}
