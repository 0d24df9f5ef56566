package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SFT / chat-corpus intake: parse serialized conversations (the JSON
  * `[{"role":…,"content":…}, …]` interchange shape every instruction-
  * tuning pipeline ingests), validate the turn structure, and fingerprint
  * the chat-template rendering the tokenizer will actually see.
  *
  * Shape: one `from_json` + higher-order-function projection per doc —
  * pure codegen, no shuffle, no explode (the turn array never leaves the
  * row, so a 10-turn and a 500-turn conversation cost the same plan).
  * Every count is BIGINT and the validity flags are pure boolean algebra
  * over the parsed array, so any engine that rebuilds the same
  * (role, content) sequence replays the stats bit-for-bit — JSON
  * serialization quirks never reach the compare.
  */
object ChatData {

  /** The interchange turn schema. */
  val TurnSchema = "array<struct<role:string,content:string>>"

  /** Per-conversation structural stats + validity flags:
    *   `n_turns` / `n_user` / `n_assistant` / `n_system`;
    *   `n_empty_turns` (content = "");
    *   `n_tokens` (whitespace tokens across all contents);
    *   `starts_user` (first NON-system turn is the user's);
    *   `alternates` (no two consecutive equal roles once system turns
    *     are dropped — the strict user/assistant ping-pong SFT trainers
    *     assume);
    *   `pass_chat` = starts_user ∧ alternates ∧ no empty turns ∧ ≥2
    *     turns;
    *   `render_md5` — md5 of the `<|role|>content` newline-joined chat
    *     template, the dedup/caching key for the tokenizer input.
    *
    * The parsed array and the non-system role list are materialized as
    * columns BEFORE any lambda that walks them (the measured HOF
    * re-evaluation trap: a lambda closing over `from_json` would
    * re-parse the JSON once per element).
    */
  def conversationStats(
      df: DataFrame, jsonCol: String = "conv_json",
      idCol: String = "doc_id"
  ): DataFrame =
    df
      .withColumn("_turns", from_json(col(jsonCol), TurnSchema,
        Map.empty[String, String]))
      .withColumn("_roles_nonsys",
        filter(transform(col("_turns"), t => t.getField("role")),
          r => r =!= "system"))
      .withColumn("n_turns", size(col("_turns")).cast("long"))
      .withColumn("n_user",
        size(filter(col("_turns"), t => t.getField("role") === "user"))
          .cast("long"))
      .withColumn("n_assistant",
        size(filter(col("_turns"), t => t.getField("role") === "assistant"))
          .cast("long"))
      .withColumn("n_system",
        size(filter(col("_turns"), t => t.getField("role") === "system"))
          .cast("long"))
      .withColumn("n_empty_turns",
        size(filter(col("_turns"), t => t.getField("content") === ""))
          .cast("long"))
      .withColumn("n_tokens",
        aggregate(col("_turns"), lit(0L), (acc, t) =>
          acc + size(filter(split(t.getField("content"), " "),
            w => w =!= "")).cast("long")))
      .withColumn("starts_user",
        size(col("_roles_nonsys")) > 0 &&
          element_at(col("_roles_nonsys"), 1) === "user")
      // pairwise role[i] <=> role[i+1] via a 1-shifted zip; the shorter
      // shifted side pads with null and `<=>` makes that a clean false
      .withColumn("alternates",
        !exists(zip_with(col("_roles_nonsys"),
          slice(col("_roles_nonsys"), lit(2),
            greatest(size(col("_roles_nonsys")) - 1, lit(0))),
          (a, b) => a <=> b), x => x))
      .withColumn("pass_chat",
        col("starts_user") && col("alternates") &&
          col("n_empty_turns") === 0L && col("n_turns") >= 2L)
      .withColumn("render_md5",
        md5(array_join(transform(col("_turns"), t =>
          concat(lit("<|"), t.getField("role"), lit("|>"),
            t.getField("content"))), "\n")))
      .select(idCol, "n_turns", "n_user", "n_assistant", "n_system",
        "n_empty_turns", "n_tokens", "starts_user", "alternates",
        "pass_chat", "render_md5")

  /** Fleiss' kappa — chance-corrected inter-rater agreement over an
    * annotation table `(item, rater, label)`, the acceptance gate every
    * human-labeled SFT/RLHF batch passes before training (low kappa =
    * the labeling guideline, not the data, is the problem).
    *
    * Exact integer form (n = ratings per item, N = items, counts
    * n_ij per item×category, column totals c_j = Σ_i n_ij):
    *
    *   P̄  = (Σ_ij n_ij² − N·n) / (N·n·(n−1))      observed agreement
    *   P̄e = Σ_j c_j² / (N·n)²                      chance agreement
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    *
    * Both P's are first quantized to 10⁻⁸ (`div`, positive operands) and
    * κ to basis points from those — every intermediate is a BIGINT
    * ratio of exact counts, so any engine replays the value bit-for-bit.
    * Requires a constant n per item (Fleiss' design) — ENFORCED: when
    * `n_ratings_min != n_ratings_max` the P̄-dependent outputs
    * (`pbar_e8`, `kappa_bp`) come back NULL rather than a silently
    * wrong κ, and the `n_ratings_*` columns show the violation.
    *
    * Shape: one (item,label) count (map-side combinable, fan-out ≤
    * categories per item), then two global single-row aggregates — no
    * joins, no windows. Overflow bound: c_j² and (Nn)² must fit BIGINT,
    * i.e. N·n ≲ 3·10⁹ ratings; past that, run it on a deterministic
    * md5 item-sample (agreement is a statistic — a 10⁷-item sample
    * pins κ to far inside a basis point).
    *
    * Out: one row `(n_items, n_ratings_min, n_ratings_max,
    * n_categories, pbar_e8, pe_e8, kappa_bp)`.
    */
  def fleissKappa(
      ratings: DataFrame, itemCol: String = "item",
      raterCol: String = "rater", labelCol: String = "label"
  ): DataFrame = {
    val cell = ratings.groupBy(col(itemCol).as("_it"), col(labelCol).as("_lb"))
      .agg(count(lit(1)).as("_c"))
    val perItem = cell.groupBy("_it")
      .agg(sum(col("_c")).as("_n"), sum(expr("_c * _c")).as("_ss"))
    val perCat = cell.groupBy("_lb").agg(sum(col("_c")).as("_cj"))
    val top = perItem.agg(
      count(lit(1)).as("n_items"),
      min(col("_n")).as("n_ratings_min"),
      max(col("_n")).as("n_ratings_max"),
      sum(col("_ss")).as("_a"),
      sum(col("_n")).as("_nn"))
    val cats = perCat.agg(
      count(lit(1)).as("n_categories"),
      sum(expr("_cj * _cj")).as("_csq"))
    top.crossJoin(cats) // both sides are single-row aggregates
      .withColumn("pbar_e8",
        expr("if(n_ratings_min = n_ratings_max, " +
          "(_a - _nn) * 100000000L div (_nn * (n_ratings_max - 1)), null)"))
      .withColumn("pe_e8", expr("_csq * 100000000L div (_nn * _nn)"))
      .withColumn("kappa_bp",
        expr("(pbar_e8 - pe_e8) * 10000 div (100000000L - pe_e8)"))
      .select("n_items", "n_ratings_min", "n_ratings_max", "n_categories",
        "pbar_e8", "pe_e8", "kappa_bp")
  }

  /** Cohen's kappa per RATER PAIR — the pairwise companion to
    * [[fleissKappa]]: where Fleiss grades the whole pool, this surfaces
    * WHICH annotator pairs disagree (the triage view a labeling-ops
    * review wants: one drifting rater shows up as a low-κ row against
    * everyone, not as a diluted pool statistic).
    *
    * Exact integer form over each pair's co-rated items (n items,
    * `agree` exact matches, per-label marginals a_c / b_c):
    *
    *   κ = (n·agree − Σ_c a_c·b_c) / (n² − Σ_c a_c·b_c)
    *
    * shipped as `kappa_bp` = sign·(|num|·10⁴ div den) — truncation
    * toward zero on BOTH engines (Spark `div` and DuckDB `//` agree on
    * negatives, so a worse-than-chance pair replays exactly). NULL when
    * the denominator is 0 (all mass on one label — κ undefined).
    *
    * Shape: one self-join on the item key (pairs per item ≤ raters², the
    * annotation-design bound, never corpus²), one (pair,label,label)
    * count, then label-domain marginal joins — per-pair state is
    * labels², corpus-independent. Overflow: n²·10⁴ fits BIGINT to
    * n ≈ 3·10⁷ co-rated items per pair.
    *
    * Out: per pair `(r1, r2, n_items, n_agree, pe_num, kappa_bp)` with
    * r1 < r2; `pe_num` = Σ a_c·b_c for auditability.
    */
  def cohenKappa(ratings: DataFrame, itemCol: String = "item",
      raterCol: String = "rater", labelCol: String = "label"): DataFrame = {
    val r = ratings.select(col(itemCol).as("_it"), col(raterCol).as("_r"),
      col(labelCol).cast("long").as("_l")).localCheckpoint(true)
    val pairs = r.as("a").join(r.as("b"),
        expr("a._it = b._it AND a._r < b._r"))
      .select(col("a._r").as("r1"), col("b._r").as("r2"),
        col("a._l").as("l1"), col("b._l").as("l2"))
    val cells = pairs.groupBy("r1", "r2", "l1", "l2")
      .agg(count(lit(1)).as("_c")).localCheckpoint(true)
    val aM = cells.groupBy(col("r1"), col("r2"), col("l1").as("_lab"))
      .agg(sum(col("_c")).as("_a"))
    val bM = cells.groupBy(col("r1"), col("r2"), col("l2").as("_lab"))
      .agg(sum(col("_c")).as("_b"))
    // inner join on the label is exact (a label only one rater used
    // contributes 0 to pe) — but the PAIR join below must be LEFT:
    // a pair with zero shared labels has pe = 0, not no row
    val pe = aM.join(bM, Seq("r1", "r2", "_lab"))
      .groupBy("r1", "r2").agg(sum(expr("_a * _b")).as("pe_num"))
    cells.groupBy("r1", "r2")
      .agg(sum(col("_c")).as("n_items"),
        sum(when(col("l1") === col("l2"), col("_c")).otherwise(lit(0L)))
          .as("n_agree"))
      .join(pe, Seq("r1", "r2"), "left")
      .withColumn("pe_num", coalesce(col("pe_num"), lit(0L)))
      .withColumn("kappa_bp", expr(
        "if(n_items * n_items = pe_num, null, " +
          "if(n_items * n_agree >= pe_num, 1L, -1L) * " +
          "(abs(n_items * n_agree - pe_num) * 10000 " +
          "div (n_items * n_items - pe_num)))"))
      .select("r1", "r2", "n_items", "n_agree", "pe_num", "kappa_bp")
  }

  /** Per-item scale for [[krippendorffAlpha]]'s 1/(nᵤ−1) pair weights:
    * lcm(1..16) — every item with ≤ 17 ratings divides it exactly, so
    * the observed-disagreement sum is EXACT for any realistic
    * annotation pool; beyond 17 raters per item the per-item division
    * truncates identically in both engines (Spark `div` = DuckDB `//`
    * on positives).
    */
  val KrippendorffScale: Long = 720720L

  /** Krippendorff's alpha (nominal metric) — the agreement statistic
    * that HANDLES MISSING RATINGS, which is the one thing
    * [[fleissKappa]] cannot (it NULL-enforces constant n per item) and
    * [[cohenKappa]] sidesteps (pairwise only): real annotation pools
    * are ragged — raters skip items, overlap partially — and α is the
    * standard readout for them (Krippendorff 2004, "Content Analysis").
    *
    * Coincidence form, integer arithmetic end to end. Per item u with
    * nᵤ ≥ 2 ratings (singletons carry no pair information and are
    * excluded, per the definition): disᵤ = nᵤ² − Σ_c cᵤ(c)² ordered
    * disagreeing pairs, each weighted 1/(nᵤ−1) — scaled through
    * [[KrippendorffScale]] S so the sum stays integer:
    *
    *   Dobs = Σᵤ S·disᵤ div (nᵤ−1)
    *   α    = 1 − (n−1)·Dobs / (S·(n² − Σ_c n_c²))
    *
    * with n_c the label marginals over the INCLUDED items (the
    * coincidence-matrix marginals: the 1/(nᵤ−1) weights cancel row-wise,
    * so marginals are plain counts). `alpha_bp` = 10⁴·α with a single
    * truncating division — negative α (worse than chance) replays
    * because the subtraction happens after the positive-quotient
    * truncation in both engines. NULL when no item has 2+ ratings or
    * all mass sits on one label (expected disagreement 0 — undefined).
    *
    * Shape: two bounded aggregations (item-domain, label-domain) and a
    * single-row cross join — no corpus self-join; per-item state is the
    * label histogram. Overflow: Dobs ≤ S·n·R ≈ 7·10⁵·n·R stays BIGINT
    * to n ≈ 10¹²/R ratings; the final (n−1)-weighted products run in
    * DECIMAL(38,0) (DuckDB: HUGEINT), exact to n ≈ 10¹⁴.
    *
    * Out: one row `(n_items, n_ratings, n_categories, d_obs_scaled,
    * alpha_bp)` — `d_obs_scaled` = Dobs for auditability.
    */
  def krippendorffAlpha(ratings: DataFrame, itemCol: String = "item",
      raterCol: String = "rater", labelCol: String = "label"): DataFrame = {
    val S = KrippendorffScale
    val cell = ratings
      .select(col(itemCol).as("_it"), col(labelCol).cast("string").as("_lb"))
      .groupBy("_it", "_lb").agg(count(lit(1)).as("_c"))
      .localCheckpoint(true)
    val perItem = cell.groupBy("_it")
      .agg(sum(col("_c")).as("_n"), sum(expr("_c * _c")).as("_ss"))
      .filter(col("_n") >= 2)
    val perCat = cell.join(perItem.select("_it"), Seq("_it"))
      .groupBy("_lb").agg(sum(col("_c")).as("_nc"))
    val top = perItem.agg(
      count(lit(1)).as("n_items"), sum(col("_n")).as("n_ratings"),
      sum(expr(s"${S}L * (_n * _n - _ss) div (_n - 1)")).as("d_obs_scaled"))
    val cats = perCat.agg(count(lit(1)).as("n_categories"),
      sum(expr("cast(_nc as decimal(38,0)) * _nc")).as("_csq"))
    top.crossJoin(cats) // both sides are single-row aggregates
      .withColumn("alpha_bp", expr(
        "if(n_ratings is null or n_ratings < 2 " +
          "or cast(n_ratings as decimal(38,0)) * n_ratings - _csq = 0, " +
          "null, " +
          "10000L - cast(cast(d_obs_scaled as decimal(38,0)) " +
          "* (n_ratings - 1) * 10000 div " +
          s"(${S}L * (cast(n_ratings as decimal(38,0)) * n_ratings - _csq)) " +
          "as bigint))"))
      .select(
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        coalesce(col("n_ratings"), lit(0L)).as("n_ratings"),
        col("n_categories"), col("d_obs_scaled"), col("alpha_bp"))
  }

  /** Dawid–Skene annotator consensus (Dawid & Skene 1979, JRSS-C), hard-EM
    * form: item truth estimates and PER-RATER confusion matrices refined
    * jointly, so raters who track the consensus earn weight per
    * (true,given) CELL and systematic confusers are discounted — the two
    * things majority vote cannot do (it also breaks even-panel ties by
    * coin flip; here learned reliability breaks them). Deterministic,
    * engine-replayable variant: init by majority vote (ties → smallest
    * label), then `rounds` rounds of {confusion counts with add-one
    * smoothing → re-label every item by max log-posterior}, scored in
    * the 2⁻¹⁶ fixed-point log2 of [[TextAnalysis.withPseudoLog2]]:
    *
    *   score(item,t) = pl2(pc_t+1) − pl2(N+K)
    *                 + Σ_ratings [ pl2(c[r,t,l]+1) − pl2(rs[r,t]+K) ]
    *
    * — a pure BIGINT sum over the item's ratings (order-free, so any
    * engine replaying the same rounds reproduces every score exactly);
    * argmax ties → smallest label.
    *
    * Scale shape: the model state is raters×K² confusion cells + K
    * priors — broadcast-sized by construction, the ONLY state carried
    * between rounds besides the item-label frame. Per round: one
    * ratings×labels item-keyed equi-join, one map-side-combinable cell
    * count, one ratings×cells broadcast join (fan-out K per rating), one
    * item-keyed argmax.
    * BIGINT bounds: |score| ≤ (raters+1)·2²⁴ ≪ 2⁶³ at any corpus size.
    *
    * In: (itemCol, raterCol, labelCol) with labels in 0..nClasses−1.
    * Out: (itemCol, label, score_fp) — consensus label + its fixed-point
    * log-posterior (2⁻¹⁶ bits).
    */
  def dawidSkene(ratings: DataFrame, itemCol: String = "item",
      raterCol: String = "rater", labelCol: String = "label",
      nClasses: Int = 4, rounds: Int = 2): DataFrame = {
    require(nClasses >= 2 && rounds >= 1)
    val k = nClasses.toLong
    val r = ratings.select(col(itemCol).as("_it"), col(raterCol).as("_r"),
      col(labelCol).cast("long").as("_l")).localCheckpoint(true)
    // majority init: per-item argmax count, ties → smallest label
    val cur0 = r.groupBy("_it", "_l").agg(count(lit(1)).as("_c"))
      .groupBy("_it")
      .agg(min(struct((-col("_c")).as("nc"), col("_l").as("l"))).as("_b"))
      .select(col("_it"), col("_b.l").as("_t"))
      .localCheckpoint(true)
    val nItems = cur0.count()
    val lNk = TextAnalysis.pseudoLog2Long(nItems + k)
    // dense (rater × true × given) domain: smoothing must reach cells
    // with ZERO observations or absent combos silently drop from scores
    val dense = r.select("_r").distinct()
      .withColumn("_t", explode(sequence(lit(0L), lit(k - 1))))
      .withColumn("_l", explode(sequence(lit(0L), lit(k - 1))))
      .localCheckpoint(true) // raters×K², reused every round
    val tDom = r.sparkSession.range(k).select(col("id").as("_t"))
    val labeled = graft.util.Loop.rounds(cur0, rounds) { (cur, _) =>
      val conf = dense.join(
        r.join(cur, "_it").groupBy("_r", "_t", "_l")
          .agg(count(lit(1)).as("_c")),
        Seq("_r", "_t", "_l"), "left")
        .na.fill(0L, Seq("_c"))
      val rs = conf.groupBy("_r", "_t").agg(sum("_c").as("_rs"))
      val w = TextAnalysis.withPseudoLog2(
        TextAnalysis.withPseudoLog2(
          conf.join(rs, Seq("_r", "_t"))
            .withColumn("_cp1", col("_c") + 1L)
            .withColumn("_rsk", col("_rs") + k),
          "_cp1", "_lc"),
        "_rsk", "_lrs")
        .select(col("_r"), col("_t"), col("_l"),
          (col("_lc") - col("_lrs")).as("_w"))
        // raters×K² rows, but a 2×16-round pseudo-log2 plan: checkpoint
        // so the per-round scoring join plans stay flat (planning time
        // otherwise dominates — the jsDivergence lesson)
        .localCheckpoint(true)
      val prior = TextAnalysis.withPseudoLog2(
        tDom.join(cur.groupBy("_t").agg(count(lit(1)).as("_pc")),
            Seq("_t"), "left")
          .na.fill(0L, Seq("_pc"))
          .withColumn("_pp1", col("_pc") + 1L),
        "_pp1", "_lp")
        .select(col("_t"), (col("_lp") - lit(lNk)).as("_pw"))
        .localCheckpoint(true)
      r.join(broadcast(w), Seq("_r", "_l"))
        .groupBy("_it", "_t").agg(sum(col("_w")).as("_sw"))
        .join(broadcast(prior), "_t")
        .withColumn("_s", col("_sw") + col("_pw"))
        .groupBy("_it")
        .agg(min(struct((-col("_s")).as("ns"), col("_t").as("l"))).as("_b"))
        .select(col("_it"), col("_b.l").as("_t"),
          (-col("_b.ns")).as("_score"))
    }
    labeled.select(col("_it").as(itemCol), col("_t").as("label"),
      col("_score").as("score_fp"))
  }

  /** Bradley-Terry strength fitting over pairwise win/loss records —
    * the ranking step behind RLHF policy comparisons, arena-style model
    * leaderboards, and annotator-quality scoring: item strengths w such
    * that P(i beats j) = w_i/(w_i+w_j), fit by `iters` rounds of the
    * classic minorization-maximization update (Hunter 2004)
    *
    *   w_i ← W_i / Σ_j n_ij/(w_i+w_j)
    *
    * in pure BIGINT fixed point: strengths live in micro-units
    * (Σw = K·10⁶ after each round's renormalization), each t-term is
    * `n_ij·10¹² div (w_i+w_j)` — so a second engine unrolling the same
    * rounds reproduces every strength exactly. The MM update is
    * count-scale-invariant, so if per-pair counts approach the 10⁶-ish
    * BIGINT headroom (n_ij·10¹² < 2⁶³), divide all counts by a common
    * factor first — the fit is unchanged.
    *
    * Semantics pinned for replay: items with NO games this round keep
    * their strength; items with games but zero wins go to 0 (the MLE
    * boundary — BT strengths are only finite/positive on a strongly
    * connected comparison graph, the caller's design concern).
    *
    * Shape: the comparison log collapses to a directed (i, j, games)
    * table bounded by K² (items are MODELS/policies/sources — thousands,
    * not corpus rows); each round is two broadcast-sized joins + one
    * K-row aggregate. The one value collected is K itself (the
    * normalization constant).
    *
    * Out: `(item, strength_micro, rank, n_wins, n_games)`.
    */
  def bradleyTerry(
      comparisons: DataFrame, winnerCol: String = "winner",
      loserCol: String = "loser", iters: Int = 6
  ): DataFrame = {
    require(iters >= 1)
    val games = comparisons
      .select(col(winnerCol).as("i"), col(loserCol).as("j"))
    val d = games
      .unionByName(games.select(col("j").as("i"), col("i").as("j")))
      .groupBy("i", "j").agg(count(lit(1)).as("g"))
      .localCheckpoint(true)
    val items = d.groupBy(col("i").as("item"))
      .agg(sum(col("g")).as("n_games"))
      .join(games.groupBy(col("i").as("item"))
        .agg(count(lit(1)).as("n_wins")), Seq("item"), "left")
      .na.fill(0L, Seq("n_wins"))
      .localCheckpoint(true)
    val k = items.count() // K models — bounded by construction
    val w0 = items.select(col("item"), lit(1000000L).as("w"))
      .localCheckpoint(true)
    val strengths = graft.util.Loop.rounds(w0, iters) { (w, _) =>
      val s = d
        .join(w.select(col("item").as("i"), col("w").as("_wi")), Seq("i"))
        .join(w.select(col("item").as("j"), col("w").as("_wj")), Seq("j"))
        .withColumn("_t",
          expr("if(_wi + _wj > 0, g * 1000000000000L div (_wi + _wj), 0L)"))
        .groupBy(col("i").as("item")).agg(sum(col("_t")).as("_s"))
      val u = items.select("item", "n_wins")
        .join(s, Seq("item"), "left")
        .join(w, Seq("item"))
        .withColumn("_u",
          expr("if(_s is null or _s <= 0, w, " +
            "n_wins * 1000000000000L div _s)"))
        .select("item", "_u")
      u.crossJoin(u.agg(sum(col("_u")).as("_tot"))) // one-row broadcast
        .select(col("item"),
          expr(s"_u * ${k * 1000000L}L div _tot").as("w"))
    }
    strengths.join(items, Seq("item"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("w").desc, col("item"))).cast("long")) // K rows only
      .select(col("item"), col("w").as("strength_micro"), col("rank"),
        col("n_wins"), col("n_games"))
  }

  /** Preference-pair construction for reward-model / DPO training: from a
    * table of scored candidate responses per prompt, emit one
    * (chosen, rejected) pair per prompt — chosen is the argmax of
    * (score, id), rejected the argmin, so ties resolve deterministically
    * (equal scores: chosen takes the LARGER id, rejected the smaller).
    * Prompts with fewer than 2 candidates or a margin below `minMargin`
    * are dropped — a zero-margin pair teaches a reward model nothing.
    * Best-of-n rejection sampling is this op's `chosen_*` columns alone.
    *
    * Shape: ONE groupBy with two struct-argmax aggregates — map-side
    * combinable partials, a single shuffle on the prompt key, no window
    * (a per-prompt sort would shuffle the same data and then sort it; the
    * argmax pair needs neither). Scales with prompts × candidates.
    */
  def preferencePairs(
      cands: DataFrame, promptCol: String = "prompt_id",
      idCol: String = "cand_id", scoreCol: String = "score",
      minMargin: Long = 1L
  ): DataFrame =
    cands.groupBy(col(promptCol))
      .agg(
        max(struct(col(scoreCol).as("s"), col(idCol).as("i"))).as("_c"),
        min(struct(col(scoreCol).as("s"), col(idCol).as("i"))).as("_r"),
        count(lit(1)).as("n_candidates"))
      .select(col(promptCol),
        col("_c.i").as("chosen_id"), col("_r.i").as("rejected_id"),
        col("_c.s").as("chosen_score"), col("_r.s").as("rejected_score"),
        (col("_c.s") - col("_r.s")).as("margin"),
        col("n_candidates"))
      .filter(col("n_candidates") >= 2L && col("margin") >= minMargin)
}
