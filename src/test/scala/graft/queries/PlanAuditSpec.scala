package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Plan-shape regression gate over the ENTIRE query battery: the scale
  * properties BASELINE.md claims are encoded here so a future edit that
  * quietly plans a cross join fails CI, not a 100 TB run.
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  /** Queries whose BroadcastNestedLoopJoin is the intended shape: a
    * broadcast singleton / tiny-table pattern (scalar subquery, one query
    * row against the corpus, the brute-force baseline, the 16-row
    * centroid table). Everything else must plan equi-joins.
    */
  private val bnljAllowed = Set(
    "q_scalar_subquery", "q_sim_range_search", "q_sim_topk_bruteforce",
    "q_sim_ivf_topk", "q_sim_quantized_topk", "q_sim_rp_topk",
    "q_corpus_report", // crossJoin of four 1-row aggregates
    "q_text_tfidf", // 1-row corpus-size aggregate × vocab-sized tf table
    "q_text_bm25", // 1-row (N, avgdl) stats aggregate × matched-term rows
    "q_text_collocations", // 1-row bigram-total aggregate × vocab² pairs
    "q_events_quantile_sketch", // 3 quantile rows × ≤64-bin sketch table
    "q_decontaminate_semantic", // broadcast benchmark embeddings × corpus
    "q_sim_hard_negatives", // broadcast anchors × corpus, label-mismatch
    "q_sim_bitext_mine", // brute-force k-NN sweeps (broadcast side A/B);
                         // the LSH/IVF generators are the scale path
    "q_text_split_leakage_safe", // crossJoin of three 1-row count aggs
    "q_text_dsir_select", // 1-row totals aggregate × 256-row ratio table
    "q_text_lm_perplexity", // 1-row vocab-size aggregate × bigram rows
    "q_text_temperature_mix", // two 1-row total aggregates × strata table
    "q_text_curriculum", // 1-row corpus-count aggregate × ranked docs
    "q_sim_hybrid_rrf", // inherits bm25's 1-row stats aggregate + the
                        // 1-probe brute-force dense run
    "q_sim_retrieval_eval", // brute-force run side (50 broadcast queries
                            // × corpus); qrels/metrics joins are equi
    "q_events_rolling_distinct", // 1-row max-hour aggregate × hourly pairs
    "q_events_itemsets3", // 1-row basket-count (relative-support) aggregate
    "q_text_quantile_norm", // 1-row pooled-count aggregate × ranked docs
    "q_pipeline_forget", // crossJoin of eight 1-row audit-count aggregates
    "q_multimodal_audio_stoptok", // 1-row stop-list-size aggregate (and
                                  // its 1-row df-total feed) × match rows
    "q_sim_rbo_cos_vs_dot", // broadcast query set × corpus non-equi
                            // brute-force sweep feeding both rankings
    "q_text_rater_kappa", // crossJoin of two 1-row count aggregates
    "q_text_mix_audit", // 1-row corpus-total aggregate × stratum table
    "q_analytics_join_size", // crossJoin of two 1-row estimate/exact aggs
    "q_text_lm_kneser_ney", // 1-row bigram-type-count aggregate × stream
    "q_text_ccnet_buckets", // inherits lmScore's 1-row vocab aggregate
    "q_events_heavy_hitters", // four 1-row MG reduction values × ≤k+batch
                              // counter tables
    "q_dq_spearman",    // crossJoin of 1-row moment aggregates (n, Σd²)
    "q_text_krippendorff", // 1-row observed/expected disagreement
                           // aggregates × coincidence cells
    "q_dq_perm_test",   // 1-row observed-total aggregate × 200-row
                        // replica totals (reps-bounded, never corpus)
    "q_text_vocab_growth", // 1-row max-id aggregate × corpus (bucket
                           // assignment) and × 10-row spine
    "q_text_burstiness", // 1-row grand-total aggregate × top-k counts
    "q_sim_matryoshka", // two brute-force sweeps (broadcast 20 queries
                        // × corpus) — the measured ANN-agreement oracle
    "q_analytics_benford") // 1-row total aggregate × 9-row digit spine

  test("no query plans a CartesianProduct; BNLJ only where intended") {
    val offenders = Registry.all.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val plan = q.build(spark, sf()).queryExecution.executedPlan.toString
      val bad = Seq(
        Option.when(plan.contains("CartesianProduct"))(s"$name: CartesianProduct"),
        Option.when(plan.contains("BroadcastNestedLoopJoin") &&
          !bnljAllowed(name))(s"$name: unexpected BroadcastNestedLoopJoin")
      ).flatten
      bad
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("analytics predicates reach the parquet scan (pushdown + pruning)") {
    def scanLine(name: String): String = {
      val plan = Registry.all(name).build(spark, sf())
        .queryExecution.executedPlan.toString
      plan.linesIterator.find(_.contains("PushedFilters"))
        .getOrElse(fail(s"$name: no FileScan with PushedFilters in plan"))
    }
    val q6 = scanLine("q6_filter")
    // the date/range predicates must be IN the scan, not a post-filter
    assert(q6.contains("PushedFilters: [IsNotNull"), q6)
    assert(q6.contains("GreaterThanOrEqual") || q6.contains("LessThan"), q6)
    // and column pruning: only the needed columns are read
    assert(!q6.contains("l_orderkey"), q6)
    val q1 = scanLine("q1_agg")
    assert(q1.contains("LessThan"), q1)
  }

  test("indexSideFor trusts only small file-backed corpora") {
    import org.apache.spark.sql.functions._
    // parquet scan ≤ bound: identity (Catalyst keeps its broadcasts)
    val parquetDocs = graft.util.Tables.documents(spark, sf())
    val probe = parquetDocs.select("doc_id")
    assert(graft.util.Partitioning.indexSideFor(parquetDocs)(probe) eq probe,
      "small parquet corpus must not be force-partitioned")
    // projections/filters/unions over file scans keep the anchor
    val derived = parquetDocs.filter(col("doc_id") % 2 === 0)
      .unionByName(parquetDocs.filter(col("doc_id") % 2 === 1))
    assert(graft.util.Partitioning.indexSideFor(derived)(probe) eq probe)
    // a range-generated corpus: estimates count strings at 20 bytes —
    // untrusted, partitioned join forced
    val synth = spark.range(100).select(col("id").as("doc_id"),
      md5(col("id").cast("string")).as("text"))
    assert(graft.util.Partitioning.indexSideFor(synth)(probe) ne probe,
      "non-file-backed corpus must force the partitioned side")
    // a checkpointed corpus: stats carry the origin estimate — untrusted
    val ckpt = parquetDocs.localCheckpoint(true)
    assert(graft.util.Partitioning.indexSideFor(ckpt)(probe) ne probe)
  }

  test("gram-derived sides are never broadcast-built for a non-file " +
      "corpus (the explode-estimate OOM regression gate)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // the corpus shape that reproduced the 2.9 GB broadcast build: a
    // generated (non-file) frame whose string column estimates at 20
    // bytes while holding ~120 chars
    val text = concat((1 to 5).map(i =>
      base64(unhex(md5(concat(col("doc_id").cast("string"),
        lit(s"|$i")))))): _*)
    val docs = spark.range(2000)
      .select(col("id").as("doc_id"))
      .select(col("doc_id"), text.as("text"))
    val ops = Seq(
      "minhashLsh" -> graft.ops.Dedup.minhashLsh(docs),
      "minhashLshChars" ->
        graft.ops.Dedup.minhashLshChars(docs, threshold = 0.8),
      "prefixFilterJaccard" -> graft.ops.Dedup.prefixFilterJaccard(docs),
      "ngramJaccard" -> graft.ops.Dedup.ngramJaccard(docs),
      "containment" -> graft.ops.Dedup.containment(docs),
      "winnowMatches" -> graft.ops.Substring.winnowMatches(docs))
    val offenders = ops.flatMap { case (name, df) =>
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      // a broadcast build whose subtree scans an exploded or cached
      // (gram/band/count) frame is the OOM shape — corpus-scaled data
      // funneling into one hash relation
      root.collect {
        case b: BroadcastExchangeExec if b.exists(n =>
          n.isInstanceOf[GenerateExec] ||
            n.isInstanceOf[InMemoryTableScanExec]) => name
      }
    }.distinct
    assert(offenders.isEmpty,
      s"corpus-derived broadcast builds planned in: $offenders")
  }

  /** Queries whose unpartitioned (single-partition) window is the
    * intended shape: every one runs over a BOUNDED VALUE/PATTERN DOMAIN
    * (score bp values ≤ 10001 rows, sketch bins, vocab quantiles, hour
    * buckets) that an upstream groupBy already collapsed — never the
    * corpus. The invariant the WARN noise obscures, as an assertion: a
    * future edit that windows a corpus-sized frame without partitioning
    * fails HERE, not on a 1000-executor run.
    */
  private val unpartitionedWindowAllowed = Set(
    "q_dq_auc", // cumneg over the score-bp VALUE domain (≤ 10001 rows)
    "q_dq_spearman", // rank maps over each score's VALUE domain
                     // (capped token counts: ≤ 501 rows per side)
    "q_events_journey_patterns", // top-20 rank over the trigram PATTERN
                                 // domain (≤ |event_types|³ rows)
    "q_events_quantile_sketch", // rank over a ≤64-bin sketch table
    "q_sim_hybrid_rrf", // per-run rank over k-bounded candidate lists
                        // (top-50 dense + matched lexical runs)
    "q_text_bradley_terry", // final rank over the ITEM domain (players,
                            // not games)
    "q_text_curriculum", // cumsum over the difficulty-score bp domain
    "q_text_ks_drift", // CDF cumsums over the score-bp VALUE domain
                       // (≤ 10001 rows — the q_dq_auc precedent)
    "q_text_quantile_norm", // rank over the pooled score VALUE domain
    "q_text_rate_sample", // dense_rank over the source/stratum domain
    "q_text_vocab_growth") // cumsums over the 10-row bucket spine

  test("unpartitioned windows only over bounded-domain tables (allowlist)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = Registry.all.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val root = q.build(spark, sf()).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val hasUnpartitioned = root.exists {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }
      Option.when(hasUnpartitioned && !unpartitionedWindowAllowed(name))(name)
    }
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec outside the allowlist: $offenders")
  }

  test("kernelized per-row operators stay shuffle-free (r9 gate)") {
    // The r9 native kernels turned four operator families into pure
    // per-row projections. Pin the shape: the kernel must be in the
    // plan, and NO keyed exchange / window / aggregation / join may
    // creep back in (the documented round-robin fanOut repartition of
    // a one-file fixture is the only exchange allowed, cdcChunks only).
    import org.apache.spark.sql.functions._
    val docs = graft.util.Tables.documents(spark, sf())
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    def assertProjectionOnly(tag: String, plan: String, kernel: String,
        fanOutOk: Boolean = false): Unit = {
      assert(plan.contains(kernel), s"$tag: kernel $kernel not in plan")
      assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("Exchange rangepartitioning"),
        s"$tag: keyed exchange crept back into a per-row operator")
      if (!fanOutOk)
        assert(!plan.contains("Exchange "), s"$tag: unexpected exchange")
      assert(!plan.contains("Window"), s"$tag: unexpected window")
      assert(!plan.contains("HashAggregate") &&
        !plan.contains("SortAggregate") &&
        !plan.contains("ObjectHashAggregate"), s"$tag: unexpected aggregate")
      assert(!plan.contains("Join"), s"$tag: unexpected join")
    }
    val media = graft.ops.Multimodal.synthesize(docs)
    assertProjectionOnly("dctHashWide",
      planOf(graft.ops.Multimodal.dctHashWide(media)), "graft_dct_hash64")
    assertProjectionOnly("aHashWide",
      planOf(graft.ops.Multimodal.aHashWide(media)), "graft_ahash64")
    assertProjectionOnly("audioFingerprints",
      planOf(graft.ops.Multimodal.audioFingerprints(
        media.select(col("media_id"), col("media").cast("string").as("s")))),
      "graft_audio_tokens")
    assertProjectionOnly("cdcChunks",
      planOf(graft.ops.Substring.cdcChunks(docs)), "graft_cdc_boundaries",
      fanOutOk = true)
    // rougeL's LCS kernel: per-row projection over a file-backed pair
    // frame (a literal local relation constant-folds the kernel away)
    val pairs = docs.select(col("doc_id").as("pair_id"),
      split(col("text"), " ").as("cand_toks"),
      split(col("text"), " ").as("ref_toks"))
    val rl = planOf(graft.ops.TextAnalysis.rougeL(pairs))
    assert(rl.contains("graft_lcs_length"), rl)
  }

  test("kernelized minhash signature paths stay shuffle-free (r10 gate)") {
    // The r10 minhash kernels turned both md5 signature builders
    // into per-row projections. Pin the shape: the signature frame must
    // carry the kernel and no keyed exchange / aggregate / join (the
    // one-file fixture's round-robin fanOut is the only exchange
    // allowed), and the full queries must still plan through them.
    import org.apache.spark.sql.functions._
    val docs = graft.util.Tables.documents(spark, sf())
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val wp = planOf(graft.ops.Dedup.minhashSignaturesKernel(docs, 8))
    assert(wp.contains("graft_word_minhash"), wp)
    assert(!wp.contains("Exchange hashpartitioning") &&
      !wp.contains("Exchange rangepartitioning"),
      "word signature builder: keyed exchange crept back")
    assert(!wp.contains("HashAggregate") && !wp.contains("SortAggregate") &&
      !wp.contains("ObjectHashAggregate") && !wp.contains("Join"),
      "word signature builder: aggregate/join crept back")
    val mc = planOf(Registry.all("q_dedup_minhash_char").build(spark, sf()))
    assert(mc.contains("graft_char_minhash"),
      "char kernel missing from q_dedup_minhash_char")
    val ml = planOf(Registry.all("q_dedup_minhash_lsh").build(spark, sf()))
    assert(ml.contains("graft_word_minhash"),
      "word kernel missing from q_dedup_minhash_lsh")
    val lr = planOf(Registry.all("q_dedup_lsh_recall").build(spark, sf()))
    assert(lr.contains("graft_word_minhash"),
      "word kernel missing from q_dedup_lsh_recall")
  }

  test("JSON extraction and tf-idf keep column pruning intact") {
    def readSchema(name: String): String = {
      val plan = Registry.all(name).build(spark, sf())
        .queryExecution.executedPlan.toString
      plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    }
    // get_json_object runs inside the projection — the scan must read
    // only (event_type, props), not the whole event row
    val j = readSchema("q_events_json")
    assert(j.contains("props") && !j.contains("value"), j)
    // tf-idf touches only (doc_id, text)
    val t = readSchema("q_text_tfidf")
    assert(t.contains("text") && !t.contains("lang") && !t.contains("source"), t)
  }
}
