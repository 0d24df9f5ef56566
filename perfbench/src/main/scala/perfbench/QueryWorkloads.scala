package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextAnalysis}
import graft.queries.Registry
import graft.util.Tables

/** Registered `graft.queries` rows over the sampled tables in
  * `--inputs`, each forced through the noop sink after
  * `catalog.clearCache()` as `graft.Bench` runs them.
  */
final class Rows(ctx: Ctx, val names: Seq[String]) {
  import ctx.{spark, tracer}
  val dir: String = ctx.args.inputs.getOrElse(
    throw new IllegalArgumentException("--inputs is required")).toString
  private val defs = names.map(n => n -> Registry.all(n)).toMap
  val secs: Map[String, mutable.ArrayBuffer[Double]] =
    names.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap

  def runRow(q: String): Unit = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    tracer.span(q, "queries")(ctx.noop(defs(q).build(spark, dir)))
    secs(q) += (System.nanoTime() - t0) / 1e9
  }

  def pass(): Unit = names.foreach(runRow)

  /** The warm-up pass: each row once, its result written as parquet for
    * the DuckDB oracle check instead of to the noop sink. The results are
    * a few hundred rows at most, so the write adds little to set-up.
    */
  def warmupPass(): Unit = for (q <- names) {
    spark.catalog.clearCache()
    val out = ctx.work.resolve(s"check/$q").toString
    defs(q).build(spark, dir).write.mode("overwrite").parquet(out)
    defs(q).oracle.foreach(sql => ctx.oracleChecks += ((q, out, sql)))
  }

  /** Per-row wall, Spark jobs and codegen compiles per call, from the
    * traced phase's spans, as `<prefix>.<row>.*`.
    */
  def layerFigures(prefix: String): Unit = {
    val all = tracer.spans
    val kids = SpanReport.childrenOf(all)
    for (q <- names) {
      val calls = all.filter(s => s.layer == "queries" && s.name == q)
      val n = calls.size.max(1).toDouble
      ctx.layers(s"$prefix.$q.wall_s") = calls.map(_.durNs / 1e9).sum / n
      ctx.layers(s"$prefix.$q.jobs") =
        calls.map(s => kids.getOrElse(s.id, Nil).count(_.layer == "spark.job")).sum / n
      ctx.layers(s"$prefix.$q.codegen_compiles") =
        calls.map(s => tracer.compilesBySpan.getOrElse(s.id, 0L)).sum / n
    }
  }
}

/** `curate_chain`: one op runs `q_pipeline_curate` (quality gate, exact
  * dedup, MinHash-LSH near-dedup) and `q_pipeline_stream_curate`
  * (streaming gate, incremental MinHash) over the replicated corpus.
  */
object CurateChain {
  def run(ctx: Ctx): Unit = {
    val rows = new Rows(ctx, Seq("q_pipeline_curate", "q_pipeline_stream_curate"))
    val docs = ctx.args.docs
    // a second warm-up pass, through the noop sink like the timed ones,
    // takes the timed ops past most of the JIT's warm-up trend
    ctx.setupOnce("warmup_s") {
      rows.warmupPass()
      rows.pass()
      rows.secs.values.foreach(_.clear())
    }
    // three ops, so one disturbed op moves a run's figure by a third
    ctx.timed(minOps = 3)(_ => rows.pass())(itemsPerOp = docs.toDouble) {
      rows.layerFigures("query")
      isolate(ctx, rows.dir, docs)
    }
    ctx.detail ++= Seq(
      "curate_docs_per_s" -> docs / Stats.median(rows.secs("q_pipeline_curate").toSeq),
      "stream_curate_docs_per_s" ->
        docs / Stats.median(rows.secs("q_pipeline_stream_curate").toSeq),
      "ops" -> rows.secs("q_pipeline_curate").size)
  }

  /** The chain's `graft.ops` stages one at a time (traced runs only). */
  private def isolate(ctx: Ctx, dir: String, docs: Long): Unit = {
    import ctx.{spark, tracer}
    def secs(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      tracer.span(name, "ops")(f)
      (System.nanoTime() - t0) / 1e9
    }
    val corpus = Tables.documents(spark, dir)
    val gated = corpus
      .withColumn("quality_bp",
        floor(TextAnalysis.qualityScore(col("text")) * 10000).cast("long"))
      .filter(col("quality_bp") >= 4000 && col("lang") === "en")
    ctx.layers("ops.quality_gate_s") = secs("quality gate")(ctx.noop(gated))
    val toks = split(col("text"), " ")
    val key = md5(concat_ws(" ", (1 to 5).map(i => element_at(toks, i)): _*))
    ctx.layers("ops.exact_dedup_s") =
      secs("Dedup.exact")(ctx.noop(Dedup.exact(gated, "doc_id", key)))
    ctx.layers("ops.minhash_lsh_s") =
      secs("Dedup.minhashLsh")(ctx.noop(Dedup.minhashLsh(corpus)))
    val streamGated = graft.streaming.StreamingCurate.gate(corpus)
    ctx.layers("ops.incremental_minhash_s") = secs("Dedup.incrementalMinhash") {
      ctx.noop(Dedup.incrementalMinhash(
        streamGated.filter(pmod(col("doc_id"), lit(5)) === 0).select("doc_id", "text"),
        streamGated.filter(pmod(col("doc_id"), lit(5)) =!= 0).select("doc_id", "text"),
        Tables.curatedHistoryMinhashSigs(spark, dir), threshold = 0.0))
    }
    val kept = Registry.all("q_pipeline_curate").build(spark, dir).head().getLong(0)
    ctx.layers("curate.docs_kept_ratio") = kept.toDouble / docs
  }
}

/** `loop_queries`: one op is one pass over the registered rows whose
  * operators iterate (many Spark jobs, codegen recompiles per round).
  */
object LoopQueries {
  val Names = Seq(
    "q_text_dawid_skene", "q_text_unigram_train", "q_text_unigram_encode",
    "q_text_bradley_terry", "q_dedup_clusters", "q_dedup_soft_weights",
    "q_text_split_leakage_safe", "q_events_stream_quantiles",
    "q_sim_pca_projection", "q_sim_cluster_labels", "q_text_textrank",
    "q_sim_mmr_rerank")

  def run(ctx: Ctx): Unit = {
    val rows = new Rows(ctx, Names)
    ctx.inputs("rows") = Names.size
    ctx.setupOnce("warmup_s")(rows.warmupPass())
    ctx.timed(minOps = 1)(_ => rows.pass())(itemsPerOp = Names.size) {
      rows.layerFigures("loop")
    }
    ctx.detail("loop_queries_s") =
      Stats.median(rows.secs.values.head.indices.map(i => rows.secs.values.map(_(i)).sum))
  }
}
