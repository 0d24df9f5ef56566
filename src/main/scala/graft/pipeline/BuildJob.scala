package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Hashers
import graft.sql.functions.expandAlgorithms

/** The reference's `shaha build` re-expressed as a declarative Spark plan
  * (reference src/cli/build.rs:81-251):
  *
  *   words → non-empty filter → distinct → hash×algo explode →
  *   [append-merge with existing db] → range-partitioned sort by hash →
  *   zstd parquet with per-file bloom filters on `hash` + sidecar metadata.
  *
  * Scale notes (the parts the single-node reference cannot do):
  *  - dedup and sort are shuffles; hashing is a narrow codegen projection
  *    placed AFTER distinct so each unique word is hashed once
  *    (reference dedups pre-hash for the same reason, build.rs:149-167).
  *  - the global `orderBy(hash)` is a range-partitioned sort, so output
  *    files tile the hash space: per-file parquet min/max + bloom filters
  *    then serve the same pruning role as the reference's single-file
  *    footer bloom + sorted row groups — but sharded across N files.
  *  - `maxRecordsPerFile` bounds file size instead of the reference's
  *    in-RAM 100k batching (build.rs:16), which can't spill.
  *
  * A build is one write plus one footer finalize, the Spark counterpart of
  * the reference's single writer pass (parquet.rs:426-474): the catalog
  * stats (count, algorithms, sources) are observed on the write itself,
  * and [[FooterMeta.stamp]] puts the `shaha:*` catalog and, when asked,
  * the footer bloom into each file's footer with one splice per file.
  */
object BuildJob {

  /** Canonical schema (reference src/storage/parquet.rs:74-83). */
  val schema: StructType = StructType(Seq(
    StructField("hash", BinaryType, nullable = false),
    StructField("preimage", StringType, nullable = false),
    StructField("algorithm", StringType, nullable = false),
    StructField("sources", ArrayType(StringType, containsNull = false), nullable = false)
  ))

  final case class Config(
      algorithms: Seq[String] = Seq("sha256"),
      sourceName: String = "words",
      append: Boolean = false,
      force: Boolean = false,
      numFiles: Option[Int] = None,
      maxRecordsPerFile: Long = 5000000L,
      bloomNdv: Long = 1000000L,
      /** Hive-partition the output by `algorithm`: queries with an
        * algorithm filter (P3) then skip whole directories before any IO
        * (PartitionFilters), and each partition stays hash-clustered for
        * range pruning within. The right layout when lookups usually pin
        * the algorithm.
        */
      partitionByAlgorithm: Boolean = false,
      /** Also stamp the reference-format `shaha:bloom_*` footer bloom on
        * each output file (FooterMeta.writeBlooms): the reference CLI's
        * bloom fast-reject (parquet.rs:481-487) and graft's own exact-
        * lookup fast path then work on this db without native-bloom
        * support. Off by default — it costs one job that scans the
        * written `hash` column; the bloom rides in the same footer splice
        * as the catalog.
        */
      footerBloom: Boolean = false
  ) {
    require(algorithms.nonEmpty, "at least one algorithm")
    algorithms.foreach(Hashers(_)) // fail fast, mirrors CLI value parser
  }

  final case class Result(written: Boolean, records: Long, skippedUpToDate: Boolean = false)

  /** words → deduped `(hash, preimage, algorithm, sources)` records. */
  def expand(words: Dataset[String], cfg: Config): DataFrame = {
    val w = words.toDF("preimage")
      .filter(length(col("preimage")) > 0) // P5: every source drops blanks
      .distinct() // A1: dedup before fanning out #algos hashes per word
    w.select(expandAlgorithms(col("preimage"), cfg.algorithms,
        array(lit(cfg.sourceName))).as("r"))
      .select("r.hash", "r.preimage", "r.algorithm", "r.sources")
  }

  /** J1 append-merge (reference src/cli/build.rs:180-204): one record per
    * (hash, algorithm); existing preimage wins; sources set-union. A
    * groupBy formulation (single shuffle) instead of a full-outer join —
    * sources are kept sorted for deterministic output (set semantics,
    * SURVEY.md §7 hard-part 4).
    */
  def merge(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val tagged = existing.withColumn("_prio", lit(0))
      .unionByName(incoming.withColumn("_prio", lit(1)))
    tagged
      .groupBy("hash", "algorithm")
      .agg(
        min_by(col("preimage"), col("_prio")).as("preimage"),
        array_sort(array_distinct(flatten(collect_list(col("sources"))))).as("sources")
      )
      .select("hash", "preimage", "algorithm", "sources")
  }

  /** Build `output` from `words`; returns what was written.
    * Input with no non-blank word never creates or clobbers a database
    * (K3, reference tests/integration.rs:472-481); appends merge into the
    * existing one.
    */
  def run(
      spark: SparkSession,
      words: Dataset[String],
      output: String,
      cfg: Config = Config(),
      contentHash: Option[String] = None
  ): Result = {
    val existingMeta = SidecarMeta.read(spark, output)

    // incremental skip: source content already in this db (S11/build.rs:113-125)
    if (!cfg.force && contentHash.exists(h => existingMeta.exists(_.sourceHashes.contains(h))))
      return Result(written = false, records = existingMeta.map(_.totalRecords).getOrElse(0L),
        skippedUpToDate = true)

    // K3: nothing in → no database out. An append onto a db whose catalog
    // has records writes every one of them back, so only the other builds
    // look for a non-blank word: a LIMIT-1 scan of the source, no distinct,
    // digest or shuffle
    if (!(cfg.append && existingMeta.exists(_.totalRecords > 0)) && !hasWords(words))
      return Result(written = false, records = 0L)

    val appending = cfg.append && existingMeta.isDefined

    val fresh = expand(words, cfg)
    val merged =
      if (appending) merge(spark.read.schema(schema).parquet(output), fresh)
      else fresh

    val sorted =
      if (cfg.partitionByAlgorithm)
        // cluster by (algorithm, hash) so each hive partition's files tile
        // the hash space; the writer splits directories by algorithm
        merged.repartitionByRange(
            cfg.numFiles.getOrElse(spark.sparkContext.defaultParallelism),
            col("algorithm"), col("hash"))
          .sortWithinPartitions("algorithm", "hash")
      else cfg.numFiles match {
        case Some(n) => merged.repartitionByRange(n, col("hash")).sortWithinPartitions("hash")
        case None => merged.orderBy("hash") // O1: clusters files+row groups by hash
      }

    // the catalog stats ride on the write itself. Observed above the range
    // exchange, they are computed in the write's result stage, whose
    // accumulator updates Spark merges once per partition: neither the
    // range-sampling job nor a retried shuffle-map task counts a row twice
    val stats = Observation()
    val observed = sorted.observe(stats,
      count(lit(1)).as("n"),
      collect_set(col("algorithm")).as("algos"),
      array_sort(array_distinct(flatten(collect_set(col("sources"))))).as("srcs"))

    // Appends must fully materialize before overwriting their own input;
    // stage to a temp dir then swap.
    val stage = if (appending) output + "_staging" else output
    writer(observed, cfg).parquet(stage)

    if (stage != output) swap(spark, stage, output)

    val m = stats.get
    val records = m("n").asInstanceOf[Long]
    val meta = SidecarMeta(
      totalRecords = records,
      algorithms = m("algos").asInstanceOf[collection.Seq[String]].toSeq.sorted,
      sources = m("srcs").asInstanceOf[collection.Seq[String]].toSeq,
      sourceHashes =
        (existingMeta.filter(_ => cfg.append).map(_.sourceHashes).getOrElse(Seq.empty) ++
          contentHash.toSeq).distinct
    )
    SidecarMeta.write(spark, output, meta)
    // K2 write side: stamp the same catalog into each file's footer so the
    // reference CLI's metadata fast path (parquet.rs:152-202) reads graft
    // output directly, sidecar or no sidecar — with the footer bloom, when
    // asked for, in the same splice
    FooterMeta.stamp(spark, output, Some(meta), blooms = cfg.footerBloom)
    Result(written = true, records = records)
  }

  /** Whether `words` holds a non-blank word: a LIMIT-1 scan. */
  private[graft] def hasWords(words: Dataset[String]): Boolean =
    !words.toDF("preimage").filter(length(col("preimage")) > 0).isEmpty

  private def writer(df: DataFrame, cfg: Config) = {
    val base = if (cfg.partitionByAlgorithm) df.write.partitionBy("algorithm")
      else df.write
    base
      .mode(SaveMode.Overwrite)
      .option("compression", "zstd") // K1: reference uses ZSTD (parquet.rs:93-96)
      // native per-file bloom filters on `hash` replace the reference's
      // footer bloom (parquet.rs:444-461); Spark's parquet scan consults
      // them automatically on equality predicates.
      .option("parquet.bloom.filter.enabled#hash", "true")
      .option("parquet.bloom.filter.expected.ndv#hash", cfg.bloomNdv.toString)
      .option("maxRecordsPerFile", cfg.maxRecordsPerFile.toString)
  }

  /** Swap the fully-written stage into place via rename-aside (same
    * discipline as Compact): the old db moves to `<output>_old`, the
    * stage renames in, and `_old` is deleted last — a crash at any point
    * leaves either the old or the new database at the path, never
    * neither.
    */
  private def swap(spark: SparkSession, stage: String, output: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val outPath = new org.apache.hadoop.fs.Path(output)
    val fs = outPath.getFileSystem(conf)
    val oldPath = new org.apache.hadoop.fs.Path(output + "_old")
    fs.delete(oldPath, true) // clear leftovers from a prior crashed swap
    if (fs.exists(outPath) && !fs.rename(outPath, oldPath))
      throw new java.io.IOException(s"failed to move $output aside to $oldPath")
    if (!fs.rename(stagePath, outPath)) {
      fs.rename(oldPath, outPath) // restore; leaves the stage for retry
      throw new java.io.IOException(s"failed to move $stage to $output")
    }
    fs.delete(oldPath, true)
    ()
  }
}
