package graft.pipeline

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Encoders, Observation, Row,
  SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.Hashers
import graft.sql.functions.{expandAlgorithms, hashTile}

/** The reference's `shaha build` re-expressed as a declarative Spark plan
  * (reference src/cli/build.rs:81-251):
  *
  *   words → non-empty filter → distinct → hash×algo explode →
  *   digest-prefix tiling exchange [+ append-merge with the existing db,
  *   in the same exchange] → per-tile sort by hash → zstd parquet with
  *   per-file bloom filters on `hash` + sidecar metadata.
  *
  * Scale notes (the parts the single-node reference cannot do):
  *  - dedup and tiling are shuffles; hashing is a narrow codegen projection
  *    placed AFTER distinct so each unique word is hashed once
  *    (reference dedups pre-hash for the same reason, build.rs:149-167).
  *  - digests are uniform, so the range bounds are known before any data
  *    is read: rows go to one of `n` tiles by their leading 16 hash bits
  *    (the [[Tiling]]), each tile sorted by hash. Output files tile the
  *    hash space as a global range sort's would — per-file parquet min/max
  *    + bloom filters serve the pruning role of the reference's
  *    single-file footer bloom + sorted row groups, sharded across N files
  *    — with no range-sampling job, and the same files on every run.
  *  - `maxRecordsPerFile` bounds file size instead of the reference's
  *    in-RAM 100k batching (build.rs:16), which can't spill; it splits a
  *    tile into consecutive files.
  *
  * A build is one write plus one footer finalize, the Spark counterpart of
  * the reference's single writer pass (parquet.rs:426-474): the catalog
  * stats (count, algorithms, sources) are observed on the write itself,
  * the writer puts the footer bloom, when asked for, into each file as it
  * closes it ([[BloomParquetFormat]]), and [[FooterMeta]] splices the
  * `shaha:*` catalog into each file's footer, one splice per file.
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
        * each output file: the reference CLI's bloom fast-reject
        * (parquet.rs:481-487) and graft's own exact-lookup fast path then
        * work on this db without native-bloom support. The writer builds
        * each bloom as it writes the file ([[BloomParquetFormat]]), so no
        * extra job runs; off by default — it buffers 16 B per row of each
        * open file and costs two SipHashes per row.
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

  /** The write side's layout: `n` ordered tiles of the hash space — of
    * the (algorithm, hash) space when `algorithms` (sorted) is non-empty,
    * for the `algorithm=` layout — each sorted within by [[key]].
    * Digests are uniform, so the tile bounds are fixed before any data is
    * read: partitioning by tile (`repartitionById`, planned as
    * REPARTITION_BY_NUM) needs no range-sampling job and writes the same
    * files on every run, AQE on or off.
    */
  private[pipeline] final case class Tiling(n: Int, algorithms: Seq[String] = Nil) {
    /** The sort key within a tile. */
    val key: Seq[String] = if (algorithms.isEmpty) Seq("hash") else Seq("algorithm", "hash")

    /** `df` partitioned by tile, each tile sorted by `sortBy`. */
    def apply(df: DataFrame, sortBy: Seq[String] = key): DataFrame = {
      val rank =
        if (algorithms.isEmpty) lit(0)
        else array_position(typedLit(algorithms), col("algorithm")) - 1
      df.repartitionById(n, hashTile(col("hash"), rank, n, algorithms.size.max(1)))
        .sortWithinPartitions(sortBy.map(col): _*)
    }
  }

  private def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** J1 append-merge (reference src/cli/build.rs:180-204): one record per
    * (hash, algorithm); existing preimage wins; sources set-union, sorted
    * in `array_sort`'s UTF-8 byte order for deterministic output (set
    * semantics, SURVEY.md §7 hard-part 4). Tiled the way the build writes.
    */
  def merge(existing: DataFrame, incoming: DataFrame): DataFrame =
    merge(existing, incoming, Tiling(shufflePartitions(existing.sparkSession)))

  /** [[merge]] under `tiling`: both sides' rows go through the one tiling
    * exchange, sorted within each tile by key with the existing row first,
    * and one linear pass folds each run of equal keys into its first row.
    */
  private def merge(existing: DataFrame, incoming: DataFrame, tiling: Tiling): DataFrame = {
    val cols = schema.fieldNames.toSeq.map(col)
    val tagged = existing.select(cols: _*).withColumn("_prio", lit(0))
      .unionByName(incoming.select(cols: _*).withColumn("_prio", lit(1)))
    // a merged row always has a sources array, as `flatten` always returns one
    val out = StructType(tagged.schema.fields.init.map(f =>
      if (f.name == "sources") f.copy(nullable = false) else f))
    val merged = tiling(tagged, (tiling.key :+ "algorithm").distinct :+ "_prio")
      .mapPartitions(mergeRuns)(Encoders.row(out))
    // mapPartitions reports no ordering, and the `algorithm=` writer would
    // otherwise re-sort each tile by algorithm alone (Spark's sort is not
    // stable), so that layout sorts by its key once more
    if (tiling.algorithms.isEmpty) merged else merged.sortWithinPartitions(tiling.key.map(col): _*)
  }

  /** Fold each run of rows with one (hash, algorithm) key, sorted existing
    * first, into the run's first row with the sorted, distinct union of
    * the run's sources. Rows: hash, preimage, algorithm, sources, _prio.
    */
  private def mergeRuns(rows: Iterator[Row]): Iterator[Row] = new Iterator[Row] {
    private val in = rows.buffered
    def hasNext: Boolean = in.hasNext
    def next(): Row = {
      val first = in.next()
      val hash = first.getAs[Array[Byte]](0)
      val algorithm = first.getString(2)
      def sourcesOf(r: Row) = if (r.isNullAt(3)) Nil else r.getSeq[String](3)
      var sources = sourcesOf(first)
      while (in.hasNext && in.head.getString(2) == algorithm &&
          java.util.Arrays.equals(in.head.getAs[Array[Byte]](0), hash))
        sources = sources ++ sourcesOf(in.next())
      Row(hash, first.getString(1), algorithm, sortedSet(sources))
    }
  }

  /** `array_sort(array_distinct(xs))`: UTF-8 byte order, which is not
    * Java `String` order beyond the BMP.
    */
  private def sortedSet(xs: collection.Seq[String]): collection.Seq[String] =
    if (xs.lengthCompare(1) <= 0) xs
    else xs.distinct.sortWith((a, b) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)

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

    // O1: files and row groups clustered by hash; the `algorithm=` layout
    // tiles each algorithm's slice of the (algorithm, hash) space
    val tiling = Tiling(cfg.numFiles.getOrElse(shufflePartitions(spark)),
      if (!cfg.partitionByAlgorithm) Nil
      else (cfg.algorithms ++ existingMeta.filter(_ => appending).toSeq.flatMap(_.algorithms))
        .distinct.sorted)
    val fresh = expand(words, cfg)
    val sorted =
      if (appending) merge(spark.read.schema(schema).parquet(output), fresh, tiling)
      else tiling(fresh)

    // the catalog stats ride on the write itself. Observed above the tiling
    // exchange, they are computed in the write's result stage, whose
    // accumulator updates Spark merges once per partition: a retried
    // shuffle-map task does not count a row twice
    val stats = Observation()
    val observed = sorted.observe(stats,
      count(lit(1)).as("n"),
      collect_set(col("algorithm")).as("algos"),
      array_sort(array_distinct(flatten(collect_set(col("sources"))))).as("srcs"))

    // Appends must fully materialize before overwriting their own input;
    // stage to a temp dir then swap.
    val stage = if (appending) output + "_staging" else output
    writer(observed, cfg.partitionByAlgorithm, cfg.footerBloom, cfg.bloomNdv)
      .option("maxRecordsPerFile", cfg.maxRecordsPerFile.toString)
      .save(stage)

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
    // output directly, sidecar or no sidecar; the writer already put the
    // footer bloom, when asked for, into the same footer
    FooterMeta.write(spark, output, meta)
    Result(written = true, records = records)
  }

  /** Whether `words` holds a non-blank word: a LIMIT-1 scan. */
  private[graft] def hasWords(words: Dataset[String]): Boolean =
    !words.toDF("preimage").filter(length(col("preimage")) > 0).isEmpty

  /** The hash-db writer, shared with [[Compact]]: zstd Parquet with a
    * native bloom filter on `hash`, directories by `algorithm` for that
    * layout, and — `footerBloom` — the reference's footer bloom stamped by
    * the writer itself ([[BloomParquetFormat]]).
    */
  private[pipeline] def writer(df: DataFrame, byAlgorithm: Boolean, footerBloom: Boolean,
      bloomNdv: Long): DataFrameWriter[Row] = {
    val base = if (byAlgorithm) df.write.partitionBy("algorithm") else df.write
    base
      .format(if (footerBloom) classOf[BloomParquetFormat].getName else "parquet")
      .mode(SaveMode.Overwrite)
      .option("compression", "zstd") // K1: reference uses ZSTD (parquet.rs:93-96)
      // native per-file bloom filters on `hash` replace the reference's
      // footer bloom (parquet.rs:444-461); Spark's parquet scan consults
      // them automatically on equality predicates.
      .option("parquet.bloom.filter.enabled#hash", "true")
      .option("parquet.bloom.filter.expected.ndv#hash", bloomNdv.toString)
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
