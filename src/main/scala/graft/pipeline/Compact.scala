package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for built hash databases.
  *
  * Long append histories leave a database as many small parquet files
  * (every `BuildJob.run(append = true)` writes at least one); at object-
  * store scale that means per-file open/footer overhead on every query
  * and a metadata crawl per stats call. Compaction rewrites the dataset
  * into ⌈total bytes / targetBytes⌉ files while PRESERVING the layout
  * contract: a global range-partitioned sort by `hash`, so per-file
  * min/max ranges and bloom filters keep serving prefix/exact pruning
  * exactly as BuildJob wrote them, and the sidecar + `shaha:*` footers
  * are re-stamped so both catalogs stay correct.
  *
  * Same staging discipline as append builds: write to `<db>_compacting`,
  * rename the old database aside to `<db>_old`, rename the stage in, and
  * delete `<db>_old` last — a crash at any point leaves either the old or
  * the new database at the path (never a window with no database), and the
  * rename-based swap works on any Hadoop FileSystem (ObjectStoreSpec
  * exercises it on a non-`file` scheme).
  *
  * Databases built with `partitionByAlgorithm = true` keep their hive
  * `algorithm=` directory layout and `(algorithm, hash)` clustering; the
  * layout is detected from the on-disk paths, so no flag is needed.
  */
object Compact {

  final case class Result(filesBefore: Int, filesAfter: Int, records: Long)

  /** Parquet data files directly under `db` (same filter as FooterMeta). */
  private def dataFiles(spark: SparkSession, db: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(db)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Seq.empty
    val it = fs.listFiles(root, true)
    val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) {
      val s = it.next()
      val n = s.getPath.getName
      if (s.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith("."))
        buf += s
    }
    buf.result()
  }

  /** Compact `db` to ~`targetBytes` per file. No-op (Result with
    * filesAfter == filesBefore) when the dataset already meets the
    * target with at most one file of slack.
    */
  def run(
      spark: SparkSession, db: String, targetBytes: Long = 128L << 20,
      cfg: BuildJob.Config = BuildJob.Config()
  ): Result = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val files = dataFiles(spark, db)
    if (files.isEmpty) return Result(0, 0, 0L)
    val totalBytes = files.map(_.getLen).sum
    val want = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (files.size <= want + 1) {
      val n = spark.read.schema(BuildJob.schema).parquet(db).count()
      return Result(files.size, files.size, n)
    }
    // A db built with partitionByAlgorithm=true has hive `algorithm=` dirs;
    // detect from the paths (robust even without the original Config) and
    // preserve both the directory layout and the (algorithm, hash)
    // clustering so algorithm-pruned reads keep working after compaction.
    val hiveLayout = cfg.partitionByAlgorithm ||
      files.exists(_.getPath.getParent.getName.startsWith("algorithm="))
    // a bloom-stamped db keeps its footer blooms through compaction —
    // the rewrite invalidates per-file bitmaps, so they are recomputed
    // for the new file set after the swap
    val hadBlooms = cfg.footerBloom ||
      FooterMeta.readBlooms(spark, db).exists(_._2.isDefined)
    val meta = SidecarMeta.read(spark, db)
    val df = spark.read.schema(BuildJob.schema).parquet(db)
    val stage = db + "_compacting"
    val sorted =
      if (hiveLayout)
        df.repartitionByRange(want, col("algorithm"), col("hash"))
          .sortWithinPartitions("algorithm", "hash")
      else
        df.repartitionByRange(want, col("hash")).sortWithinPartitions("hash")
    val writer = sorted
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#hash", "true")
      .option("parquet.bloom.filter.expected.ndv#hash", cfg.bloomNdv.toString)
    (if (hiveLayout) writer.partitionBy("algorithm") else writer).parquet(stage)

    swapInPlace(spark, db, stage)

    // one footer finalize re-stamps the catalog and the blooms together;
    // the rewritten files' footer row counts give the record count
    meta.foreach(SidecarMeta.write(spark, db, _))
    val stamped = FooterMeta.stamp(spark, db, meta, blooms = hadBlooms)
    Result(files.size, stamped.files, stamped.records)
  }

  /** Compact ANY parquet dataset directory to ~`targetBytes` files,
    * clustered by `sortCols` (range partition + within-partition sort —
    * empty keeps arrival order). The hash-db entry point [[run]] adds
    * schema enforcement, blooms, hive-layout preservation, and catalog
    * re-stamping on top of the same core; this generic form serves the
    * datasets a pipeline accretes in small appends — e.g.
    * [[graft.streaming.StreamingDedup]]'s per-batch signature-index and
    * corpus files — where per-file open/footer overhead otherwise grows
    * with every micro-batch. Same rename-aside crash discipline.
    */
  def runGeneric(
      spark: SparkSession, path: String, sortCols: Seq[String] = Seq.empty,
      targetBytes: Long = 128L << 20,
      options: Map[String, String] = Map("compression" -> "zstd")
  ): Result = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val files = dataFiles(spark, path)
    if (files.isEmpty) return Result(0, 0, 0L)
    val totalBytes = files.map(_.getLen).sum
    val want = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (files.size <= want + 1) {
      return Result(files.size, files.size, spark.read.parquet(path).count())
    }
    val df = spark.read.parquet(path)
    val sorted =
      if (sortCols.isEmpty) df.repartition(want)
      else df.repartitionByRange(want, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
    sorted.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .options(options).parquet(path + "_compacting")
    swapInPlace(spark, path, path + "_compacting")
    Result(files.size, dataFiles(spark, path).size,
      spark.read.parquet(path).count())
  }

  /** Rename-aside swap: old data moves to `<db>_old`, the stage renames
    * in, `_old` is deleted last — a crash at any point leaves either the
    * old or the new dataset at the path, never neither.
    */
  private def swapInPlace(spark: SparkSession, db: String, stage: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val outPath = new Path(db)
    val fs = outPath.getFileSystem(conf)
    val oldPath = new Path(db + "_old")
    fs.delete(oldPath, true) // clear leftovers from a prior crashed swap
    if (!fs.rename(outPath, oldPath))
      throw new java.io.IOException(s"failed to move $db aside to $oldPath")
    if (!fs.rename(new Path(stage), outPath)) {
      fs.rename(oldPath, outPath) // restore; leaves the stage for retry
      throw new java.io.IOException(s"failed to swap $stage into $db")
    }
    fs.delete(oldPath, true)
    ()
  }
}
