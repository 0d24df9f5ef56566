package graft.pipeline

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.{FileMetaData, KeyValue, Util}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Compatibility layer for the reference engine's Parquet footer key/value
  * catalog (`shaha:*` keys — reference src/storage/parquet.rs:20-26,
  * written at parquet.rs:426-474, read back at parquet.rs:152-202).
  *
  * READ: a database produced by the reference carries its record count,
  * algorithm and source lists inside each file's footer; without this
  * reader a stats call on such a file would fall back to a full scan.
  * Multi-file datasets merge per-file entries: counts summed, name sets
  * unioned (the reference writes a single file; Spark output is many).
  * The serialized sip-keyed bloom (`shaha:bloom_*`, parquet.rs:444-461) is
  * deliberately NOT consumed — pruning on this side uses native parquet
  * column bloom filters and hash range predicates, which the scan applies
  * automatically.
  *
  * WRITE: the catalog is known only once the whole write has run, so
  * after a build one finalize ([[stamp]]) rewrites each file's footer in
  * place — parse the thrift `FileMetaData`, append the `shaha:*` catalog
  * entries, serialize, splice (data pages, bloom filters and column-index
  * offsets are untouched: only the trailing footer + length + magic are
  * replaced, via a filesystem-API copy so checksum files stay
  * consistent). The `shaha:bloom_*` footer bloom of a build is already in
  * the footer: the writer puts it there ([[BloomParquetFormat]]). A build's
  * finalize is one file listing, one footer read per file and one splice
  * per file: on an object store, where a splice copies the whole object, a
  * bloom-stamped build rewrites each data file once. [[writeBlooms]]
  * re-stamps blooms on databases written without them (reference-built or
  * older graft output) with one distributed bitmap job over the `hash`
  * column. The reference CLI's metadata fast path (parquet.rs:152-202)
  * then reads graft output directly. Each file records ITS OWN row count
  * (the read side sums), with the dataset-wide algorithm/source lists —
  * same merge semantics in both directions.
  *
  * Footer reads/rewrites happen driver-side, one small ranged read (plus,
  * for writes, one streaming copy) per file, fanned out on the JVM's
  * common pool — fine for a build-finalize or stats call; data pages are
  * never decoded.
  */
object FooterMeta {
  private val KeyTotal = "shaha:total_records"
  private val KeyAlgorithms = "shaha:algorithms"
  private val KeySources = "shaha:sources"
  private val KeySourceHashes = "shaha:source_hashes"
  private val CatalogKeys = Set(KeyTotal, KeyAlgorithms, KeySources, KeySourceHashes)
  private val Magic = "PAR1".getBytes("US-ASCII")

  /** Stats from `shaha:*` footer metadata of a parquet file or a directory
    * of parquet files (recursive — hive-partitioned layouts included);
    * None when absent/unreadable (callers fall back).
    */
  def read(spark: SparkSession, db: String): Option[SidecarMeta] = try {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(db)
    val fs = root.getFileSystem(conf)
    val metas = inParallel(parquetFiles(fs, root)) { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData.asScala
        // total_records is the marker key, like the reference's read path
        // (parquet.rs:195-202 requires total+algorithms+sources; we accept
        // a lone total with empty lists rather than discarding it)
        kv.get(KeyTotal).flatMap(t => t.toLongOption).map { total =>
          def csv(key: String): Seq[String] =
            kv.get(key).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
          SidecarMeta(total, csv(KeyAlgorithms), csv(KeySources),
            kv.get(KeySourceHashes).toSeq.flatMap(parseJsonArray))
        }
      } finally reader.close()
    }.flatten
    if (metas.isEmpty) None
    else Some(SidecarMeta(
      metas.map(_.totalRecords).sum,
      metas.flatMap(_.algorithms).distinct.sorted,
      metas.flatMap(_.sources).distinct.sorted,
      metas.flatMap(_.sourceHashes).distinct.sorted))
  } catch { case _: Exception => None }

  /** Stamp `shaha:*` footer metadata onto every parquet file under `db`.
    * Per-file `total_records` is the file's own row count (taken from the
    * footer being rewritten), so [[read]]'s summing merge reproduces the
    * dataset total and the reference CLI sees correct stats on any single
    * file it is pointed at. `shaha:bloom_*` keys stamped by
    * [[writeBlooms]] are left untouched (only this writer's own keys are
    * replaced).
    */
  def write(spark: SparkSession, db: String, meta: SidecarMeta): Unit = {
    stamp(spark, db, Some(meta), blooms = false)
    ()
  }

  /** Per-file footer blooms (`shaha:bloom_*`) for every parquet file under
    * `db` — None for files that carry no (or a malformed) bloom. One
    * driver-side ranged footer read per file, fanned out; data pages are
    * never touched. Used by the exact-lookup fast-reject
    * ([[QueryJob.run]]) against reference-built databases.
    *
    * Results are cached per db, validated by a (path, length, mtime)
    * listing signature: a bloom-stamped footer carries the serialized
    * bitmap (~hundreds of KB base64), so re-reading every footer per
    * lookup would cost more than it saves on repeated queries — with the
    * cache, a negative lookup after the first is a pure in-memory probe.
    * Any rewrite (append, compact, re-stamp) changes the signature and
    * refreshes the entry; the cache holds at most 8 dbs (cleared
    * wholesale beyond that — a serving tier would use a proper LRU).
    */
  private val bloomCache = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[(String, Long, Long)], Seq[(Path, Option[FooterBloom])])]

  def readBlooms(spark: SparkSession, db: String): Seq[(Path, Option[FooterBloom])] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(db)
      val fs = root.getFileSystem(conf)
      val files = parquetFiles(fs, root)
      val sig = files.map { p =>
        val s = fs.getFileStatus(p)
        (p.toString, s.getLen, s.getModificationTime)
      }
      bloomCache.get(db) match {
        case Some((cachedSig, blooms)) if cachedSig == sig => blooms
        case _ =>
          val blooms = inParallel(files) { p =>
            val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
            try {
              val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData.asScala
              p -> FooterBloom.fromKv(kv)
            } finally reader.close()
          }
          // trust-but-verify, once per cache fill: a compatible bloom has
          // NO false negatives for its own file's hashes, so probe one
          // known-present hash from one bloom-carrying file. A writer
          // with a different bit layout / hash framing fails the probe —
          // then ALL blooms for this db are discarded and lookups fall
          // back to the (correct, just slower) range-pruned scan instead
          // of silently returning empty for present keys.
          val validated = blooms.collectFirst {
            case (p, Some(bloom)) => (p, bloom)
          } match {
            case Some((p, bloom)) =>
              val probe =
                try spark.read.parquet(p.toString).select("hash").limit(1)
                  .collect().headOption.map(_.getAs[Array[Byte]](0))
                catch { case _: Exception => None }
              if (probe.exists(h => !bloom.mightContain(h)))
                blooms.map { case (f, _) => (f, None: Option[FooterBloom]) }
              else blooms
            case None => blooms
          }
          if (bloomCache.size >= 8) bloomCache.clear()
          bloomCache.put(db, (sig, validated))
          validated
      }
    } catch { case _: Exception => Seq.empty }

  /** Compute and stamp a reference-format footer bloom
    * (`shaha:bloom_bitmap`/`_keys`/`_items`) onto every data file under
    * `db`, so the reference CLI's bloom fast-reject (parquet.rs:481-487)
    * works on graft output. The `shaha:*` catalog keys are left untouched.
    * Returns the number of files stamped; a 0-row file gets no bloom.
    */
  def writeBlooms(
      spark: SparkSession, db: String,
      minCapacity: Long = FooterBloom.MinCapacity, fp: Double = FooterBloom.Fp
  ): Int = stamp(spark, db, None, blooms = true, minCapacity, fp).bloomed

  /** What one [[stamp]] found and wrote: the data files, their summed
    * footer `num_rows`, and how many of them got a footer bloom.
    */
  private[pipeline] final case class Stamped(files: Int, records: Long, bloomed: Int)

  /** The footer finalize: the `shaha:*` catalog (when `meta` is given)
    * and the footer bloom (when `blooms`) go into each file's footer in ONE
    * splice per file. Builds and compactions pass only the catalog: their
    * writer stamped the blooms.
    *
    * Each bloom is sized from its file's footer `num_rows` (at least
    * `minCapacity`), so no counting job runs. The bitmaps are built
    * DISTRIBUTED — each task folds its rows into per-file partial bitmaps
    * keyed by `input_file_name()`, OR-merged by file — so the pass scales
    * with executors; only the final ⌈bits/8⌉-byte bitmaps reach the
    * driver, one per non-empty file.
    */
  private[pipeline] def stamp(
      spark: SparkSession, db: String, meta: Option[SidecarMeta], blooms: Boolean,
      minCapacity: Long = FooterBloom.MinCapacity, fp: Double = FooterBloom.Fp
  ): Stamped = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(db)
    val fs = root.getFileSystem(conf)
    val footers = inParallel(parquetFiles(fs, root))(p => p -> readFooter(fs, p))
    val bitmaps =
      if (blooms && footers.nonEmpty)
        bloomBitmaps(spark, db,
          footers.map { case (p, f) => p.toString -> f.fmd.getNum_rows }.toMap,
          minCapacity, fp)
      else Map.empty[String, FooterBloom]
    inParallel(footers) { case (p, f) =>
      val updates = meta.toSeq.flatMap(catalogKv(_, f.fmd.getNum_rows)) ++
        bitmaps.get(p.toString).toSeq.flatMap(_.toKv)
      if (updates.nonEmpty)
        writeFooter(fs, p, f, if (meta.isDefined) CatalogKeys else Set.empty, updates)
    }
    Stamped(footers.size, footers.map(_._2.fmd.getNum_rows).sum, bitmaps.size)
  }

  /** Footer blooms of the files under `db` that hold rows, keyed by path
    * string; `rows` maps each file to its footer `num_rows`.
    */
  private def bloomBitmaps(
      spark: SparkSession, db: String, rows: Map[String, Long],
      minCapacity: Long, fp: Double
  ): Map[String, FooterBloom] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val params: Map[String, (Int, (Long, Long, Long, Long))] = rows.map {
      case (f, n) =>
        val proto = FooterBloom.forCapacity(math.max(n, minCapacity),
          seed = new Path(f).getName, fp)
        f -> (proto.bitmap.length, proto.keys)
    }
    val bc = spark.sparkContext.broadcast(params)
    val writeK = FooterBloom.kForFp(fp)
    val merged = spark.read.schema(BuildJob.schema).parquet(db)
      .select(input_file_name().as("f"), col("hash"))
      .rdd.mapPartitions { it =>
        // keyed by input_file_name()'s URI string; the bitmap goes out
        // under the listed path string the driver keyed `params` by
        val local = scala.collection.mutable.HashMap.empty[String, (String, FooterBloom)]
        it.foreach { row =>
          local.getOrElseUpdate(row.getString(0), {
            val f = new Path(new java.net.URI(row.getString(0))).toString
            val (len, keys) = bc.value(f)
            f -> new FooterBloom(new Array[Byte](len), keys, 1L, writeK)
          })._2.add(row.getAs[Array[Byte]](1))
        }
        local.valuesIterator.map { case (f, b) => f -> b.bitmap }
      }.reduceByKey { (a, b) =>
        var i = 0; while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }; a
      }.collect()
    merged.map { case (f, bytes) =>
      f -> new FooterBloom(bytes, params(f)._2, rows(f), writeK)
    }.toMap
  }

  private def parquetFiles(fs: FileSystem, root: Path): Seq[Path] = {
    if (!fs.exists(root)) return Seq.empty
    if (!fs.getFileStatus(root).isDirectory) return Seq(root)
    val it = fs.listFiles(root, true)
    val buf = Seq.newBuilder[Path]
    while (it.hasNext) {
      val s = it.next()
      val n = s.getPath.getName
      if (s.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith("."))
        buf += s.getPath
    }
    buf.result()
  }

  /** Driver-side per-file footer work, fanned out on the common pool:
    * thousands of files stop being a sequential metadata crawl.
    */
  private def inParallel[A, T](files: Seq[A])(f: A => T): Seq[T] = {
    val tasks = files.map(p =>
      java.util.concurrent.CompletableFuture.supplyAsync(() => f(p)))
    tasks.map(_.join())
  }

  /** This writer's catalog entries for one file of `numRows` rows. */
  private def catalogKv(meta: SidecarMeta, numRows: Long): Seq[(String, String)] =
    Seq(
      KeyTotal -> numRows.toString,
      KeyAlgorithms -> meta.algorithms.mkString(","),
      KeySources -> meta.sources.mkString(",")
    ) ++ (if (meta.sourceHashes.nonEmpty)
      Seq(KeySourceHashes -> meta.sourceHashes
        .map(s => "\"" + SidecarMeta.escape(s) + "\"")
        .mkString("[", ",", "]"))
    else Seq.empty)

  /** One file's parsed footer and the byte offset it starts at. */
  private final case class Footer(start: Long, fmd: FileMetaData)

  private def readFooter(fs: FileSystem, p: Path): Footer = {
    val len = fs.getFileStatus(p).getLen
    require(len > 12, s"$p: too small to be a parquet file")
    val in = fs.open(p)
    try {
      in.seek(len - 8)
      val tail = new Array[Byte](8)
      in.readFully(tail)
      require(java.util.Arrays.equals(tail.drop(4), Magic),
        s"$p: missing PAR1 magic (encrypted or not parquet)")
      val footerLen = (tail(0) & 0xff) | ((tail(1) & 0xff) << 8) |
        ((tail(2) & 0xff) << 16) | ((tail(3) & 0xff) << 24)
      val start = len - 8L - footerLen
      require(start >= 4, s"$p: implausible footer length $footerLen")
      in.seek(start)
      val buf = new Array[Byte](footerLen)
      in.readFully(buf)
      Footer(start, Util.readFileMetaData(new ByteArrayInputStream(buf)))
    } finally in.close()
  }

  /** Splice key/value entries into one file's footer. The new file is
    * byte-identical up to the footer; offsets inside the footer stay valid
    * because no data moves. Existing entries named in `removeKeys` or in
    * the update set are replaced; everything else is preserved.
    */
  private[pipeline] def spliceFooter(fs: FileSystem, p: Path, removeKeys: Set[String] = Set.empty)(
      updates: FileMetaData => Seq[(String, String)]
  ): Unit = {
    val f = readFooter(fs, p)
    writeFooter(fs, p, f, removeKeys, updates(f.fmd))
  }

  /** [[spliceFooter]]'s write half, for a footer already read. */
  private def writeFooter(fs: FileSystem, p: Path, f: Footer, removeKeys: Set[String],
      fresh: Seq[(String, String)]): Unit = {
    val Footer(footerStart, fmd) = f
    // replace stale entries for the keys being written (reference formats:
    // decimal / comma-joined / JSON string array / base64), keep the rest
    val replaced = removeKeys ++ fresh.map(_._1)
    val kept = Option(fmd.getKey_value_metadata).map(_.asScala.toSeq)
      .getOrElse(Seq.empty).filterNot(e => replaced.contains(e.getKey))
    def kv(k: String, v: String) = { val e = new KeyValue(k); e.setValue(v); e }
    fmd.setKey_value_metadata(
      (kept ++ fresh.map { case (k, v) => kv(k, v) }).asJava)

    val out = new ByteArrayOutputStream()
    Util.writeFileMetaData(fmd, out)
    val footer = out.toByteArray
    val lenLe = Array[Byte](
      (footer.length & 0xff).toByte, ((footer.length >> 8) & 0xff).toByte,
      ((footer.length >> 16) & 0xff).toByte,
      ((footer.length >> 24) & 0xff).toByte)

    if (fs.getUri.getScheme == "file") {
      // local fast path: splice the footer in place — O(footer), not
      // O(file). At build scale the alternative (re-copying every data
      // page to swap a footer) doubles write IO for nothing.
      val raf = new java.io.RandomAccessFile(new java.io.File(p.toUri.getPath), "rw")
      try {
        raf.seek(footerStart)
        raf.write(footer)
        raf.write(lenLe)
        raf.write(Magic)
        raf.setLength(footerStart + footer.length + 8L)
      } finally raf.close()
      // the edit invalidates Hadoop's checksum sidecar (".name.crc");
      // drop it so LocalFileSystem readers don't fail verification
      val crc = new Path(p.getParent, s".${p.getName}.crc")
      try if (fs.exists(crc)) { fs.delete(crc, false); () }
      catch { case _: java.io.IOException => }
    } else {
      // remote path (s3a etc.): no in-place writes — copy data prefix +
      // new footer to a sibling, then swap (object stores re-upload the
      // object on any mutation anyway)
      val tmp = new Path(p.getParent, s".${p.getName}.footer.tmp")
      val src = fs.open(p)
      val dst = fs.create(tmp, true)
      try {
        val buf = new Array[Byte](1 << 20)
        var remaining = footerStart
        while (remaining > 0) {
          val n = src.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
          require(n > 0, s"$p: truncated read at ${footerStart - remaining}")
          dst.write(buf, 0, n)
          remaining -= n
        }
        dst.write(footer)
        dst.write(lenLe)
        dst.write(Magic)
      } finally { src.close(); dst.close() }
      if (!fs.delete(p, false) || !fs.rename(tmp, p))
        throw new java.io.IOException(s"failed to swap rewritten footer into $p")
    }
  }

  /** The reference serializes source_hashes as a JSON string array
    * (parquet.rs:464-471); same minimal parser as the sidecar's.
    */
  private[pipeline] def parseJsonArray(s: String): Seq[String] =
    "\"(.*?)(?<!\\\\)\"".r.findAllMatchIn(s)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
      .toSeq
}
