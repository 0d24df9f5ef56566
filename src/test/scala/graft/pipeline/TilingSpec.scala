package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.sql.expressions.HashTile

/** The build's write layout: files tile the (algorithm, hash) space by
  * digest prefix, and appends merge inside each tile.
  */
class TilingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-tile").toString + "/db"

  private def withAqe[T](on: Boolean)(f: => T): T = {
    val was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", on.toString)
    try f finally spark.conf.set("spark.sql.adaptive.enabled", was)
  }

  private val PartId = """part-(\d{5})-.*""".r

  /** Per data file: (tile from its name, algorithm dir or "", min, max). */
  private def fileRanges(db: String, hive: Boolean = false)
      : Seq[(Int, String, Array[Byte], Array[Byte])] = {
    spark.read.parquet(db)
      .groupBy(input_file_name(), if (hive) col("algorithm") else lit(""))
      .agg(min("hash"), max("hash")).collect().toSeq
      .map { r =>
        val PartId(tile) = new org.apache.hadoop.fs.Path(r.getString(0)).getName
        (tile.toInt, r.getString(1), r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3))
      }
  }

  private def unsignedLess(x: Array[Byte], y: Array[Byte]): Boolean =
    java.util.Arrays.compareUnsigned(x, y) < 0

  test("every file's min/max lie inside its tile and tiles do not overlap " +
      "(flat and algorithm= layouts)") {
    val words = (0 until 600).map(i => f"tile-$i%04d")
    val algos = Seq("md5", "sha256", "blake3")
    for ((hive, n) <- Seq((false, 4), (true, 3))) {
      val db = tmp()
      BuildJob.run(spark, words.toDS(), db, BuildJob.Config(algos,
        numFiles = Some(n), partitionByAlgorithm = hive))
      val ranks = if (hive) algos.sorted else Seq("")
      val files = fileRanges(db, hive)
      assert(files.size >= n, s"hive=$hive: $files")
      for ((tile, a, lo, hi) <- files) {
        val rank = ranks.indexOf(a)
        assert(HashTile.compute(lo, rank, n, ranks.size) == tile &&
          HashTile.compute(hi, rank, n, ranks.size) == tile, s"hive=$hive $a tile $tile")
      }
      for ((_, fs) <- files.groupBy(_._2)) {
        val byMin = fs.sortWith((x, y) => unsignedLess(x._3, y._3))
        assert(byMin.sliding(2).forall {
          case Seq(x, y) => x._1 < y._1 && unsignedLess(x._4, y._3)
          case _ => true
        }, s"hive=$hive: overlapping tiles")
      }
    }
  }

  test("two builds of one input with AQE on write the same n files, one per tile") {
    val words = (0 until 400).map(i => f"same-$i%04d")
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val runs = withAqe(on = true) {
      Seq.fill(2) {
        val db = tmp()
        BuildJob.run(spark, words.toDS(), db, BuildJob.Config(Seq("md5", "sha1")))
        fileRanges(db).map(_._1).sorted
      }
    }
    assert(runs.forall(_ == (0 until n)), runs)
  }

  /** The append merge as a `groupBy` — the formulation the tiled merge
    * replaced, kept as the reference it must match.
    */
  private def original(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.withColumn("_prio", lit(0))
      .unionByName(incoming.withColumn("_prio", lit(1)))
      .groupBy("hash", "algorithm")
      .agg(
        min_by(col("preimage"), col("_prio")).as("preimage"),
        array_sort(array_distinct(flatten(collect_list(col("sources"))))).as("sources"))
      .select("hash", "preimage", "algorithm", "sources")

  private def rows(df: DataFrame): Seq[(String, String, String, Seq[String])] =
    df.select(hex(col("hash")), col("preimage"), col("algorithm"), col("sources"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getSeq[String](3)))
      .sortBy(r => (r._1, r._3))

  test("the tiled append merge returns the groupBy formula's rows on random " +
      "inputs: non-BMP source names, unsorted existing sources") {
    // U+E000 sorts after a surrogate pair in Java String order and before
    // it in UTF-8 byte order, the order array_sort uses
    val names = Seq("a", "b", "\uE000x", "😀y", "z", "é")
    val rnd = new scala.util.Random(13)
    def word(): String = Seq.fill(1 + rnd.nextInt(6))(
      if (rnd.nextInt(8) == 0) "😀" else ('a' + rnd.nextInt(26)).toChar.toString
    ).mkString
    for (trial <- 0 until 3) {
      val pool = Seq.fill(500)(word()).distinct
      val (olds, news) = (pool.take(300), pool.drop(150).take(250))
      val cfg = BuildJob.Config(Seq("md5", "sha1"), sourceName = names(trial))
      // an existing db whose sources arrays are unsorted and repeat names
      val existing = BuildJob.expand(olds.toDS(), cfg)
        .as[(Array[Byte], String, String, Seq[String])].map { case (h, p, a, _) =>
          (h, p, a, Seq.fill(1 + rnd.nextInt(4))(names(rnd.nextInt(names.size))))
        }.toDF(BuildJob.schema.fieldNames.toSeq: _*).localCheckpoint()
      val incoming = BuildJob.expand(news.toDS(), cfg.copy(sourceName = names(trial + 3)))
      val got = rows(BuildJob.merge(existing, incoming))
      assert(got == rows(original(existing, incoming)), s"trial $trial")
      assert(got.size == (olds ++ news).distinct.size * 2)
    }
  }

  test("an append through maxRecordsPerFile splits: each file's own bloom sized " +
      "by its own rows, the same one writeBlooms computes; rows match the " +
      "groupBy formula") {
    val db = tmp()
    val cfg = BuildJob.Config(Seq("md5"), sourceName = "😀", numFiles = Some(2),
      maxRecordsPerFile = 70L, footerBloom = true)
    val a = (0 until 300).map(i => f"split-$i%04d")
    val b = (200 until 400).map(i => f"split-$i%04d")
    BuildJob.run(spark, a.toDS(), db, cfg)
    val before = spark.read.schema(BuildJob.schema).parquet(db).localCheckpoint()
    val incoming = BuildJob.expand(b.toDS(), cfg.copy(sourceName = "\uE000"))
    val want = rows(original(before, incoming))
    assert(BuildJob.run(spark, b.toDS(), db, cfg.copy(sourceName = "\uE000", append = true))
      .records == 400)
    assert(rows(spark.read.schema(BuildJob.schema).parquet(db)) == want)

    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(db)
    val fs = root.getFileSystem(conf)
    def footers = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith(".")).toSeq
      .map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try p.getName -> (r.getRecordCount,
          r.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap)
        finally r.close()
      }.toMap
    val built = footers
    // 400 rows over 2 tiles at ≤ 70 rows per file
    assert(built.size >= 6, built.keys)
    for ((name, (n, kv)) <- built) {
      val bloom = FooterBloom.fromKv(kv).get
      assert(n <= 70 && bloom.items == n && kv("shaha:total_records").toLong == n, name)
      assert(bloom.bitmap.length == FooterBloom.bitmapBytes(FooterBloom.MinCapacity), name)
      val hashes = spark.read.parquet(s"$db/$name").select("hash").as[Array[Byte]].collect()
      assert(hashes.length == n && hashes.forall(bloom.mightContain), name)
    }
    assert(FooterMeta.writeBlooms(spark, db) == built.size)
    assert(footers == built, "re-stamping must leave the writer's blooms as they are")
  }
}
