package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class StreamingDedupSpec extends AnyFunSuite with SparkTestBase {

  // near-identical pair: one token of ~40 differs → Jaccard well above 0.8;
  // the "far" doc shares nothing
  private val base = (1 to 40).map(i => s"tok$i").mkString(" ")
  private val nearDup = ((1 to 39).map(i => s"tok$i") :+ "tokX").mkString(" ")
  private val far = (1 to 40).map(i => s"other$i").mkString(" ")

  test("admitBatch: in-batch near-dups resolve to the smaller id; state bootstraps") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sdedup").toString
    val (corpus, index) = (s"$dir/corpus", s"$dir/index")

    val r1 = StreamingDedup.admitBatch(
      Seq((10L, base), (20L, nearDup), (30L, far)).toDF("doc_id", "text"),
      corpus, index)
    assert(r1 == StreamingDedup.BatchResult(admitted = 2, rejected = 1))
    assert(spark.read.parquet(corpus).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(10L, 30L))
    // index carries one signature row per admitted doc
    assert(spark.read.parquet(index).count() == 2)

    // second shard: near-dup of STORED doc 10 rejected, novel doc admitted,
    // exact-id redelivery of 30 collapses to one row then rejects vs stored
    val novel = (1 to 40).map(i => s"fresh$i").mkString(" ")
    val r2 = StreamingDedup.admitBatch(
      Seq((40L, nearDup), (50L, novel), (30L, far), (30L, far))
        .toDF("doc_id", "text"),
      corpus, index)
    assert(r2 == StreamingDedup.BatchResult(admitted = 1, rejected = 2))
    assert(spark.read.parquet(corpus).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(10L, 30L, 50L))
    assert(spark.read.parquet(index).count() == 3)

    // a third shard's near-dup of stored doc 10 rejects against the
    // index the two earlier batches appended
    val r3 = StreamingDedup.admitBatch(
      Seq((60L, nearDup)).toDF("doc_id", "text"), corpus, index)
    assert(r3 == StreamingDedup.BatchResult(admitted = 0, rejected = 1),
      "near-dup of stored doc must still reject against the index")
  }

  test("admitBatch: crash between corpus and index appends self-heals") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sdedup-crash").toString
    val (corpus, index) = (s"$dir/corpus", s"$dir/index")

    // simulate a crash AFTER the corpus append but BEFORE the index
    // append: doc 10 is in the corpus with no signature row anywhere —
    // the exact state admitBatch leaves if it dies between its two writes
    Seq((10L, base)).toDF("doc_id", "text")
      .write.format("parquet").save(corpus)

    // recovery batch: a redelivery of 10 plus a near-dup of it. The
    // batch must (a) not duplicate 10 in the corpus, (b) backfill 10's
    // signatures, (c) reject the near-dup AGAINST the healed index.
    val r = StreamingDedup.admitBatch(
      Seq((10L, base), (40L, nearDup)).toDF("doc_id", "text"),
      corpus, index)
    assert(r == StreamingDedup.BatchResult(admitted = 0, rejected = 2),
      s"orphaned corpus doc must reject its near-dups after healing: $r")
    assert(spark.read.parquet(corpus).collect().map(_.getLong(0)).toSeq
      == Seq(10L), "redelivery must not duplicate the orphaned doc")
    assert(spark.read.parquet(index).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(10L),
      "batch start must backfill the orphan's signatures")

    // the same healing covers a LATER-batch crash: corpus has {10, 30}
    // but only 10 is indexed
    Seq((30L, far)).toDF("doc_id", "text")
      .write.format("parquet").mode("append").save(corpus)
    val r2 = StreamingDedup.admitBatch(
      Seq((60L, far)).toDF("doc_id", "text"), corpus, index)
    assert(r2 == StreamingDedup.BatchResult(admitted = 0, rejected = 1),
      "near-dup (here: exact dup text, new id) of the stranded doc 30 " +
        s"must reject once 30's signatures are backfilled: $r2")
    assert(spark.read.parquet(index).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(10L, 30L))
  }

  test("streaming: micro-batches admit against state persisted across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sdedup-stream").toString
    val (corpus, index) = (s"$dir/corpus", s"$dir/index")

    val input = MemoryStream[(Long, String)]
    val query = StreamingDedup.run(
      input.toDF().toDF("doc_id", "text"), corpus, index, s"$dir/ckpt")
    try {
      input.addData((1L, base), (2L, far))
      query.processAllAvailable()
      assert(spark.read.parquet(corpus).count() == 2)

      // next batch: a near-dup of batch-1's doc 1 must be rejected via the
      // stored index (no in-memory state — a fresh read of the parquet)
      input.addData((3L, nearDup))
      query.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L))

      // and a genuinely new doc still lands
      input.addData((4L, (1 to 40).map(i => s"new$i").mkString(" ")))
      query.processAllAvailable()
      assert(spark.read.parquet(corpus).count() == 3)
    } finally query.stop()
  }
}
