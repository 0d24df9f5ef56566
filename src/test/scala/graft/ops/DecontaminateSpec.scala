package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class DecontaminateSpec extends AnyFunSuite with SparkTestBase {

  test("a leaked benchmark passage flags the document") {
    import spark.implicits._
    val bench = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "colorless green ideas sleep furiously under a pale moon"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // 100: embeds benchmark 1's passage verbatim mid-document
      (100L, "intro words here the quick brown fox jumps over the lazy dog tonight and more trailing text"),
      // 101: clean
      (101L, "completely unrelated content about distributed query engines and parquet files"),
      // 102: shares a benchmark-2 5-gram twice? once — below minHits=2
      (102L, "she said colorless green ideas sleep furiously yesterday evening"))
      .toDF("doc_id", "text")
    val pairs = Decontaminate.contaminationPairs(docs, bench, n = 5, minHits = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 1L)))
    assert(!pairs.exists(_._1 == 101L))
  }

  test("fuzzyPairs: light corruption matches within the band, strangers don't") {
    import spark.implicits._
    val docs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight again"),
      (101L, "completely different content about distributed query engines"),
      // within 48 chars of doc 100's prefix but 7 edits off — outside band
      (102L, "thequick BROWN fax jumping over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val bench = Seq(
      // doc 100's prefix with one word dropped ("jumps ", 6 edits)… too
      // far at maxDist=5; with 3 chars dropped it's exactly 3 edits
      (1L, "the quick bron fox jumps over the lazy dog tonight again"),
      (2L, "unrelated benchmark prompt that matches nobody at all here"))
      .toDF("benchmark_id", "text")
    val out = Decontaminate.fuzzyPairs(docs, bench, prefixLen = 48, maxDist = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // one deletion inside the window + the one extra char the 48-char
    // truncation pulls in at the tail = 2 edits
    assert(out.contains((100L, 1L)) && out((100L, 1L)) == 2)
    assert(!out.keys.exists(_._1 == 101L))
    // benchmark 2 matches nothing; doc 102 is beyond the edit band of b1
    assert(!out.keys.exists(_._2 == 2L))
    assert(!out.contains((102L, 1L)))
  }
}
