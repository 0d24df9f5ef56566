package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class SketchesSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs = spark.read.parquet(s"${sf("0.01")}/documents.parquet")

  test("count-min estimates are one-sided and exact on a collision-free vocab") {
    val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
    val sketch = Sketches.countMinSketch(toks, col("tok"))
    // sketch is bounded: at most depth×width counters, total mass = depth×N
    assert(sketch.count() <= 4 * 1024)
    val n = toks.count()
    val mass = sketch.groupBy("row").agg(sum("cnt").as("m"))
      .collect().map(_.getLong(1))
    assert(mass.length == 4 && mass.forall(_ == n))
    val est = Sketches.cmsEstimate(exact, sketch, "tok").collect()
    est.foreach { r =>
      val (ex, cms) = (r.getAs[Long]("exact_n"), r.getAs[Long]("cms_n"))
      assert(cms >= ex, s"${r.get(0)}: cms $cms < exact $ex (CMS never underestimates)")
    }
    // this corpus's vocab ≪ width, so collisions are rare: the estimates
    // must be exact for the overwhelming majority
    val exactHits = est.count(r => r.getAs[Long]("cms_n") == r.getAs[Long]("exact_n"))
    assert(exactHits >= est.length * 0.9, s"$exactHits/${est.length} exact")

    // a value whose buckets are all empty estimates zero (the min floors
    // at the left join's missing counter)
    import spark.implicits._
    val small = Sketches.countMinSketch(
      Seq("alpha", "beta", "alpha", "beta", "gamma", "alpha").toDF("tok"),
      col("tok"))
    val smallEst = Sketches.cmsEstimate(
      Seq("alpha", "beta", "gamma", "absent").toDF("tok"), small, "tok")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(smallEst("alpha") >= 3 && smallEst("beta") >= 2 &&
      smallEst("gamma") >= 1)
    assert(smallEst("absent") == 0)
  }

  test("cmsJoinSize: one-sided and exact on a collision-free key domain") {
    import spark.implicits._
    // 50 keys, key i appears i+1 times in A and twice in B:
    // true join size = Σ (i+1)·2 = 2·(50·51/2) = 2550; 50 keys in a
    // 65536-bucket row collide with probability ~2%, so demand exactness
    val a = (0 until 50).flatMap(i => Seq.fill(i + 1)(s"k$i")).toDF("k")
    val b = (0 until 50).flatMap(i => Seq.fill(2)(s"k$i")).toDF("k")
    def cms(df: org.apache.spark.sql.DataFrame) =
      Sketches.countMinSketch(df, col("k"), depth = 4, width = 65536)
    val est = Sketches.cmsJoinSize(cms(a), cms(b)).collect()(0)
    assert(est.getAs[Long]("depth") == 4L)
    assert(est.getAs[Long]("join_size_est") == 2550L,
      s"collision-free estimate must be exact: ${est.toString}")

    // one-sided: a deliberately tiny width forces collisions UP, never down
    val estTiny = Sketches.cmsJoinSize(
      Sketches.countMinSketch(a, col("k"), depth = 4, width = 8),
      Sketches.countMinSketch(b, col("k"), depth = 4, width = 8))
      .collect()(0).getAs[Long]("join_size_est")
    assert(estTiny >= 2550L, s"CM inner product must overestimate: $estTiny")
  }

  test("streaming histogram accumulation equals the batch sketch exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Double]
    var acc = Seq.empty[(Int, Long)].toDF("bin", "cnt")
    val q = input.toDF().toDF("v").writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        acc = Sketches.mergeHistograms(
          acc.union(Sketches.histogramSketch(batch, col("v"), 0.0, 100.0, 10)))
          .localCheckpoint(true)
        ()
      }.start()
    try {
      input.addData(5.0, 15.0, 15.5)
      q.processAllAvailable()
      input.addData(95.0, 200.0, -3.0) // incl. out-of-domain clamps
      q.processAllAvailable()
    } finally q.stop()
    val direct = Sketches.histogramSketch(
      Seq(5.0, 15.0, 15.5, 95.0, 200.0, -3.0).toDF("v"),
      col("v"), 0.0, 100.0, 10)
    assert(acc.except(direct).isEmpty && direct.except(acc).isEmpty)
  }

  test("histogram quantiles: within one bin width of exact, merge is exact") {
    import spark.implicits._
    val vals = docs.select(col("n_chars").cast("double").as("v"))
    val (lo, hi, bins) = (0.0, 600.0, 60)
    val direct = Sketches.histogramSketch(vals, col("v"), lo, hi, bins)
    // shard by parity, merge — must equal the direct sketch bit-for-bit
    val shards = Seq(0, 1).map(p =>
      Sketches.histogramSketch(
        docs.filter(col("doc_id") % 2 === p)
          .select(col("n_chars").cast("double").as("v")),
        col("v"), lo, hi, bins))
    val merged = Sketches.mergeHistograms(shards.reduce(_ unionByName _))
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty)
    val qs = Seq(0.1, 0.5, 0.9)
    val est = Sketches.histogramQuantiles(direct, qs, lo, hi, bins)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val exact = docs.stat.approxQuantile("n_chars", qs.toArray, 0.0)
    qs.zip(exact).foreach { case (q, ex) =>
      assert(math.abs(est(q) - ex) <= (hi - lo) / bins + 1e-9,
        s"q=$q: est ${est(q)} vs exact $ex")
    }
    // out-of-domain values clamp into edge bins instead of vanishing
    val clamped = Sketches.histogramSketch(
      Seq(-5.0, 1e9).toDF("v"), col("v"), lo, hi, bins)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(clamped == Map(0 -> 1L, (bins - 1) -> 1L))
  }

  test("bloom screen: zero false negatives, bounded false positives, union merge") {
    import spark.implicits._
    val hist = (1 to 200).map(i => s"member-$i").toDF("key")
    val bits = Sketches.bloomBits(hist, col("key"), k = 7, mBits = 65536)
    // members ∪ strangers probed together; every member MUST flag true
    val probesDf = ((1 to 200).map(i => s"member-$i") ++
      (1 to 400).map(i => s"stranger-$i")).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "key")
    val flags = Sketches.bloomScreen(probesDf, "id", col("key"), bits)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Boolean]("might_contain"))
    val (members, strangers) = flags.partition(_._1.startsWith("member"))
    assert(members.forall(_._2), "bloom false negative — structurally impossible")
    // fp bound: load kN/m = 7*200/65536 → (1-e^-0.021)^7 ≈ 1e-12; any
    // stranger flagged would be a probe-arithmetic bug, not bad luck
    assert(strangers.count(_._2) == 0,
      s"unexpected false positives: ${strangers.filter(_._2).map(_._1).toSeq}")

    // merge = set union of bits tables: screening against union(bitsA, bitsB)
    // equals screening against bits of (A ∪ B) — Bloom OR, lossless
    val a = (1 to 50).map(i => s"a-$i").toDF("key")
    val b = (1 to 50).map(i => s"b-$i").toDF("key")
    val unionOfBits = Sketches.bloomBits(a, col("key"))
      .union(Sketches.bloomBits(b, col("key"))).distinct()
    val bitsOfUnion = Sketches.bloomBits(a.union(b), col("key"))
    assert(unionOfBits.except(bitsOfUnion).isEmpty &&
      bitsOfUnion.except(unionOfBits).isEmpty)
  }

  test("Misra-Gries: hand reduction and merge values, never overcounts, " +
    "and the n/(k+1) undercount guarantee keeps a planted heavy key") {
    import spark.implicits._
    def m(rows: Seq[(String, Long)]) = rows.toDF("key", "c")
    def got(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("c")).toMap

    // k=2, counts {a:5,b:4,c:3,d:1}: 3rd largest = 3 → {a:2, b:1}
    val s0 = Sketches.mgSubtract(m(Seq("a" -> 5L, "b" -> 4L, "c" -> 3L,
      "d" -> 1L)), k = 2)
    assert(got(s0) == Map("a" -> 2L, "b" -> 1L))
    // at most k counters even with ties at the boundary
    val tied = Sketches.mgSubtract(m(Seq("a" -> 3L, "b" -> 3L, "c" -> 3L)),
      k = 2)
    assert(got(tied).isEmpty, "all counters tie the (k+1)-st → all drop")
    // ≤ k distinct keys: identity (d = 0)
    assert(got(Sketches.mgSubtract(m(Seq("a" -> 5L, "b" -> 1L)), k = 2)) ==
      Map("a" -> 5L, "b" -> 1L))

    // merge: {a:2,b:1} + {c:4,a:1} → sums {a:3,c:4,b:1}, d=1 → {a:2,c:3}
    val merged = Sketches.mgMerge(s0, m(Seq("c" -> 4L, "a" -> 1L)), k = 2)
    assert(got(merged) == Map("a" -> 2L, "c" -> 3L))

    // guarantee: 60 copies of HOT + 40 singletons-ish, k=4 → any key with
    // freq > 100/5 = 20 must survive; counts are never above exact
    val items = (Seq.fill(60)("HOT") ++
      (0 until 40).map(i => s"cold${i % 20}")).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
      .toDF("i", "key")
    val summ = got(Sketches.mgSubtract(
      items.groupBy("key").agg(count(lit(1)).as("c")), k = 4))
    assert(summ.contains("HOT"), s"heavy key lost: $summ")
    assert(summ("HOT") <= 60L && summ("HOT") >= 60L - 100L / 5L,
      s"undercount bound violated: ${summ("HOT")}")
    assert(summ.size <= 4)
  }

  test("Misra-Gries property sweep: over random Zipf-ish streams and " +
    "random batch splits, the merged summary never overcounts, every " +
    "key undercounts by <= n/(k+1), and every > n/(k+1) key survives") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 6) {
      val k = 3 + rnd.nextInt(8)
      val nKeys = 5 + rnd.nextInt(40)
      // Zipf-ish frequencies: key j gets ~ n / (j+1) copies
      val items = (0 until nKeys).flatMap { j =>
        Seq.fill(1 + 200 / (j + 1))(s"t${trial}_k$j")
      }
      val n = items.size.toLong
      val exact = items.groupBy(identity).map { case (s, l) =>
        s -> l.size.toLong }
      // random batch split into 2..5 batches, folded in order
      val nb = 2 + rnd.nextInt(4)
      val batches = items.zipWithIndex
        .groupBy { case (_, i) => i % nb }.toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
      val first = Sketches.mgSubtract(
        batches.head.zipWithIndex.map { case (s, i) => (i.toLong, s) }
          .toDF("i", "key").groupBy("key").agg(count(lit(1)).as("c")),
        k)
      val summary = batches.tail.foldLeft(first) { (prev, b) =>
        Sketches.mgMerge(prev,
          b.zipWithIndex.map { case (s, i) => (i.toLong, s) }
            .toDF("i", "key").groupBy("key").agg(count(lit(1)).as("c")),
          k)
      }.collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("c"))
        .toMap
      val bound = n / (k + 1)
      assert(summary.size <= k, s"trial $trial: ${summary.size} > k=$k")
      summary.foreach { case (key, c) =>
        assert(c <= exact(key), s"trial $trial: $key overcounts")
        assert(exact(key) - c <= bound,
          s"trial $trial: $key undercounts past n/(k+1)=$bound")
      }
      exact.filter(_._2 > bound).keys.foreach { h =>
        assert(summary.contains(h),
          s"trial $trial: heavy $h (${exact(h)} > $bound) lost, k=$k")
      }
    }
  }
}
