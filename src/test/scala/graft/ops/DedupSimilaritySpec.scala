package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class DedupSimilaritySpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
  private lazy val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")

  test("minhash-LSH finds exactly the brute-force near-dup pairs (recall=1 here)") {
    val sh = Dedup.shingles(docs)
    // brute force ground truth: all pairs with jaccard >= 0.8
    val all = sh.select(col("doc_id").as("i"), col("w"))
      .join(sh.select(col("doc_id").as("j"), col("w")), "w")
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
    val truth = Dedup.verifyJaccard(all, sh)
      .filter(col("jaccard") >= 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashLsh(docs)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus should contain planted near-dups")
    assert(found == truth,
      s"LSH missed ${truth -- found} / false ${found -- truth}")
  }

  test("GENERATIVE: each minhash family verifies a sound subset of truth; " +
      "exact duplicates are always recalled (random corpora)") {
    // HISTORY (r10): this test originally asserted the md5 and xxhash64
    // families verify IDENTICAL pair sets — the empirical property the
    // r9 family switch in q_pipeline_curate/attrition/q_dedup_clusters
    // rested on. It FAILED on first run (seed 202: a one-token-append
    // twin, j ≈ 0.93, recalled by md5 banding and missed by xxhash64 —
    // banding recall IS family-dependent, exactly the r9 verdict's
    // caveat). The resolution was to ELIMINATE the coupling: every
    // oracle-declared query computes the md5 family directly (cheap
    // since the graft_word_minhash kernel), and the xxhash64 family
    // was later deleted outright. What remains here are the two
    // properties that are THEOREMS, pinned for the md5 family:
    //  - soundness: every verified pair has exact Jaccard ≥ threshold
    //    (so ⊆ the brute-force truth set);
    //  - exact-duplicate recall: j = 1 ⇒ identical signatures ⇒ every
    //    band collides ⇒ the pair is always a candidate.
    import spark.implicits._
    val vocab = Vector("data", "model", "train", "loss", "rate", "token",
      "corpus", "dedup", "spark", "scale", "batch", "node", "graph",
      "query", "shard", "merge", "layer", "cache", "split", "epoch")
    for (seed <- Seq(101, 202, 303)) {
      val rnd = new scala.util.Random(seed)
      val base = (0 until 60 + rnd.nextInt(40)).map { i =>
        (i.toLong,
          Seq.fill(12 + rnd.nextInt(50))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val twins = base.flatMap { case (id, t) =>
        rnd.nextInt(3) match {
          case 0 => Some((100000L + id, t)) // exact dup: j = 1.0
          case 1 => // light edit: one token appended, j near 1
            Some((200000L + id, t + " " + vocab(rnd.nextInt(vocab.size))))
          case _ => None
        }
      }
      val d = (base ++ twins).toDF("doc_id", "text")
      val sh = Dedup.shingles(d)
      val all = sh.select(col("doc_id").as("i"), col("w"))
        .join(sh.select(col("doc_id").as("j"), col("w")), "w")
        .filter(col("i") < col("j")).select("i", "j").distinct()
      val truth = Dedup.verifyJaccard(all, sh)
        .filter(col("jaccard") >= 0.8).select("i", "j")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exactDups = twins.collect {
        case (id, t) if id >= 100000L && id < 200000L => (id - 100000L, id)
      }.toSet
      val found = Dedup.minhashLsh(d)
        .select("i", "j")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(found.subsetOf(truth),
        s"seed=$seed unsound pairs ${found -- truth}")
      assert(exactDups.subsetOf(found),
        s"seed=$seed missed exact dups ${exactDups -- found}")
    }
  }

  test("simhash: near-dup pairs are far closer in bit-hamming than random pairs") {
    val planted = Dedup.minhashLsh(docs).select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sig = Dedup.simhash(Dedup.shingles(docs)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def bitHamming(a: String, b: String): Int =
      a.zip(b).map { case (x, y) =>
        Integer.bitCount(Integer.parseInt(x.toString, 16) ^ Integer.parseInt(y.toString, 16))
      }.sum
    val dupDists = planted.map { case (i, j) => bitHamming(sig(i), sig(j)) }
    val dupMean = dupDists.sum.toDouble / dupDists.length
    val rnd = new scala.util.Random(7)
    val ids = sig.keys.toArray
    val rndDists = (1 to 200).flatMap { _ =>
      val i = ids(rnd.nextInt(ids.length)); val j = ids(rnd.nextInt(ids.length))
      if (i == j) None else Some(bitHamming(sig(i), sig(j)))
    }
    val rndMean = rndDists.sum.toDouble / rndDists.size
    // random 64-bit signatures differ in ~32 bits; near-dups in far fewer
    assert(dupMean + 8 < rndMean,
      s"simhash separation too weak: dup=$dupMean rnd=$rndMean")
    assert(dupDists.forall(_ <= 24), s"planted pair too distant: ${dupDists.toSeq}")
  }

  test("exact dedup keeps the lowest id per key") {
    import spark.implicits._
    val df = Seq((1L, "aaa"), (2L, "bbb"), (5L, "aaa"), (3L, "aaa"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", md5(col("text")))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 3L), (2L, 1L))) // (keep_id, n_copies)
  }

  test("brute-force top-k: self excluded, scores sorted, k respected") {
    val topk = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, k = 4)
      .collect()
    val byQuery = topk.groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.values.foreach { rows =>
      assert(rows.length == 4)
      assert(rows.forall(r => r.getLong(1) != r.getLong(0))) // no self
      val scores = rows.sortBy(_.getInt(3)).map(_.getLong(2))
      assert(scores.toSeq == scores.sortBy(-_).toSeq) // rank follows score
    }
  }

  test("LSH top-k achieves usable recall vs brute force at much less work") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, emb, k = 3, dim = 64, nPlanes = 4,
        nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // per-table same-bucket odds for a true neighbor ≈ p⁴ with p=1-θ/π;
    // 8 tables OR-amplify that to a usable recall
    assert(recall >= 0.5, s"recall $recall too low")
    assert(approx.nonEmpty)
  }

  test("incremental minhash: new shard vs stored index equals the full run restricted") {
    val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val histSigs = Dedup.minhashSignaturesKernel(hist, 8)
    val inc = Dedup.incrementalMinhash(fresh, hist, histSigs, threshold = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullRestricted = Dedup.minhashLsh(docs, threshold = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (i, j) => i % 5 == 0 || j % 5 == 0 }.toSet
    assert(inc == fullRestricted, s"diff: ${(inc diff fullRestricted) ++ (fullRestricted diff inc)}")
    // and no history-only pair sneaks in: every pair touches the shard
    assert(inc.forall { case (i, j) => i % 5 == 0 || j % 5 == 0 })
    assert(inc.nonEmpty)
  }

  test("the signature index survives a parquet round-trip (stored-index contract)") {
    // incrementalMinhash's production premise is that yesterday's
    // signatures are a PERSISTED artifact; prove the store/reload path:
    // identical results from an index that went through parquet
    val dir = java.nio.file.Files.createTempDirectory("graft-sigidx").toString
    val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    Dedup.minhashSignaturesKernel(hist, 8)
      .write.mode("overwrite").parquet(s"$dir/sigs")
    val reloaded = spark.read.parquet(s"$dir/sigs")
    val viaStore = Dedup.incrementalMinhash(fresh, hist, reloaded, threshold = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Dedup.incrementalMinhash(fresh, hist,
        Dedup.minhashSignaturesKernel(hist, 8), threshold = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStore == inline && viaStore.nonEmpty)
  }

  test("batched incremental dedup replays the full corpus run exactly") {
    // the streaming shape: docs arrive in batches, each batch runs
    // incrementally against the accumulated signature index, new sigs
    // append to the index. Every near-dup pair is "new-touching" in the
    // batch where its LATER doc arrives, so the union of per-batch
    // results must equal the one-shot full run — no pair lost, none
    // duplicated across batches.
    val batches = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    var seen = spark.emptyDataFrame
    var histSigs: Option[org.apache.spark.sql.DataFrame] = None
    val got = scala.collection.mutable.Set[(Long, Long)]()
    batches.foreach { b =>
      val bSigs = Dedup.minhashSignaturesKernel(b, 8)
        .localCheckpoint(true)
      histSigs match {
        case None => // first batch: only within-batch pairs exist
          got ++= Dedup.minhashLsh(b, threshold = 0.8)
            .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
          seen = b
        case Some(hs) =>
          got ++= Dedup.incrementalMinhash(b, seen, hs, threshold = 0.8)
            .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
          seen = seen.unionByName(b)
      }
      histSigs = Some(histSigs.map(_.unionByName(bSigs)).getOrElse(bSigs))
    }
    val full = Dedup.minhashLsh(docs, threshold = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == full,
      s"diff: ${(got.toSet diff full) ++ (full diff got.toSet)}")
    assert(full.nonEmpty)
  }

  test("random-projection top-k: usable recall vs brute force from 2x-cheaper scoring") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rp = Similarity.rpTopK(q, emb, k = 5, dim = 64).collect()
    // every query returns exactly k ranked candidates (no bucket cliff)
    val perQuery = rp.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perQuery.values.forall(_ == 5) && perQuery.size == 20)
    // a surviving candidate's score is the EXACT cosine (rerank is exact),
    // so any pair also present in brute force carries the same cos_bp
    val exactScores = Similarity.bruteForceTopK(q, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rp.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactScores.get(key).foreach(s => assert(s == r.getLong(2)))
    }
    val approx = rp.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // this synthetic corpus is adversarial for ANY projection (true top-5
    // sit barely above the random-cosine noise floor, same caveat as the
    // LSH paths); measured 0.53-0.65 across the sf fixtures at the
    // 64→32/overfetch-8 defaults, near-1 on corpora with real neighbors
    assert(recall >= 0.45, s"recall $recall too low")
  }

  test("duplicate clusters: connected components resolve chains, survivors kept") {
    import spark.implicits._
    // two chains (1-2-3, 7-8) and an isolated pair (20, 21)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (20L, 21L)).toDF("i", "j")
    val clusters = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(7L) == 7L && clusters(8L) == 7L)
    assert(clusters(20L) == 20L && clusters(21L) == 20L)
    val surv = Dedup.survivors(pairs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(surv == Set((1L, 3L), (7L, 2L), (20L, 2L))) // (keep_id, size)
  }

  test("dedup end-to-end: minhash pairs → clusters → survivors on the corpus") {
    val pairs = Dedup.minhashLsh(docs).select("i", "j")
    val nPairs = pairs.count()
    val surv = Dedup.survivors(pairs)
    val stats = surv.agg(sum("cluster_size"), count(org.apache.spark.sql.functions.lit(1)))
      .head()
    val (clustered, nClusters) = (stats.getLong(0), stats.getLong(1))
    assert(nClusters > 0 && clustered > nClusters)
    // removing (clustered - nClusters) docs dedups the corpus
    assert(clustered - nClusters <= nPairs)
  }

  test("IVF top-k: recall vs brute force with a fraction of the work") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, emb, k = 3, nCells = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
    // probing half the cells must not degenerate to brute force
    assert(ivf.nonEmpty)
  }

  test("k-means-refined IVF centroids do not lose recall vs the raw seed") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(iters: Int): Double = {
      val got = Similarity.ivfTopK(q, emb, k = 3, nCells = 8, nProbe = 2,
          lloydIters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val seed = recallAt(0)
    val refined = recallAt(3)
    // Lloyd rounds move centroids toward true density modes; with a tight
    // probe budget (2 of 8 cells) that must help, never hurt
    assert(refined >= seed, s"k-means recall $refined < seed recall $seed")
    assert(refined >= 0.5, s"refined recall $refined too low")
    info(f"IVF recall@nProbe=2: seed=$seed%.3f kmeans(3)=$refined%.3f")
  }

  test("k-means centroids are the exact fixed-point member means") {
    val cents = Similarity.kmeansCentroids(emb, nCells = 8, iters = 1)
    val seed = Similarity.ivfCentroids(emb, 8)
    // recompute iteration 1 naively on the driver from collected data
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def cos(v: Array[Float], c: Array[Double]): Double = {
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += v(i).toDouble * c(i); i += 1 }
      dot / math.sqrt(c.map(x => x * x).sum)
    }
    val members = rows.groupBy { case (_, v) =>
      // argmax with ties to the HIGHER cell — mirror struct-greatest
      seed.zipWithIndex.map { case (c, i) => (cos(v, c), i) }.max._2
    }
    val expected = seed.indices.map { cell =>
      members.get(cell) match {
        case None => seed(cell)
        case Some(ms) =>
          val dim = ms.head._2.length
          Array.tabulate(dim) { d =>
            // fixed-point micro-unit sum + truncating division — the
            // portable centroid family's spec (order-free BIGINT sum;
            // `/` truncation mirrors DuckDB's `//`)
            val sq = ms.foldLeft(0L) { case (s, (_, v)) =>
              s + math.floor(v(d).toDouble * 1000000.0).toLong
            }
            (sq / ms.length).toDouble / 1000000.0
          }
      }
    }
    cents.zip(expected).zipWithIndex.foreach { case ((got, want), cell) =>
      assert(got.sameElements(want), s"cell $cell centroid mismatch")
    }
  }

  test("exact near-dup pairs: blocked equi-join matches the naive all-pairs set") {
    val naive = {
      val e = emb.select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"))
      val a = e.select(col("vec_id").as("i"), col("embedding").as("va"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("j"), col("embedding").as("vb"), col("nrm").as("nb"))
      a.join(b, col("i") < col("j"))
        .withColumn("cos_bp",
          floor(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")) * 10000)
            .cast("long"))
        .filter(col("cos_bp") >= 4000)
        .select("i", "j", "cos_bp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val blocked = Similarity.exactNearDupPairs(emb, thresholdBp = 4000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(naive.nonEmpty)
    assert(blocked == naive,
      s"missing ${naive -- blocked} / extra ${blocked -- naive}")
    // the whole point of the reformulation: no nested-loop join in the plan
    val plan = Similarity.exactNearDupPairs(emb, thresholdBp = 4000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("LSH near-dup pairs: subset of exact with usable recall at a weak threshold") {
    val exact = Similarity.exactNearDupPairs(emb, thresholdBp = 4000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(emb, dim = 64, thresholdBp = 4000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact-cosine verification makes every reported pair a true pair
    assert((lsh -- exact).isEmpty, s"false positives: ${lsh -- exact}")
    // this corpus's planted pairs sit barely above cos 0.4 — adversarially
    // weak for sign-LSH (per-plane agreement ~0.63); 12 tables x 4 planes
    // still reach high recall (at a realistic 0.85+ threshold this config
    // is effectively lossless)
    val recall = (lsh intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("LshGuard.capBuckets drops only oversized buckets") {
    import spark.implicits._
    val melted = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"))
      .toDF("doc_id", "sig")
    val capped = LshGuard.capBuckets(melted, Seq("sig"), 2)
      .select("doc_id").as[Long].collect().toSet
    assert(capped == Set(4L, 5L))
  }

  test("LSH guard: a degenerate identical-content bucket is dropped, not squared") {
    import spark.implicits._
    // 200 byte-identical docs: one band bucket of 200 members = 19,900
    // quadratic candidate pairs — the adversarial boilerplate-flood case
    val boiler = (1L to 200L).map(i =>
      (i, Seq.fill(5)("the same boilerplate text repeated").mkString(" ")))
    // 30 distinct tokens + one differing suffix: shingle Jaccard = 28/30
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val near = Seq((900L, base + " alpha"), (901L, base + " omega"))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    val got = Dedup.minhashLsh(docs, maxBucket = 50)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the blob's candidates are dropped by the guard (exact dedup's job)...
    assert(!got.exists { case (i, j) => i <= 200 && j <= 200 }, got.take(5))
    // ...while honest near-dup pairs in small buckets still come through
    assert(got.contains((900L, 901L)), s"real pair lost: $got")
    // without the cap the quadratic blob dominates the candidate set
    val uncapped = Dedup.minhashLsh(docs, maxBucket = Int.MaxValue).count()
    assert(uncapped >= 19900L, s"uncapped=$uncapped")
    // the linear-cost exact pass is where identical content gets deduped
    val exact = Dedup.exact(docs, "doc_id", md5(col("text")))
      .filter(col("n_copies") === 200).count()
    assert(exact == 1L)
  }

  test("LSH pipelines launch no Spark jobs at construction time") {
    // the r2 guard ran an eager count() per capBuckets call, materializing
    // the whole signature pipeline in an extra job before the real query —
    // constructing the DataFrame must schedule nothing
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "lsh-construction-audit"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    // count only jobs carrying THIS thread's job group: stray async jobs
    // from neighboring tests on the shared session must not flake this
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "construction must schedule nothing")
    try {
      Dedup.minhashLsh(docs)
      Similarity.lshNearDupPairs(emb, dim = 64, thresholdBp = 4000)
      Dedup.simhashPairs(Dedup.shingles(docs))
      Thread.sleep(2000) // listener bus is async; give a spurious job time to surface
      assert(jobs.get() == 0,
        s"${jobs.get()} Spark job(s) ran during DataFrame construction")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("cosine is 1.0 for identical vectors and symmetric") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f))).toDF("a", "b")
    val cos = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(cos(0) - 1.0) < 1e-12)
    assert(math.abs(cos(1)) < 1e-12)
  }

  test("containment flags doc-in-doc pairs that Jaccard misses") {
    import spark.implicits._
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val short = "alpha beta gamma delta epsilon zeta" // a prefix excerpt
    val other = "one two three four five six seven"
    val docs = Seq((1L, long), (2L, short), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.containment(docs, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toMap
    // the excerpt is fully contained: C(short→long) = 1.0, but the
    // symmetric jaccard is far below any dedup threshold
    assert(out.keySet == Set((1L, 2L)))
    val (ci, cj, jac) = out((1L, 2L))
    assert(cj == 1.0, s"containment of the shorter side must be 1.0, got $cj")
    assert(ci < 0.3 && jac < 0.3, s"jaccard must stay low: ci=$ci jac=$jac")
  }

  test("survivorsBy keeps the highest-scored member, ties to lowest id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("i", "j")
    val scored = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 1L), (9L, 4L))
      .toDF("doc_id", "quality")
    val out = Dedup.survivorsBy(pairs, scored, "quality").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // cluster {1,2,3}: 2 and 3 tie at 9 → keep 2 (lowest id among best)
    assert(out(1L) == ((2L, 9L, 3L)))
    // cluster {7,9}: 9 wins on score despite the higher id
    assert(out(7L) == ((9L, 4L, 2L)))
  }

  test("hard negatives: never the anchor's label, and exactly the " +
      "label-filtered brute-force ranking") {
    val anchors = emb.filter(col("vec_id") < 10)
    val got = Similarity.hardNegatives(anchors, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getInt(5)))
    assert(got.nonEmpty)
    got.foreach { case (_, ql, _, cl, _, _) =>
      assert(ql != cl, "a hard negative must carry a different label")
    }
    // independent formulation: full brute-force top list (self excluded),
    // drop same-label rows, re-rank — must agree pair-for-pair
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bf = Similarity.bruteForceTopK(anchors, emb, k = emb.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = bf.toSeq
      .filter { case (q, c, _) => labels(q) != labels(c) }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy { case (_, c, bp) => (-bp, c) }.take(5).zipWithIndex
          .map { case ((_, c, bp), i) => (q, labels(q), c, labels(c), bp, i + 1) }
      }.toSet
    assert(got.toSet == expected)
  }

  test("bitext mining: margin suppresses the hub; mutual mode keeps only best-best") {
    import spark.implicits._
    // Side A: two query vectors. Side B: a hub vector moderately close to
    // EVERYTHING in A (and to the decoys), plus one genuine match per A
    // vector. Raw cosine ranks the hub near the top for both queries; the
    // margin criterion (cos normalized by neighborhood mass) demotes it.
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val a = Seq(
      (1L, v(1, 0, 0, 0.3)), // a1: true match b11
      (2L, v(0, 1, 0, 0.3))  // a2: true match b12
    ).toDF("vec_id", "embedding")
    val b = Seq(
      (11L, v(0.98, 0.05, 0, 0.3)),   // genuine pair of a1
      (12L, v(0.05, 0.98, 0, 0.3)),   // genuine pair of a2
      (13L, v(0.45, 0.55, 0.2, 0.42)), // hub: close-ish to both, nearer a2
      (14L, v(0, 0, 1, 0))            // unrelated
    ).toDF("vec_id", "embedding")

    // hand-computed margins (tools-free replica of the operator's bp
    // arithmetic): genuine pairs ≈ 2.0, hub pairs ≈ 1.2-1.4 — a 1.5
    // floor separates them with ~4000 bp of slack on either side
    val pairs = graft.ops.Similarity
      .bitextMine(a, b, k = 3, topn = 2, minMarginBp = 15000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 11L), (2L, 12L)),
      s"margin must keep only the genuine pairs, got $pairs")

    // mutual mode: with topn=2 and no margin floor, BOTH queries pair
    // with the hub b13; b13's best match in A is a2, so mutuality drops
    // the non-reciprocal (1,13) while keeping (2,13) — reciprocity and
    // margin are complementary filters, which is why the op has both
    val loose = graft.ops.Similarity
      .bitextMine(a, b, k = 3, topn = 2, minMarginBp = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((1L, 11L), (1L, 13L), (2L, 12L), (2L, 13L)))
    val mutual = graft.ops.Similarity
      .bitextMine(a, b, k = 3, topn = 2, minMarginBp = 0L, mutual = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mutual == loose - ((1L, 13L)),
      s"only the non-reciprocal hub pair drops: $mutual")
  }

  test("bitext mining: identically-numbered sides keep the (i,i) pair; " +
      "selfExclude drops the diagonal for same-collection mining") {
    import spark.implicits._
    // Parallel corpora commonly number both sides with the SAME line ids.
    // The true translation pair is (i, i) — it must be mined, and its
    // cosine must contribute to both neighborhood sums.
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val src = Seq(
      (1L, v(1, 0, 0)),
      (2L, v(0, 1, 0))
    ).toDF("vec_id", "embedding")
    val tgt = Seq(
      (1L, v(0.97, 0.1, 0)),  // translation of line 1 — same id
      (2L, v(0.1, 0.97, 0)),  // translation of line 2 — same id
      (3L, v(0, 0, 1))        // unpaired extra line
    ).toDF("vec_id", "embedding")
    val mined = graft.ops.Similarity
      .bitextMine(src, tgt, k = 2, topn = 1, minMarginBp = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mined == Set((1L, 1L), (2L, 2L)),
      s"equal-id true pairs must survive two-collection mining, got $mined")

    // selfExclude=true is the same-collection mode: mining tgt against
    // itself must never emit the degenerate (i,i) self-match.
    val self = graft.ops.Similarity
      .bitextMine(tgt, tgt, k = 2, topn = 1, minMarginBp = 0L,
        selfExclude = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(self.nonEmpty)
    self.foreach { case (s0, t0) =>
      assert(s0 != t0, "selfExclude must drop the diagonal")
    }
  }

  test("snapshotDiff: added/removed/changed/unchanged by content hash") {
    import spark.implicits._
    val a = Seq((1L, "same"), (2L, "before"), (3L, "gone"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "same"), (2L, "after"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val diff = graft.ops.Dedup.snapshotDiff(a, b).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("clusterSafeSplit: transitive near-dup chains share a fold; " +
      "singletons hash on their own id") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // a CHAIN (1~2, 2~3): 1 and 3 are never directly paired, only
    // transitively — the case a pair-local fix would miss
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 20L)).toDF("i", "j")
    val out = graft.ops.Dedup.clusterSafeSplit(docs, pairs)
      .select("doc_id", "split_key", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == out(2L) && out(2L) == out(3L),
      s"chain split apart: ${out.view.filterKeys(_ <= 3L).toMap}")
    assert(out(1L)._1 == 1L, "cluster key must be the min member id")
    assert(out(10L) == out(20L))
    // singletons keep their own id as the split key — so adding pairs
    // elsewhere in the corpus never reshuffles untouched docs' folds
    (Seq(4L, 5L, 6L, 30L)).foreach(i => assert(out(i)._1 == i))
    // every fold is populated and every doc is assigned exactly one
    val folds = out.values.map(_._2).toSet
    assert(folds == Set("train", "val", "test"), s"folds seen: $folds")
  }

  test("PQ encode: every vector gets exactly m in-range codes") {
    val books = Similarity.pqCodebooks(emb, m = 4, kCodes = 8, lloydIters = 1)
    assert(books.size == 4 && books.forall(_.size == 8))
    assert(books.forall(_.forall(_.length == 16))) // 64 / 4 dims each
    val codes = Similarity.pqEncode(emb, books).collect()
    val n = emb.count()
    assert(codes.length == 4 * n, "one code per (vector, subspace)")
    assert(codes.forall { r =>
      val c = r.getInt(2); c >= 0 && c < 8
    })
    val perVec = codes.groupBy(_.getLong(0)).values
    assert(perVec.forall(_.map(_.getInt(1)).toSet == Set(0, 1, 2, 3)))
  }

  test("char-shingle minhash catches a re-segmented copy that word " +
      "shingles structurally miss") {
    import spark.implicits._
    val zh = "深度 学习 模型 在 大规模 语料 上 训练 需要 去重 处理 以 避免 记忆 效应"
    val fixture = Seq(
      (1L, zh),
      (2L, zh.replace(" ", "")), // same content, no segmentation
      (3L, "完全 不同 的 文本 内容 没有 任何 重叠 部分 存在 这里"),
      // same content re-spaced with tabs, newlines, and U+3000
      // ideographic space — the variants a bare ' '-strip misses
      (4L, zh.replace(" ", "\t")),
      (5L, zh.replace(" ", "　")),
      (6L, zh.replace(" ", "\n"))
    ).toDF("doc_id", "text")
    val charPairs = Dedup.minhashLshChars(fixture, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(charPairs.contains((1L, 2L)), s"char path must catch: $charPairs")
    assert(!charPairs.exists(p => p._1 == 3L || p._2 == 3L))
    // the word path sees disjoint token streams — zero similarity
    val wordPairs = Dedup.minhashLsh(fixture, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!wordPairs.contains((1L, 2L)),
      s"fixture must defeat word shingles: $wordPairs")
    // and the char-gram sets are literally identical after stripping —
    // for the unspaced copy AND the tab / U+3000 / newline re-spacings
    val sh = Dedup.charShingles(fixture).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet)
    Seq(2L, 4L, 5L, 6L).foreach(id =>
      assert(sh(1L) == sh(id), s"doc $id must gram identically to doc 1"))
    assert(sh(1L) != sh(3L))
  }

  test("ngramJaccard misses what prefix filtering finds: common-shingle " +
      "near-dups are invisible to the rarity-filtered index") {
    import spark.implicits._
    // six identical copies of one boilerplate text: every shingle's df is
    // 6 > maxDf=3, so the rarity-filtered inverted index generates ZERO
    // candidates — while every copy pair is an exact duplicate at
    // jaccard 1.0, which the pigeonhole-complete prefix filter reports
    val boiler = "subscribe to our newsletter for updates " +
      "copyright all rights reserved terms of service apply here"
    val fixture = (1L to 6L).map(i => (i, boiler)).toDF("doc_id", "text")
    val ngramPairs = Dedup.ngramJaccard(fixture, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngramPairs.isEmpty,
      s"rarity filter must blind the index here (the documented trade): $ngramPairs")
    val prefixPairs = Dedup.prefixFilterJaccard(fixture, thresholdBp = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefixPairs.contains((1L, 2L)) && prefixPairs.size == 15,
      s"prefix filter must find all 15 duplicate pairs: $prefixPairs")
  }

  test("prefix filtering: complete vs brute force at t=0.8, and " +
      "strictly fewer candidates than the full inverted index") {
    val sh = Dedup.shingles(docs, 3)
    // brute force: every pair sharing ANY shingle, exact Jaccard
    val all = sh.select(col("doc_id").as("i"), col("w"))
      .join(sh.select(col("doc_id").as("j"), col("w")), "w")
      .filter(col("i") < col("j")).select("i", "j").distinct()
    val exact = Dedup.verifyJaccard(all, sh)
      .filter(floor(col("jaccard") * 10000) >= 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.prefixFilterJaccard(docs, thresholdBp = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the completeness guarantee: NOT probabilistic, NOT heuristic —
    // the prefix-collision candidates must reproduce brute force exactly
    assert(got == exact, s"missed: ${exact -- got}; extra: ${got -- exact}")
    assert(exact.nonEmpty, "fixture must contain >= t pairs")
    // and the candidate set must actually shrink vs the full index:
    // rebuild the prefix (same (df, w) order and ⌈t·n⌉ arithmetic)
    // and count its collision pairs
    val dfc = sh.groupBy("w").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "w")
    val pref = sh.join(dfc, "w").join(sizes, "doc_id")
      .withColumn("rnk", row_number().over(wnd))
      .filter(col("rnk") <= col("n") - expr("(8000 * n + 9999) div 10000") + 1)
      .select("doc_id", "w")
    val prefCands = pref.select(col("doc_id").as("i"), col("w"))
      .join(pref.select(col("doc_id").as("j"), col("w")), "w")
      .filter(col("i") < col("j")).select("i", "j").distinct().count()
    val fullCands = all.count()
    assert(prefCands < fullCands / 5,
      s"prefix index must collapse candidates: $prefCands vs $fullCands")
  }

  test("PCA power iteration: recovers a planted variance axis; " +
      "projections are centered") {
    import spark.implicits._
    // dim 7 carries all the variance (±2 alternating); everything else
    // is a constant 0.25 — the top component must align with dim 7
    val rows = (0L until 40L).map { i =>
      val v = Array.fill(64)(0.25f)
      v(7) = if (i % 2 == 0) 2.0f else -2.0f
      (i, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val proj = Similarity.pcaTopProjection(df, iters = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same sign within parity class, opposite across, large magnitude
    val evens = (0L until 40L by 2).map(proj)
    val odds = (1L until 40L by 2).map(proj)
    assert(evens.toSet.size == 1 && odds.toSet.size == 1,
      "identical vectors must project identically")
    assert(evens.head * odds.head < 0, "parity classes must oppose")
    assert(math.abs(evens.head) > 1500000L, // |proj| ≈ 2.0 in micro
      s"planted axis not recovered: ${evens.head}")
    // centered: projections sum to ~0 (quantization leaves < 1 unit/row)
    val total = proj.values.sum
    assert(math.abs(total) <= 40L * 64L, s"not centered: $total")
  }

  test("PQ ADC top-k: usable recall vs brute force from 12-bit codes") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(q, emb, k = 10, m = 4, kCodes = 8,
        lloydIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4096 addressable cells from 32 stored codewords; the ADC
    // shortlist (5×k) + exact rerank is the standard PQ contract —
    // recall is bounded by shortlist coverage, not ADC rank fidelity
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall $recall too low")
    // every query returns a full shortlist
    val perQ = pq.groupBy(_._1).map(_._2.size)
    assert(perQ.forall(_ == 10))
  }

  test("matryoshkaAgreement: prefix-encoded neighbors keep full overlap; " +
    "tail-encoded neighbors lose the truncated ranking entirely") {
    import spark.implicits._
    // 8-dim embeddings, truncation at 4 dims. Query 0 sits in the
    // PREFIX plane (dims 0-1): its true neighbors (ids 1, 2) survive
    // truncation. Query 10 differs from its true neighbors (11, 12)
    // only in TAIL dims (4-7): truncation collapses them onto the
    // decoys (13, 14), which tie and win on the id tie-break.
    def v(xs: Double*) = xs.toArray.map(_.toFloat)
    val emb = Seq(
      (0L, v(1, 0.1, 0, 0, 0, 0, 0, 0)),
      (1L, v(1, 0.11, 0, 0, 0, 0, 0, 0)),  // near 0 in prefix dims
      (2L, v(1, 0.12, 0, 0, 0, 0, 0, 0)),
      (10L, v(0.01, 0, 0, 0, 1, 0.1, 0, 0)),
      (11L, v(0, 0.01, 0, 0, 1, 0.11, 0, 0)), // near 10 via tail dims;
      (12L, v(0, 0.01, 0, 0, 1, 0.12, 0, 0)), // prefix ⊥ to 10's
      (13L, v(0.5, 0.5, 0.5, 0.5, 0, 0, 0, 0)), // prefix decoys: beat
      (14L, v(0.5, 0.5, 0.5, 0.5, 0, 0, 0, 0))  // 11/12 once truncated
    ).toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaAgreement(
        emb.filter(col("vec_id").isin(0L, 10L)), emb, k = 2, dTrunc = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == ((2L, 10000L, 1L))) // full agreement, top-1 kept
    // query 10 truncated = (0.01,0,0,0): its true neighbors are
    // orthogonal in the prefix (cos 0) while the decoys score 0.5 —
    // the truncated ranking flips to {13,14}: zero overlap, top-1 lost
    assert(out(10L) == ((0L, 0L, 0L)))
  }
}
