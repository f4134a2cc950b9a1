package graft

import graft.ext.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: exact on known vectors; zero-norm safe") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),   // orthogonal -> 0
      (Seq(1.0, 2.0), Seq(2.0, 4.0)),   // parallel -> 1
      (Seq(0.0, 0.0), Seq(1.0, 1.0)),   // zero norm -> 0
    ).toDF("a", "b").select(Similarity.cosine(col("a"), col("b")).as("c"))
    val vals = df.collect().map(_.getDouble(0))
    assert(math.abs(vals(0)) < 1e-12)
    assert(math.abs(vals(1) - 1.0) < 1e-12)
    assert(vals(2) === 0.0)
  }

  test("bruteForceTopK: rank law, self-exclusion, best-first") {
    val e = sf("sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val top = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k = 3)
    val rows = top.collect()
    assert(rows.length === 5 * 3)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1))) // no self
    // ranks 1..3 per qid, sims non-increasing
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq === Seq(1, 2, 3))
      assert(sorted.sliding(2).forall(p => p(0).getDouble(3) >= p(1).getDouble(3)))
    }
  }

  test("annTopK: high recall on planted near-duplicate clusters") {
    // clustered data (LSH's actual use case): 30 bases, each with a close
    // perturbation; query = perturbed, expected top-1 = its base.
    val dim = 16
    val rnd = new scala.util.Random(7)
    val bases = (0 until 30).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)
    }
    val probes = bases.map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val corpus = bases.toDF("vec_id", "embedding")
    val queries = probes.toDF("vec_id", "embedding")
    val ann = Similarity.annTopK(queries, corpus, "vec_id", "vec_id", "embedding",
      dim = dim, k = 1, tables = 8, bits = 8)
    val hits = ann.filter(col("rank") === 1 && col("nid") === col("qid") - 1000).count()
    assert(hits >= 27, s"ANN top-1 recall too low: $hits/30")
  }

  test("multiprobe LSH: recall strictly improves over single-probe at equal budget") {
    val dim = 16
    val rnd = new scala.util.Random(11)
    val bases = (0 until 40).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)
    }
    // looser perturbation than the annTopK test so single-probe misses some
    val probes = bases.map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.15f * rnd.nextGaussian().toFloat))
    }
    val corpus = bases.toDF("vec_id", "embedding")
    val queries = probes.toDF("vec_id", "embedding")
    def recall(mp: Boolean, pb: Int = -1): Long =
      Similarity.annTopK(queries, corpus, "vec_id", "vec_id", "embedding",
          dim = dim, k = 1, tables = 2, bits = 10, multiprobe = mp, probeBits = pb)
        .filter(col("rank") === 1 && col("nid") === col("qid") - 1000).count()
    val single = recall(mp = false)
    val multi = recall(mp = true)
    assert(multi >= single, s"multiprobe $multi < single $single")
    assert(multi >= 35, s"multiprobe top-1 recall too low: $multi/40")
    // margin-aware probing: 3 targeted flips out of 10 keep most of the
    // full-multiprobe recall at under a third of the candidate fan-out
    val margin3 = recall(mp = true, pb = 3)
    assert(margin3 >= single, s"margin-probe $margin3 < single $single")
    assert(margin3 >= multi - 3, s"margin-probe $margin3 lost too much vs full $multi")
  }

  test("ivfTopK: recall against brute force on real embeddings") {
    val e = sf("sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding",
        k = 1, nlist = 8, nprobe = 8) // nprobe = nlist => exhaustive => exact
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivf === brute, "nprobe=nlist IVF must equal brute force")
    val ivfPartial = Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding",
        k = 1, nlist = 8, nprobe = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recall = brute.count { case (k2, v) => ivfPartial.get(k2).contains(v) }
    assert(recall >= 8, s"IVF nprobe=4/8 top-1 recall too low: $recall/20")
  }

  test("vector_sum aggregate: exact elementwise sum, partial+final, empty-group law") {
    import graft.functions.VectorSumAgg.vector_sum
    val df = Seq(
      ("a", Seq(1.0, 2.0, 3.0)),
      ("a", Seq(10.0, 20.0, 30.0)),
      ("b", Seq(0.5, -0.5, 1.5)),
    ).toDF("g", "v").repartition(4) // force multi-partition -> merge path
    val sums = df.groupBy("g").agg(vector_sum(col("v")).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(sums("a") === Seq(11.0, 22.0, 33.0))
    assert(sums("b") === Seq(0.5, -0.5, 1.5))
    // null inputs ignored; all-null group -> empty array
    val withNull = Seq(("c", null), ("c", null)).toDF("g", "v")
      .select(col("g"), col("v").cast("array<double>").as("v"))
    val c = withNull.groupBy("g").agg(vector_sum(col("v")).as("s")).collect()
    assert(c.head.getSeq[Double](1).isEmpty)
    // partial+final in the plan (map-side combine)
    val plan = df.groupBy("g").agg(vector_sum(col("v")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_vector_sum") || plan.contains("ObjectHashAggregate"),
      s"expected partial aggregation in plan:\n$plan")
  }

  /** The flat k-means trainer through its persisted artifact: the
    * centroids trainClusterCentroids writes, read back in cent_id order. */
  private def kmeans(corpus: org.apache.spark.sql.DataFrame, nlist: Int,
                     iters: Int): IndexedSeq[Seq[Double]] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans").toString
    Similarity.trainClusterCentroids(corpus, "vec_id", "embedding", nlist, iters,
      s"$dir/cents")
    Similarity.loadClusterCentroids(spark, s"$dir/cents")
  }

  test("kmeansCentroids: recovers planted cluster directions") {
    val dim = 8
    val rnd = new scala.util.Random(5)
    val centers = (0 until 4).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val cents = kmeans(corpus, nlist = 4, iters = 5)
    assert(cents.length === 4)
    // every true center direction is captured by some centroid (cosine > 0.95)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    centers.foreach { c =>
      val best = cents.map(ct => cos(c.toSeq, ct)).max
      assert(best > 0.95, s"no centroid near a planted center (best cos $best)")
    }
  }

  test("hierarchicalCentroids: recall parity with the flat trainer on clustered data") {
    // the big-nlist two-level trainer, forced at a small nlist so it is
    // directly comparable to the flat path: same planted clusters, same
    // quality bar, plus a budget law (Σ k2(b) == nlist) and determinism
    val dim = 8
    val rnd = new scala.util.Random(29)
    val centers = (0 until 16).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 1600).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // nlist > natural clusters (24 over 16) — the realistic IVF regime,
    // and what makes capture robust to a stage-1 branch boundary slicing
    // a cluster (the known cost of hierarchical training; with a center
    // budget exactly equal to the cluster count, one sliced cluster has
    // nowhere to recover)
    val hier = Similarity.hierarchicalCentroids(corpus, "vec_id", "embedding",
      nlist = 24, iters = 5)
    assert(hier.length === 24, s"Σ k2(b) must equal nlist, got ${hier.length}")
    // every planted direction captured — the same bar the flat trainer meets
    centers.foreach { c =>
      val best = hier.map(ct => cos(c.toSeq, ct)).max
      assert(best > 0.95, s"hierarchical missed a planted center (best cos $best)")
    }
    // quantization quality parity with flat, measured as the corpus-mean
    // best-centroid cosine (the signal indexDriftReport watches)
    val flat = kmeans(corpus, nlist = 24, iters = 5)
    def meanBest(cents: IndexedSeq[Seq[Double]]): Double =
      points.map { case (_, v) =>
        cents.map(ct => cos(v.map(_.toDouble), ct)).max
      }.sum / points.length
    val (qh, qf) = (meanBest(hier), meanBest(flat))
    info(f"mean best-centroid cosine: hierarchical $qh%.4f vs flat $qf%.4f")
    assert(qh >= qf - 0.02,
      f"hierarchical quantization must track flat: $qh%.4f vs $qf%.4f")
    // deterministic: a second run is element-wise identical
    val again = Similarity.hierarchicalCentroids(corpus, "vec_id", "embedding",
      nlist = 24, iters = 5)
    assert(again === hier, "hierarchical training must be deterministic")
  }

  test("farthestPointSeeds: incremental init picks the exact seed sequence of the quadratic form") {
    // independent reference: the naive O(nlist^2 * n * dim) greedy k-center —
    // for each candidate recompute max-dot against EVERY chosen seed. The
    // production init caches the per-sample max and folds in only the newest
    // seed; both must make identical greedy choices (same dots, same strict
    // lowest-index tie-break), so the sequences are equal element-wise.
    def quadratic(sampled: Array[Array[Double]], nlist: Int): IndexedSeq[Int] = {
      val order = scala.collection.mutable.ArrayBuffer(0)
      while (order.size < nlist && order.size < sampled.length) {
        var bestIdx = -1; var bestMax = Double.MaxValue
        for (i <- sampled.indices) {
          var mx = Double.MinValue
          order.foreach { s =>
            var d = 0.0; var j = 0
            while (j < sampled(s).length) { d += sampled(s)(j) * sampled(i)(j); j += 1 }
            if (d > mx) mx = d
          }
          if (mx < bestMax) { bestMax = mx; bestIdx = i }
        }
        order += bestIdx
      }
      order.toIndexedSeq
    }
    val rnd = new scala.util.Random(23)
    // clustered + exact-duplicate rows (tie-break stress) + a zero vector
    val dim = 12
    val centers = (0 until 6).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val pts: Array[Array[Double]] = ((0 until 300).map { i =>
      val c = centers(i % 6)
      val v = c.map(x => x + 0.1 * rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    } ++ Seq.fill(5)(Array.fill(dim)(0.0)) // degenerate duplicates
      ).toArray
    val dup = pts(7).clone()
    val stressed = pts :+ dup // exact duplicate of an interior point
    for (nlist <- Seq(2, 6, 17, 64)) {
      val fast = Similarity.farthestPointSeeds(stressed, nlist)
      val slow = quadratic(stressed, nlist)
      assert(fast === slow, s"seed sequences diverged at nlist=$nlist")
    }
    // and the incremental form is actually incremental: nlist > n caps at n
    assert(Similarity.farthestPointSeeds(Array(Array(1.0), Array(-1.0)), 10).length === 2)
  }

  test("ivfTopK with k-means centroids: recall >= id-init at equal nprobe") {
    // clustered corpus where smallest-id init is pathological (all ids in one
    // cluster), so k-means must win or tie.
    val dim = 8
    val rnd = new scala.util.Random(13)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 400).map { i =>
      val c = centers(i / 50) // ids 0..49 cluster 0, 50..99 cluster 1, ...
      (i.toLong, c.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") % 50 < 3) // 3 queries per cluster
    val brute = Similarity.bruteForceTopK(q, corpus, "vec_id", "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recall(iters: Int): Int = {
      val got = Similarity.ivfTopK(q, corpus, "vec_id", "vec_id", "embedding",
          k = 1, nlist = 8, nprobe = 2, kmeansIters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      brute.count { case (k2, v) => got.get(k2).contains(v) }
    }
    val idInit = recall(0)
    val kmeans = recall(3)
    assert(kmeans >= idInit, s"k-means recall $kmeans < id-init $idInit")
    assert(kmeans >= 20, s"k-means IVF top-1 recall too low: $kmeans/24")
  }

  test("PQ: codes bounded, score approximates cosine, recall on clustered data") {
    val dim = 16
    val rnd = new scala.util.Random(17)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(corpus, "embedding", dim, m = 4, k = 16, iters = 8)
    assert(model.centroids.length === 4 * 16 * 4)
    // determinism
    val model2 = Similarity.pqTrain(corpus, "embedding", dim, m = 4, k = 16, iters = 8)
    assert(model.centroids.toSeq === model2.centroids.toSeq)

    val encoded = Similarity.pqEncode(corpus, "vec_id", "embedding", model).cache()
    val codes = encoded.select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 16)))

    val q = corpus.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, corpus, "vec_id", "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = Similarity.pqTopK(q, encoded, "vec_id", "embedding", model, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // top-1 must land in the SAME planted cluster even when not the exact
    // brute neighbor (quantization ties within a tight cluster are fine)
    val sameCluster = brute.keys.count(qid =>
      pq.get(qid).exists(nid => nid % 8 == qid % 8))
    assert(sameCluster >= 18, s"PQ same-cluster top-1 only $sameCluster/20")
    // scores approximate cosine: near 1 for same-cluster top-1, with
    // quantization slack (centroids aren't unit vectors, so the estimate
    // can exceed 1 slightly)
    val sims = Similarity.pqTopK(q, encoded, "vec_id", "embedding", model, k = 1)
      .select("sim").collect().map(_.getDouble(0))
    assert(sims.forall(s => s >= 0.9 && s <= 1.1), sims.mkString(","))
    // exact re-rank recovers the true neighbor that quantization blurs —
    // budget sized to the cluster scale (intra-cluster distances are below
    // quantization resolution, so candidates must cover the cluster)
    val reranked = Similarity.pqTopKRerank(q, corpus, encoded,
        "vec_id", "vec_id", "embedding", model, k = 1, rerankFactor = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = brute.count { case (k2, v) => reranked.get(k2).contains(v) }
    assert(exact >= 18, s"PQ+rerank exact top-1 recall only $exact/20")
    encoded.unpersist()
  }

  test("variance-balanced permutation (OPQ-lite): anisotropic recall >= unbalanced") {
    // energy concentrated in the FIRST subspace's dims with MORE clusters
    // than one sub-quantizer's codes can separate: plain layout crams 32
    // clusters into subspace 0's k=8 codes (collisions flood the rerank
    // budget); balancing spreads the signal so the code space composes
    val dim = 16
    val nClusters = 32
    val rnd = new scala.util.Random(29)
    val centers = (0 until nClusters).map(_ => Array.tabulate(dim)(j =>
      rnd.nextGaussian() * (if (j < 4) 3.0 else 0.05)))
    val points = (0 until 640).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 32)
    val brute = Similarity.bruteForceTopK(q, corpus, "vec_id", "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recall(balance: Boolean): Int = {
      val model = Similarity.pqTrain(corpus, "embedding", dim, m = 4, k = 8,
        iters = 6, balance = balance)
      val got = Similarity.pqTopKRerank(q, corpus,
          Similarity.pqEncode(corpus, "vec_id", "embedding", model),
          "vec_id", "vec_id", "embedding", model, k = 1, rerankFactor = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      brute.count { case (k2, v) => got.get(k2).contains(v) }
    }
    val plain = recall(balance = false)
    val balanced = recall(balance = true)
    assert(balanced >= plain, s"balanced $balanced < plain $plain")
    assert(balanced >= 26, s"balanced recall too low: $balanced/32")
  }

  test("true OPQ rotation: recall >= permutation-only on CORRELATED anisotropic data; R orthogonal") {
    // the permutation's blind spot: energy that is anisotropic in a ROTATED
    // basis. Mixing the axis-aligned centers by a dense orthogonal matrix
    // leaves every coordinate with similar marginal variance, so
    // variance-balancing permutes ~blindly — only a learned rotation can
    // align the signal back onto subspace boundaries
    val dim = 16
    val nClusters = 32
    val rnd = new scala.util.Random(47)
    // random orthogonal mix via Gram-Schmidt on a random matrix
    val mix: Array[Array[Double]] = {
      val a = Array.fill(dim)(Array.fill(dim)(rnd.nextGaussian()))
      for (i <- 0 until dim) {
        for (p <- 0 until i) {
          val d = (0 until dim).map(j => a(i)(j) * a(p)(j)).sum
          for (j <- 0 until dim) a(i)(j) -= d * a(p)(j)
        }
        val n = math.sqrt(a(i).map(x => x * x).sum)
        for (j <- 0 until dim) a(i)(j) /= n
      }
      a
    }
    def mixed(v: Array[Double]): Array[Double] =
      Array.tabulate(dim)(i => (0 until dim).map(j => mix(i)(j) * v(j)).sum)
    val centers = (0 until nClusters).map(_ => mixed(Array.tabulate(dim)(j =>
      rnd.nextGaussian() * (if (j < 4) 3.0 else 0.05))))
    val points = (0 until 640).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 32)
    val brute = Similarity.bruteForceTopK(q, corpus, "vec_id", "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recall(opqIters: Int): Int = {
      val model = Similarity.pqTrain(corpus, "embedding", dim, m = 4, k = 8,
        iters = 6, balance = true, opqIters = opqIters)
      val got = Similarity.pqTopKRerank(q, corpus,
          Similarity.pqEncode(corpus, "vec_id", "embedding", model),
          "vec_id", "vec_id", "embedding", model, k = 1, rerankFactor = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      brute.count { case (k2, v) => got.get(k2).contains(v) }
    }
    val permOnly = recall(0)
    val opq = recall(5)
    // margin pinned (round-4 eigen-allocation init + finer alternation
    // codebooks): permOnly=24, opq=27 on this seeded corpus — the learned
    // rotation must beat the permutation by >= 2, not merely tie (the
    // round-3 rotation landed at 26)
    assert(opq >= permOnly + 2, s"OPQ recall $opq vs permutation-only $permOnly: margin < 2")
    assert(opq >= 27, s"OPQ recall too low: $opq/32")
    // compressed-domain (no rerank) margin: the rotation helps BEFORE the
    // exact re-rank can repair code collisions (9 vs 7 on this corpus)
    def recallCompressed(opqIters: Int): Int = {
      val model = Similarity.pqTrain(corpus, "embedding", dim, m = 4, k = 8,
        iters = 6, balance = true, opqIters = opqIters)
      val got = Similarity.pqTopK(q,
          Similarity.pqEncode(corpus, "vec_id", "embedding", model),
          "vec_id", "embedding", model, k = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      brute.count { case (k2, v) => got.get(k2).contains(v) }
    }
    assert(recallCompressed(5) > recallCompressed(0),
      "compressed-domain OPQ must beat the permutation before rerank")

    // the learned R is orthogonal (R·Rᵀ = I), so rotated-space dots equal
    // original-space dots and PQ scores stay cosine estimates
    val model = Similarity.pqTrain(corpus, "embedding", dim, m = 4, k = 8,
      iters = 6, balance = true, opqIters = 5)
    assert(model.rot.length === dim * dim)
    for (i <- 0 until dim; j <- 0 until dim) {
      val d = (0 until dim).map(t => model.rot(i * dim + t) * model.rot(j * dim + t)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-6, s"R not orthogonal at ($i,$j): $d")
    }
  }

  test("IVF-PQ composite: high exact recall on clustered data at pruned cost") {
    val dim = 16
    val rnd = new scala.util.Random(23)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(corpus, "embedding", dim, m = 4, k = 16, iters = 8)
    val q = corpus.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, corpus, "vec_id", "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Similarity.ivfPqTopK(q, corpus, "vec_id", "vec_id", "embedding",
        model, k = 1, nlist = 8, nprobe = 3, kmeansIters = 3, rerankFactor = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = brute.count { case (k2, v) => got.get(k2).contains(v) }
    assert(exact >= 18, s"IVF-PQ exact top-1 recall only $exact/20")
  }

  test("cosineNearDups agrees with brute pair filter") {
    val e = sf("sf0.001", "embeddings").limit(100)
    val nd = Similarity.cosineNearDups(e, "vec_id", "embedding", threshold = 0.3)
    val rows = nd.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.3))
    // all-pairs guard: the brute path refuses unbounded corpora
    val err = intercept[IllegalArgumentException] {
      Similarity.cosineNearDups(e, "vec_id", "embedding", threshold = 0.3,
        maxRows = 10)
    }
    assert(err.getMessage.contains("cosineNearDupsLsh"))
  }

  test("cosineNearDupsLsh: high recall of brute pairs at threshold, no false positives") {
    val dim = 16
    val rnd = new scala.util.Random(31)
    val centers = (0 until 10).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val brute = Similarity.cosineNearDups(corpus, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineNearDupsLsh(corpus, "vec_id", "embedding",
        threshold = 0.9, dim = dim)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "corpus should contain near-dup pairs")
    // exact verify stage -> no false positives
    assert(lsh.subsetOf(brute), s"LSH produced non-near-dup pairs: ${lsh -- brute}")
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.95, s"LSH near-dup recall $recall (${lsh.size}/${brute.size})")
  }

  test("cosineNearDupsLshStaged == cosineNearDupsLsh: same pairs, same " +
      "sims, at any pass split; float32 carry preserves the pair set at " +
      "a margined threshold") {
    val dim = 16
    val rnd = new scala.util.Random(77)
    val centers = (0 until 10).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    val single = pairsOf(Similarity.cosineNearDupsLsh(corpus, "vec_id",
      "embedding", threshold = 0.9, dim = dim, tables = 9, bits = 8))
    for (passes <- Seq(1, 3, 9)) {
      val staged = pairsOf(Similarity.cosineNearDupsLsh(corpus,
        "vec_id", "embedding", threshold = 0.9, dim = dim, passes = passes,
        tables = 9, bits = 8, shuffleFloat32 = false))
      assert(staged === single, s"passes=$passes diverged from single-pass")
    }
    // float32 carry: same PAIR SET (sims may move ~1e-6; the corpus has
    // no pair within 1e-4 of the threshold by construction — checked)
    val margin = single.values.map(s => math.abs(s - 0.9)).min
    assert(margin > 1e-4, s"fixture pair sits on the threshold ($margin)")
    val f32 = pairsOf(Similarity.cosineNearDupsLsh(corpus, "vec_id",
      "embedding", threshold = 0.9, dim = dim, passes = 3,
      tables = 9, bits = 8, shuffleFloat32 = true))
    assert(f32.keySet === single.keySet)
    f32.foreach { case (k, s) =>
      assert(math.abs(s - single(k)) <= 1e-4, s"$k: $s vs ${single(k)}") }
  }

  test("broadcast-verify LSH == vector-carry LSH: identical pairs and sims " +
      "in both float widths; broadcast plan shuffles no vectors") {
    val dim = 16
    val rnd = new scala.util.Random(59)
    val centers = (0 until 10).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    val knob = "spark.graft.lsh.broadcastVerifyMaxBytes"
    def withKnob[A](v: String)(f: => A): A = {
      val old = spark.conf.getOption(knob)
      spark.conf.set(knob, v)
      try f finally old match {
        case Some(o) => spark.conf.set(knob, o)
        case None => spark.conf.unset(knob)
      }
    }
    for (f32 <- Seq(false, true)) {
      // knob=0 disables broadcast-verify -> the vector-carrying exchange
      val carry = withKnob("0")(pairsOf(Similarity.cosineNearDupsLsh(
        corpus, "vec_id", "embedding", threshold = 0.9, dim = dim,
        passes = 1, tables = 9, bits = 8, shuffleFloat32 = f32)))
      val bcast = withKnob("1g")(pairsOf(Similarity.cosineNearDupsLsh(
        corpus, "vec_id", "embedding", threshold = 0.9, dim = dim,
        passes = 1, tables = 9, bits = 8, shuffleFloat32 = f32)))
      assert(carry.nonEmpty, "fixture should contain near-dup pairs")
      assert(bcast === carry,
        s"broadcast-verify diverged from the carry path (float32=$f32)")
    }
    // cross-corpus: the same verify choice on a left/right split (float64,
    // its one width)
    val left = corpus.filter(col("vec_id") % 3 === 0).withColumnRenamed("vec_id", "lid")
    val right = corpus.filter(col("vec_id") % 3 =!= 0).withColumnRenamed("vec_id", "rid")
    def cross() = Similarity.crossCorpusNearDups(left, right, "lid", "rid",
      "embedding", threshold = 0.9, dim = dim, tables = 9, bits = 8)
    val crossCarry = withKnob("0")(pairsOf(cross()))
    assert(crossCarry.nonEmpty, "fixture should contain cross-side pairs")
    assert(withKnob("1g")(pairsOf(cross())) === crossCarry,
      "cross-corpus broadcast-verify diverged from the carry path")
    // plan law: in broadcast mode the candidate join's exchange carries
    // bare (id, table, sig) rows — the vectors reach the verify dot via
    // broadcast hash joins only, and the identical broadcast subtree is
    // built once (the second attach join reuses the first's exchange)
    val plans = withKnob("1g")(Seq(Similarity.cosineNearDupsLsh(corpus, "vec_id",
        "embedding", threshold = 0.9, dim = dim, tables = 9, bits = 8), cross())
      .map(_.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))))
    for (plan <- plans) {
      assert(plan.contains("BroadcastHashJoin"),
        s"broadcast-verify plan lacks BroadcastHashJoin:\n$plan")
      // formatted explain prints each operator as a "(n) Exchange" block
      // whose next "Input [...]" line lists the columns it carries
      val lines = plan.linesIterator.toIndexedSeq
      val exchangeInputs = lines.zipWithIndex.collect {
        case (l, i) if l.matches("""\(\d+\) Exchange.*""") =>
          lines.drop(i + 1).find(_.trim.startsWith("Input"))
            .getOrElse("")
      }
      assert(exchangeInputs.nonEmpty, s"expected a signature exchange:\n$plan")
      assert(!exchangeInputs.exists(_.contains("_v#")),
        s"an Exchange carries the vector column:\n$exchangeInputs")
    }
  }

  test("broadcast-verify budget: the knob clamped to 3/4 of spark.driver.maxResultSize") {
    val g = 1L << 30
    assert(Similarity.broadcastVerifyBudget(g, g) === g / 4 * 3)
    assert(Similarity.broadcastVerifyBudget(g, 0L) === g, "maxResultSize 0 = unlimited")
    assert(Similarity.broadcastVerifyBudget(0L, g) === 0L, "knob 0 disables")
    assert(Similarity.broadcastVerifyBudget(100L << 20, g) === (100L << 20))
    assert(Similarity.broadcastVerifyBudget(4 * g, 2 * g) === 3 * g / 2)
    // the 1M x 64-dim bench corpus keeps broadcast-verify at the defaults
    assert(1000000L * (8L * 64 + 56) <= Similarity.broadcastVerifyBudget(g, g))
  }

  test("cosineNearDupsLsh/Staged count the corpus only for auto knobs or an enabled " +
      "broadcast budget") {
    val dim = 8
    val rnd = new scala.util.Random(61)
    // repartitioned: a count over a local relation runs no job at all
    val corpus = (0 until 60).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
      .repartition(2)
    val knob = "spark.graft.lsh.broadcastVerifyMaxBytes"
    // adaptive execution off: a count is then one job named by its call site
    def countJobs(v: String)(call: => Any): Int = {
      val confs = Seq(knob -> v, "spark.sql.adaptive.enabled" -> "false")
      val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, x) => spark.conf.set(k, x) }
      try jobsSubmitted(call).count(_.startsWith("count at Similarity.scala"))
      finally old.foreach {
        case (k, Some(o)) => spark.conf.set(k, o)
        case (k, None) => spark.conf.unset(k)
      }
    }
    def lsh(tables: Int, bits: Int) = Similarity.cosineNearDupsLsh(corpus, "vec_id",
      "embedding", threshold = 0.9, dim = dim, tables = tables, bits = bits)
    def staged(tables: Int, bits: Int) = Similarity.cosineNearDupsLsh(corpus,
      "vec_id", "embedding", threshold = 0.9, dim = dim, passes = 2,
      tables = tables, bits = bits, shuffleFloat32 = true)
    def cross(tables: Int, bits: Int) = Similarity.crossCorpusNearDups(
      corpus.filter(col("vec_id") < 30), corpus.filter(col("vec_id") >= 30),
      "vec_id", "vec_id", "embedding", threshold = 0.9, dim = dim,
      tables = tables, bits = bits)
    // explicit knobs, broadcast off: nothing needs the corpus size
    assert(countJobs("0")(lsh(4, 6)) === 0)
    assert(countJobs("0")(staged(4, 6)) === 0)
    assert(countJobs("0")(cross(4, 6)) === 0)
    // the broadcast gate or auto knobs need it: one count each
    assert(countJobs("1g")(lsh(4, 6)) > 0)
    assert(countJobs("1g")(staged(4, 6)) > 0)
    assert(countJobs("1g")(cross(4, 6)) > 0)
    assert(countJobs("0")(lsh(0, 0)) > 0)
    assert(countJobs("0")(staged(0, 0)) > 0)
    assert(countJobs("0")(cross(0, 0)) > 0)
  }

  test("autoLshKnobs: bits scale with corpus size, tables re-buy the " +
      "recall target; auto mode matches explicit-knob quality") {
    // sizing laws: buckets ~targetBucket rows -> bits grows with n; the
    // analytic collision probability at the threshold stays >= target
    def recallAt(tables: Int, bits: Int, t: Double): Double = {
      val p1 = math.pow(1.0 - math.acos(t) / math.Pi, bits)
      1.0 - math.pow(1.0 - p1, tables)
    }
    val (tSmall, bSmall) = Similarity.autoLshKnobs(10000L, 0.9)
    val (tBig, bBig) = Similarity.autoLshKnobs(1000000L, 0.9)
    assert(bBig > bSmall, "bits must grow with corpus size")
    assert(bBig >= 14, s"1M rows needs fine buckets, got $bBig bits")
    assert(recallAt(tSmall, bSmall, 0.9) >= 0.95)
    assert(recallAt(tBig, bBig, 0.9) >= 0.95)
    // exact duplicates collide at ANY knobs (p1 = 1 at cos = 1)
    assert(recallAt(tBig, bBig, 1.0) === 1.0)
    // a stricter threshold needs FEWER tables for the same recall
    val (tStrict, _) = Similarity.autoLshKnobs(1000000L, 0.99)
    assert(tStrict <= tBig)
    // strict recall floor: at n=100M/t=0.9 the default knobs clamp to 40
    // tables and under-recall (~0.84, the documented WARN case); strict
    // mode must raise targetBucket until the ANALYTIC recall meets the
    // target with no manual overrides
    val (tCl, bCl) = Similarity.autoLshKnobs(100000000L, 0.9)
    assert(recallAt(tCl, bCl, 0.9) < 0.95, "precondition: the clamp binds")
    val (tFl, bFl) = Similarity.autoLshKnobs(100000000L, 0.9, strict = true)
    assert(recallAt(tFl, bFl, 0.9) >= 0.95,
      s"strict knobs ($tFl, $bFl) recall ${recallAt(tFl, bFl, 0.9)}")
    assert(tFl <= 40, "strict must stay inside the tables clamp")
    assert(bFl < bCl, "strict buys recall with SHALLOWER signatures")
    // strict is a NO-OP where the default already meets the target (the
    // 1M bench tier must not change knobs)
    assert(Similarity.autoLshKnobs(1000000L, 0.9, strict = true) ===
      ((tBig, bBig)))
    // an unmeetable floor throws instead of silently degrading
    intercept[IllegalArgumentException] {
      Similarity.autoLshKnobs(100000000L, 0.2, targetRecall = 0.999,
        strict = true)
    }
    // auto mode end-to-end (tables = bits = 0): same recall/no-FP laws
    // as the explicit-knob test on the same fixture
    val dim = 16
    val rnd = new scala.util.Random(31)
    val centers = (0 until 10).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val brute = Similarity.cosineNearDups(corpus, "vec_id", "embedding",
        threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Similarity.cosineNearDupsLsh(corpus, "vec_id", "embedding",
        threshold = 0.9, dim = dim, tables = 0, bits = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.subsetOf(brute), s"auto mode false positives: ${auto -- brute}")
    assert(auto.size.toDouble / brute.size >= 0.95,
      s"auto-knob recall ${auto.size}/${brute.size}")
  }

  test("crossCorpusNearDups: finds planted cross-side dups, high recall, no false positives") {
    val dim = 16
    val rnd = new scala.util.Random(37)
    val centers = (0 until 10).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def mk(n: Int, idBase: Long) = (0 until n).map { i =>
      val c = centers(i % 10)
      (idBase + i, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val left = mk(120, 0L).toDF("lid", "embedding")
    val right = mk(200, 10000L).toDF("rid", "embedding")
    // oracle: exact cross product (unit vectors, rounded like the LSH path)
    val lv = left.select(col("lid"), Similarity.unitize(
      transform(col("embedding"), x => x.cast("double"))).as("_vl"))
    val rv = right.select(col("rid"), Similarity.unitize(
      transform(col("embedding"), x => x.cast("double"))).as("_vr"))
    val exact = lv.crossJoin(rv)
      .select(col("lid"), col("rid"),
        round(graft.functions.EsFunctions.dot_product(col("_vl"), col("_vr")), 4).as("sim"))
      .filter(col("sim") >= 0.9)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.crossCorpusNearDups(left, right, "lid", "rid", "embedding",
        threshold = 0.9, dim = dim)
      .select("id_l", "id_r").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
    assert(got.size.toDouble / exact.size >= 0.95,
      s"cross-corpus recall ${got.size}/${exact.size}")
    // auto knobs (tables = bits = 0) hold the same laws
    val auto = Similarity.crossCorpusNearDups(left, right, "lid", "rid",
        "embedding", threshold = 0.9, dim = dim, tables = 0, bits = 0)
      .select("id_l", "id_r").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.subsetOf(exact), s"auto false positives: ${auto -- exact}")
    assert(auto.size.toDouble / exact.size >= 0.95,
      s"auto cross-corpus recall ${auto.size}/${exact.size}")
  }

  test("LSH near-dup outputs are pinned per configuration: count and SHA-256 " +
      "of the sorted (id_a, id_b, sim) rows") {
    // captured from the per-shape pair builders this single path replaced
    // (vector carry, broadcast verify, staged passes, cross-corpus join);
    // any drift in pairs or in a sim's last rounded digit changes a digest.
    // At t=0.9 every planted pair collides in every table; at t=0.4 the
    // cross-cluster pairs collide in a table with p ~ 0.025, so that
    // digest also pins which signatures meet
    val dim = 16
    val rnd = new scala.util.Random(31)
    val centers = (0 until 10).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val left = corpus.filter(col("vec_id") % 3 === 0).withColumnRenamed("vec_id", "lid")
    val right = corpus.filter(col("vec_id") % 3 =!= 0).withColumnRenamed("vec_id", "rid")
    def digest(df: org.apache.spark.sql.DataFrame): String = {
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(r => (r._1, r._2))
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(
        rows.map { case (a, b, s) => s"$a,$b,$s" }.mkString("\n").getBytes("UTF-8"))
      s"${rows.length} ${sha.map("%02x".format(_)).mkString}"
    }
    val knob = "spark.graft.lsh.broadcastVerifyMaxBytes"
    def withKnob[A](v: String)(f: => A): A = {
      val old = spark.conf.getOption(knob)
      spark.conf.set(knob, v)
      try f finally old match {
        case Some(o) => spark.conf.set(knob, o)
        case None => spark.conf.unset(knob)
      }
    }
    def self(t: Double, f32: Boolean, passes: Int = 1) = digest(Similarity.cosineNearDupsLsh(
      corpus, "vec_id", "embedding", threshold = t, dim = dim, tables = 9,
      bits = 8, shuffleFloat32 = f32, passes = passes))
    def cross(t: Double, tables: Int, bits: Int) = digest(Similarity.crossCorpusNearDups(
      left, right, "lid", "rid", "embedding", threshold = t, dim = dim,
      tables = tables, bits = bits))
    val got = Seq(0.9, 0.4).flatMap { t => Seq(
      s"carry f64 @$t" -> withKnob("0")(self(t, f32 = false)),
      s"carry f32 @$t" -> withKnob("0")(self(t, f32 = true)),
      s"broadcast f64 @$t" -> withKnob("1g")(self(t, f32 = false)),
      s"broadcast f32 @$t" -> withKnob("1g")(self(t, f32 = true)),
      s"passes 3 f32 @$t" -> self(t, f32 = true, passes = 3),
      s"cross explicit carry @$t" -> withKnob("0")(cross(t, 9, 8)),
      s"cross explicit broadcast @$t" -> withKnob("1g")(cross(t, 9, 8)),
      s"cross auto @$t" -> cross(t, 0, 0))
    } :+ ("auto strict @0.9" -> digest(Similarity.cosineNearDupsLsh(corpus, "vec_id",
      "embedding", threshold = 0.9, dim = dim, tables = 0, bits = 0,
      strictRecall = true)))
    info(got.map { case (c, d) => s"$c -> $d" }.mkString("\n"))
    assert(got.toMap === Map(
      "carry f64 @0.9" -> "4350 d1ffe2f38e4ed436b2d4ff3a9d565d2b03f070ff1cbaff248e385b9eafd11369",
      "carry f32 @0.9" -> "4350 d1ffe2f38e4ed436b2d4ff3a9d565d2b03f070ff1cbaff248e385b9eafd11369",
      "broadcast f64 @0.9" -> "4350 d1ffe2f38e4ed436b2d4ff3a9d565d2b03f070ff1cbaff248e385b9eafd11369",
      "broadcast f32 @0.9" -> "4350 d1ffe2f38e4ed436b2d4ff3a9d565d2b03f070ff1cbaff248e385b9eafd11369",
      "passes 3 f32 @0.9" -> "4350 d1ffe2f38e4ed436b2d4ff3a9d565d2b03f070ff1cbaff248e385b9eafd11369",
      "cross explicit carry @0.9" -> "2000 72de8e5d57163507ac20fb2c664d2e591df09cb50474e813b63d54e55a77d01d",
      "cross explicit broadcast @0.9" -> "2000 72de8e5d57163507ac20fb2c664d2e591df09cb50474e813b63d54e55a77d01d",
      "cross auto @0.9" -> "2000 72de8e5d57163507ac20fb2c664d2e591df09cb50474e813b63d54e55a77d01d",
      "carry f64 @0.4" -> "4356 58d2fe63503869b2d00bed613648ad6db42d50042e7f150e4a61a8813c495379",
      "carry f32 @0.4" -> "4356 58d2fe63503869b2d00bed613648ad6db42d50042e7f150e4a61a8813c495379",
      "broadcast f64 @0.4" -> "4356 58d2fe63503869b2d00bed613648ad6db42d50042e7f150e4a61a8813c495379",
      "broadcast f32 @0.4" -> "4356 58d2fe63503869b2d00bed613648ad6db42d50042e7f150e4a61a8813c495379",
      "passes 3 f32 @0.4" -> "4356 58d2fe63503869b2d00bed613648ad6db42d50042e7f150e4a61a8813c495379",
      "cross explicit carry @0.4" -> "2000 72de8e5d57163507ac20fb2c664d2e591df09cb50474e813b63d54e55a77d01d",
      "cross explicit broadcast @0.4" -> "2000 72de8e5d57163507ac20fb2c664d2e591df09cb50474e813b63d54e55a77d01d",
      "cross auto @0.4" -> "2722 1e3edb460254fc1007ddcb386b82a8506f014c11c63b83238539c85d02bbc270",
      "auto strict @0.9" -> "4350 d1ffe2f38e4ed436b2d4ff3a9d565d2b03f070ff1cbaff248e385b9eafd11369"))
  }

  test("two-level candidate cuts are output-identical to the single global cut") {
    // the partial per-cell / per-bucket top-k before the global per-qid
    // window is a pure optimization (proof in the Similarity scaladoc);
    // this pins it DIFFERENTIALLY: reference = the same pipelines with only
    // the global window, on a tie-heavy corpus (tight clusters collapse PQ
    // codes to identical scores, stressing the rank() tie handling).
    val dim = 16
    val rnd = new scala.util.Random(53)
    val centers = (0 until 6).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 360).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding").cache()
    val q = corpus.filter(col("vec_id") < 12)
    // balance=false -> identity input transform, so the inline reference
    // below (which skips the permute step) scores identical codes
    val model = Similarity.pqTrain(corpus, "embedding", dim, m = 4, k = 8,
      iters = 4, balance = false)
    val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", model)

    // reference single-cut PQ rerank: candidates from one global rank() cut
    def singleCutRerank(rf: Int): Set[(Long, Long, Int)] = {
      val qq = q.select(col("vec_id").as("qid"),
        graft.functions.PqFunctions.pq_lut(
          Similarity.unitize(col("embedding").cast("array<double>")),
          model.centroids, model.m, model.k, model.subDim).as("_lut"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("_psim").desc)
      val cands = qq.crossJoin(enc)
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          graft.functions.PqFunctions.pq_score(col("_lut"), col("codes"), model.k).as("_psim"))
        .withColumn("_prank", rank().over(wc))
        .filter(col("_prank") <= 1 * rf)
        .select(col("qid"), col("nid"))
      val qv = q.select(col("vec_id").as("qid"),
        Similarity.unitize(col("embedding").cast("array<double>")).as("_qv"))
      val cv = corpus.select(col("vec_id").as("nid"),
        Similarity.unitize(col("embedding").cast("array<double>")).as("_cv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
      cands.join(qv, "qid").join(cv, "nid")
        .select(col("qid"), col("nid"),
          round(graft.functions.EsFunctions.dot_product(col("_qv"), col("_cv")), 4).as("sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 1)
        .select("qid", "nid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    for (rf <- Seq(4, 16)) {
      val two = Similarity.pqTopKRerank(q, corpus, enc, "vec_id", "vec_id",
          "embedding", model, k = 1, rerankFactor = rf)
        .select("qid", "nid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(two === singleCutRerank(rf), s"pqTopKRerank diverged at rf=$rf")
    }

    // ivfTopK: reference = same centroids/probes without the partial cut,
    // expressed as brute restricted to the probed cells... simplest honest
    // reference: nprobe = nlist probes every cell -> must equal brute
    val brute = Similarity.bruteForceTopK(q, corpus, "vec_id", "vec_id", "embedding", k = 3)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivfAll = Similarity.ivfTopK(q, corpus, "vec_id", "vec_id", "embedding",
        k = 3, nlist = 6, nprobe = 6, kmeansIters = 2)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivfAll === brute, "ivfTopK with nprobe=nlist must equal brute force")
    corpus.unpersist()
  }

  test("persisted ANN index: bit-identical to online IVF-PQ, probed cells prune the scan") {
    val dim = 16
    val rnd = new scala.util.Random(59)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", dir,
      nlist = 8, kmeansIters = 2, m = 4, k = 8)
    // online reference with the same deterministic build inputs
    val model = Similarity.pqTrain(corpus, "embedding", dim, m = 4, k = 8)
    val online = Similarity.ivfPqTopK(q, corpus, "vec_id", "vec_id", "embedding",
        model, k = 2, nlist = 8, nprobe = 3, kmeansIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val indexed = Similarity.indexTopK(q, dir, "vec_id", "embedding",
      k = 2, nprobe = 3)
    val got = indexed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got === online, "indexTopK must equal the online IVF-PQ at equal knobs")
    // the cells scan carries the probed-cell partition filter: only those
    // cent_id= directories are listed/read
    val plan = indexed.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("cent_id"),
      s"no cent_id partition filter on the cells scan:\n$plan")
    // index layout on disk: one directory per cell
    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cent_id="))
    assert(cellDirs.length === 8, s"expected 8 cell dirs, got ${cellDirs.toSeq}")
  }

  test("persisted residual index: bit-identical to online residual IVF-PQ (IVFADC)") {
    // the residual twin of the identity law above: buildIndex(residual =
    // true) + indexTopK must equal ivfPqResidualTopK at equal knobs — the
    // online method trains its codebooks on cell residuals with the same
    // deterministic inputs the build does, so any divergence is a scoring
    // or training drift between the two formulations
    val dim = 16
    val rnd = new scala.util.Random(83)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.2 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-res").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", dir,
      nlist = 8, kmeansIters = 2, m = 4, k = 8, residual = true)
    val online = Similarity.ivfPqResidualTopK(q, corpus, "vec_id", "vec_id",
        "embedding", k = 2, nlist = 8, nprobe = 3, kmeansIters = 2,
        m = 4, kCodes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val indexed = Similarity.indexTopK(q, dir, "vec_id", "embedding",
        k = 2, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(indexed === online,
      "residual indexTopK must equal the online residual IVF-PQ at equal knobs")
  }

  test("residual + OPQ composition: persisted == online, and exact re-rank is rotation-invariant") {
    // the two build options compose: codes quantize OPQ-ROTATED residuals,
    // scoring runs the LUT on the rotated query while the centroid dot
    // stays in the original space. Any permute/rotation mismatch between
    // the build's encode path and the query's LUT path breaks the persisted
    // == online identity, and a rotation applied on only one side of the
    // exact stage would corrupt the re-ranked sims vs plain brute truth.
    val dim = 16
    val rnd = new scala.util.Random(89)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.2 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-resopq").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", dir,
      nlist = 8, kmeansIters = 2, m = 4, k = 8, residual = true, opqIters = 2)
    val online = Similarity.ivfPqResidualTopK(q, corpus, "vec_id", "vec_id",
        "embedding", k = 2, nlist = 8, nprobe = 3, kmeansIters = 2,
        m = 4, kCodes = 8, opqIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val indexed = Similarity.indexTopK(q, dir, "vec_id", "embedding",
        k = 2, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(indexed === online,
      "residual+OPQ indexTopK must equal the online residual IVF-PQ at equal knobs")
    // exact stage sanity: re-ranked sims come from stored vectors, so each
    // returned (qid, nid) pair's sim must equal the plain cosine — the
    // rotation must never leak into the exact scores
    val sims = Similarity.indexTopK(q, dir, "vec_id", "embedding",
        k = 2, nprobe = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val vecs = points.toMap.view.mapValues { v =>
      val d = v.map(_.toDouble).toArray
      val n = math.sqrt(d.map(x => x * x).sum)
      d.map(_ / n)
    }.toMap
    sims.foreach { case ((qid, nid), sim) =>
      val exact = vecs(qid).zip(vecs(nid)).map { case (a, b) => a * b }.sum
      assert(math.abs(sim - exact) < 1e-4 + 5e-5,
        s"($qid,$nid): sim $sim vs exact cosine $exact")
    }
  }

  test("persisted index == online IVF-PQ across seeds, dims and knobs") {
    // seed-swept version of the fixed-seed identity law: the equality must
    // hold for any corpus shape, not one lucky configuration
    for ((seed, dim, nlist, nprobe, k) <- Seq(
        (101, 8, 4, 2, 1), (202, 24, 10, 3, 2), (303, 16, 6, 6, 3))) {
      val rnd = new scala.util.Random(seed)
      val centers = (0 until nlist).map(_ => Array.fill(dim)(rnd.nextGaussian()))
      val points = (0 until 240).map { i =>
        val c = centers(i % nlist)
        (i.toLong, c.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat).toSeq)
      }
      val corpus = points.toDF("vec_id", "embedding")
      val q = corpus.filter(col("vec_id") < 8)
      val dir = java.nio.file.Files.createTempDirectory(s"graft-annidx-s$seed").toString
      Similarity.buildIndex(corpus, "vec_id", "embedding", dir,
        nlist = nlist, kmeansIters = 2, m = 4, k = 8)
      val model = Similarity.pqTrain(corpus, "embedding", dim, m = 4, k = 8)
      val online = Similarity.ivfPqTopK(q, corpus, "vec_id", "vec_id",
          "embedding", model, k = k, nlist = nlist, nprobe = nprobe,
          kmeansIters = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val indexed = Similarity.indexTopK(q, dir, "vec_id", "embedding",
          k = k, nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(indexed === online, s"diverged at seed=$seed dim=$dim nlist=$nlist")
    }
  }

  test("salted cell writes: same results, cellSalt files per cell, pruning intact") {
    // cellSalt spreads an oversized cell across that many write tasks;
    // the directory layout (and so partition pruning) must not change,
    // and results must be identical to the unsalted build
    val dim = 12
    val rnd = new scala.util.Random(73)
    val centers = (0 until 4).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 320).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 8)
    def run(salt: Int): (String, Set[(Long, Long, Int, Double)]) = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-salt$salt").toString
      Similarity.buildIndex(corpus, "vec_id", "embedding", dir,
        nlist = 4, kmeansIters = 2, m = 4, k = 8, cellSalt = salt)
      val res = Similarity.indexTopK(q, dir, "vec_id", "embedding", k = 2, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      (dir, res)
    }
    val (dir1, res1) = run(1)
    val (dir4, res4) = run(4)
    assert(res4 === res1, "salted build must return identical results")
    def cellFiles(dir: String): Seq[Int] =
      new java.io.File(s"$dir/cells").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cent_id="))
        .map(_.listFiles().count(f => f.getName.endsWith(".parquet"))).toSeq
    assert(cellFiles(dir1).forall(_ == 1), s"unsalted: 1 file/cell, got ${cellFiles(dir1)}")
    val salted = cellFiles(dir4)
    assert(salted.length === 4 && salted.forall(n => n >= 2 && n <= 4),
      s"salted: expected 2..4 files per cell dir, got $salted")
    // appended rows also respect the salt and stay findable
    val extra = (1000 until 1080).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    Similarity.appendToIndex(extra.toDF("vec_id", "embedding"), "vec_id",
      "embedding", dir4, cellSalt = 4)
    val probe = Seq(extra.head).toDF("vec_id", "embedding")
    val hit = Similarity.indexTopK(probe, dir4, "vec_id", "embedding",
      k = 1, nprobe = 4).collect()
    assert(hit.nonEmpty && hit.head.getDouble(3) > 0.9,
      s"appended row not findable after salted append: ${hit.toSeq}")
    // compaction is layout-only: results identical before/after, and the
    // default salt=1 rewrite lands one file per cell again
    val preCompact = Similarity.indexTopK(q, dir4, "vec_id", "embedding",
        k = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    Similarity.compactIndex(spark, dir4)
    assert(cellFiles(dir4).forall(_ == 1),
      s"post-compaction: 1 file/cell, got ${cellFiles(dir4)}")
    val postCompact = Similarity.indexTopK(q, dir4, "vec_id", "embedding",
        k = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(postCompact === preCompact, "compaction must be layout-only")
  }

  test("splitCell: hot cell re-balanced in place, rows preserved, recall holds") {
    val dim = 16
    val rnd = new scala.util.Random(97)
    // 4 natural clusters but nlist=3: the quantizer must merge two of
    // them into one hot cell — exactly the skew splitCell exists for
    val centers = (0 until 4).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def mk(id: Long): (Long, Seq[Float]) = {
      val c = centers((id % 4).toInt)
      val rj = new scala.util.Random(id * 31 + 7)
      (id, c.map(x => (x + 0.05 * rj.nextGaussian()).toFloat).toSeq)
    }
    // planted twins: id and id+1000 share a cluster and jitter seed ranges
    val corpus = ((0L until 400L) ++ (1000L until 1400L)).map(mk)
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-splitidx").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", dir,
      nlist = 3, kmeansIters = 3, m = 4, k = 8)
    def cellCounts(): Map[Int, Long] =
      spark.read.parquet(s"$dir/cells").groupBy("cent_id").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val before = cellCounts()
    val hotCnt = before.values.max
    val hotId = before.collect { case (id, c) if c == hotCnt => id }.min
    def top1(): Map[Long, Long] = {
      val q = corpus.filter(col("vec_id") < 8)
      // nprobe past nlist clamps to every cell — exact pre/post comparison
      Similarity.indexTopK(q, dir, "vec_id", "embedding", k = 1, nprobe = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val truthBefore = top1()
    val newIds = Similarity.splitCell(spark, dir, sub = 2)
    assert(newIds === Seq(hotId, 3), s"expected split of hottest cell, got $newIds")
    val after = cellCounts()
    assert(after.values.sum === before.values.sum, "split must preserve every row")
    assert(after.keySet === Set(0, 1, 2, 3), s"contiguous ids expected, got ${after.keySet}")
    assert(after(hotId) < hotCnt,
      s"hot cell must shrink: $hotCnt -> ${after(hotId)}")
    // centroids table renumbered contiguously; index still loads and queries
    val centIds = spark.read.parquet(s"$dir/centroids")
      .select("cent_id").collect().map(_.getInt(0)).sorted.toSeq
    assert(centIds === Seq(0, 1, 2, 3))
    val truthAfter = top1()
    assert(truthAfter === truthBefore,
      "top-1 neighbors must survive the split (probing all cells)")
  }

  test("codes-only index: exact with rerankCorpus, honest ADC-only, append conforms") {
    val dim = 16
    val rnd = new scala.util.Random(131)
    val centers = (0 until 6).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 480).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val full = java.nio.file.Files.createTempDirectory("graft-idx-full").toString
    val lean = java.nio.file.Files.createTempDirectory("graft-idx-lean").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", full,
      nlist = 6, kmeansIters = 2, m = 4, k = 8)
    Similarity.buildIndex(corpus, "vec_id", "embedding", lean,
      nlist = 6, kmeansIters = 2, m = 4, k = 8, storeVectors = false)
    // layout: no vec column anywhere in the lean cells
    val leanSchema = spark.read.parquet(s"$lean/cells").schema.fieldNames.toSet
    assert(leanSchema === Set("cent_id", "nid", "codes"), s"got $leanSchema")
    // identity law: codes-only + source-corpus re-rank == vectors-stored index
    val fromFull = rows(Similarity.indexTopK(q, full, "vec_id", "embedding",
      k = 2, nprobe = 3))
    val fromLean = rows(Similarity.indexTopK(q, lean, "vec_id", "embedding",
      k = 2, nprobe = 3, rerankCorpus = Some(corpus), rerankIdCol = "vec_id"))
    assert(fromLean === fromFull,
      "codes-only + rerankCorpus must equal the vectors-stored index")
    // ADC-only: right shape, approximate sims, decent recall on clustered data
    val adc = Similarity.indexTopK(q, lean, "vec_id", "embedding",
      k = 2, nprobe = 3).collect()
    assert(adc.length === 16, s"8 queries x k=2 expected, got ${adc.length}")
    // within tight clusters PQ codes collide, so ADC may return a
    // clustermate rather than the single true nearest — the honest claim
    // is cluster-level agreement (cluster = id % 6 by construction)
    val adcTop1 = adc.filter(_.getInt(2) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(adcTop1.size === 8)
    assert(adcTop1.forall { case (qid, nid) => nid % 6 == qid % 6 },
      s"ADC top-1 must land in the query's cluster: $adcTop1")
    // appends conform to the codes-only layout
    val extra = (1000 until 1060).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    Similarity.appendToIndex(extra.toDF("vec_id", "embedding"), "vec_id",
      "embedding", lean)
    val afterAppend = spark.read.parquet(s"$lean/cells").schema.fieldNames.toSet
    assert(afterAppend === Set("cent_id", "nid", "codes"),
      s"append must not grow a vec column: $afterAppend")
    // drift report still runs (skew-only signals)
    val drift = Similarity.indexDriftReport(spark, lean)
    assert(drift.rowsNow === 540)
  }

  test("stripVectors: derived codes-only twin preserves rows/codes, identity under rerank") {
    val dim = 16
    val rnd = new scala.util.Random(577)
    val centers = (0 until 6).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val corpus = (0 until 480).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 8)
    val full = java.nio.file.Files.createTempDirectory("graft-strip-full").toString
    val lean = java.nio.file.Files.createTempDirectory("graft-strip-lean").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", full,
      nlist = 6, kmeansIters = 2, m = 4, k = 8)
    Similarity.stripVectors(spark, full, lean)
    // layout + content: codes-only cells, same rows, same codes per nid
    assert(spark.read.parquet(s"$lean/cells").schema.fieldNames.toSet ===
      Set("cent_id", "nid", "codes"))
    val srcCodes = spark.read.parquet(s"$full/cells")
      .select("nid", "cent_id", "codes").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    val dstCodes = spark.read.parquet(s"$lean/cells")
      .select("nid", "cent_id", "codes").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    assert(dstCodes === srcCodes,
      "strip must preserve every (nid, cell, codes) triple exactly")
    // identity law holds structurally: derived lean + source rerank == full
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val fromFull = rows(Similarity.indexTopK(q, full, "vec_id", "embedding",
      k = 2, nprobe = 3))
    val fromLean = rows(Similarity.indexTopK(q, lean, "vec_id", "embedding",
      k = 2, nprobe = 3, rerankCorpus = Some(corpus), rerankIdCol = "vec_id"))
    assert(fromLean === fromFull)
    // a stripped index is a first-class codes-only index: appends conform
    Similarity.appendToIndex(corpus.filter(col("vec_id") < 4)
      .withColumn("vec_id", col("vec_id") + 5000), "vec_id", "embedding", lean)
    assert(spark.read.parquet(s"$lean/cells").schema.fieldNames.toSet ===
      Set("cent_id", "nid", "codes"))
    assert(spark.read.parquet(s"$lean/cells").count() === 484)
    // double-strip is a loud error, not a silent no-op copy
    intercept[IllegalArgumentException] {
      Similarity.stripVectors(spark, lean,
        java.nio.file.Files.createTempDirectory("graft-strip-again").toString)
    }
  }

  test("codes-only splitCell: reconstruction-trained split preserves rows, shrinks skew") {
    // 4 natural clusters forced into nlist=3 -> one hot merged cell, but
    // the index is LEAN (no stored vectors): sub-centroids train on the
    // PQ reconstructions of the cell's own codes
    val dim = 16
    val rnd = new scala.util.Random(211)
    val centers = (0 until 4).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def mk(id: Long): (Long, Seq[Float]) = {
      val c = centers((id % 4).toInt)
      val rj = new scala.util.Random(id * 37 + 11)
      (id, c.map(x => (x + 0.05 * rj.nextGaussian()).toFloat).toSeq)
    }
    val corpus = (0L until 800L).map(mk).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 8)
    def buildLean(residual: Boolean): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-leansplit").toString
      Similarity.buildIndex(corpus, "vec_id", "embedding", d,
        nlist = 3, kmeansIters = 3, m = 4, k = 16, storeVectors = false,
        residual = residual)
      d
    }
    def cellCounts(d: String): Map[Int, Long] =
      spark.read.parquet(s"$d/cells").groupBy("cent_id").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def exactTop(d: String, rf: Int): Set[(Long, Long, Int, Double)] =
      Similarity.indexTopK(q, d, "vec_id", "embedding", k = 2, nprobe = 8,
          rerankFactor = rf,
          rerankCorpus = Some(corpus), rerankIdCol = "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    for ((residual, useRerank) <- Seq((false, false), (false, true), (true, false))) {
      // raw codes ride a split unchanged, so even a BINDING ADC candidate
      // cut (default rerankFactor) is identical pre/post; a residual split
      // from reconstructions re-encodes against the new sub-centroid —
      // double quantization legitimately shuffles near-tie candidates, so
      // the identity law there uses a non-binding cut (>= corpus size)
      val rf = if (residual && !useRerank) 512 else 64
      val lean = buildLean(residual)
      val before = cellCounts(lean)
      val hotCnt = before.values.max
      val hotId = before.collect { case (id, c) if c == hotCnt => id }.min
      val pre = exactTop(lean, rf)
      val ids =
        if (useRerank) Similarity.splitCell(spark, lean, sub = 2,
          rerankCorpus = Some(corpus), rerankIdCol = "vec_id",
          rerankVecCol = "embedding")
        else Similarity.splitCell(spark, lean, sub = 2)
      assert(ids === Seq(hotId, 3),
        s"residual=$residual rerank=$useRerank: expected hottest-cell split, got $ids")
      val after = cellCounts(lean)
      assert(after.values.sum === before.values.sum,
        s"residual=$residual rerank=$useRerank: split must preserve every row")
      assert(after(hotId) < hotCnt,
        s"residual=$residual rerank=$useRerank: hot cell must shrink: $hotCnt -> ${after(hotId)}")
      // the layout stays lean — the training vec column must not leak out
      assert(spark.read.parquet(s"$lean/cells").schema.fieldNames.toSet ===
        Set("cent_id", "nid", "codes"),
        s"residual=$residual rerank=$useRerank: split must not grow a vec column")
      // exact (all-probe + source-corpus rerank) results survive the split
      assert(exactTop(lean, rf) === pre,
        s"residual=$residual rerank=$useRerank: exact rerank results must survive the split")
    }
  }

  test("attribute-filtered ANN: payload predicate pushed into the probed scan, recall holds") {
    val dim = 16
    val rnd = new scala.util.Random(307)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    // 25% of docs are 'en', deterministically by id — the "search within a
    // predicate" shape (nearest EN doc, not nearest doc that happens EN)
    val points = (0 until 800).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq,
        if (i % 4 == 0) "en" else "xx")
    }
    val corpus = points.toDF("vec_id", "embedding", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-fltidx").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", dir,
      nlist = 8, kmeansIters = 2, m = 4, k = 16, payloadCols = Seq("lang"))
    // payload rides the cells
    assert(spark.read.parquet(s"$dir/cells").schema.fieldNames.toSet ===
      Set("cent_id", "nid", "codes", "vec", "lang"))
    val q = corpus.filter(col("vec_id") < 8).select("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(got: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
      got.intersect(truth).size.toDouble / truth.size
    val truthF = pairs(Similarity.bruteForceTopK(q,
      corpus.filter(col("lang") === "en"), "vec_id", "vec_id", "embedding", k = 5))
    val gotFDf = Similarity.indexTopK(q, dir, "vec_id", "embedding", k = 5,
      filter = Some(col("lang") === "en"), filterSelectivity = 0.25)
    val gotF = pairs(gotFDf)
    // only matching docs can be returned
    assert(gotF.forall(_._2 % 4 == 0), s"non-EN neighbors leaked: $gotF")
    // the predicate reaches the parquet scan of the probed cells
    val plan = gotFDf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters") && plan.contains("lang"),
      s"lang predicate not pushed into the cells scan:\n$plan")
    // the VERDICT law: filtered recall (vs filtered ground truth) >=
    // unfiltered recall (vs unfiltered ground truth) at equal k — the
    // selectivity-scaled probe count must compensate for matching
    // neighbors living further out
    val truthU = pairs(Similarity.bruteForceTopK(q, corpus,
      "vec_id", "vec_id", "embedding", k = 5))
    val gotU = pairs(Similarity.indexTopK(q, dir, "vec_id", "embedding", k = 5))
    val (rF, rU) = (recall(gotF, truthF), recall(gotU, truthU))
    info(f"recall: filtered $rF%.3f vs unfiltered $rU%.3f")
    assert(rF >= rU, f"filtered recall must not trail unfiltered: $rF%.3f < $rU%.3f")
    // appends must carry the payload schema — and refuse clearly otherwise
    val extra = Seq((9000L, centers(0).map(x =>
      (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq, "en"))
      .toDF("vec_id", "embedding", "lang")
    Similarity.appendToIndex(extra, "vec_id", "embedding", dir)
    val hit = Similarity.indexTopK(
      extra.select("vec_id", "embedding"), dir, "vec_id", "embedding", k = 1,
      nprobe = 8, filter = Some(col("lang") === "en"))
    assert(hit.count() === 1, "appended payload row must be findable via the filter")
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIndex(extra.drop("lang"), "vec_id", "embedding", dir)
    }
    assert(e.getMessage.contains("payload"))
  }

  test("maintainIndex on a codes-only index: skewed appends -> Split, not RebuildAdvised") {
    val dim = 16
    val rnd = new scala.util.Random(223)
    val centers = (0 until 4).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def mk(id: Long, cluster: Int): (Long, Seq[Float]) = {
      val rj = new scala.util.Random(id * 19 + 3)
      (id, centers(cluster).map(x => (x + 0.05 * rj.nextGaussian()).toFloat).toSeq)
    }
    val balanced = (0L until 400L).map(i => mk(i, (i % 4).toInt))
      .toDF("vec_id", "embedding")
    val lean = java.nio.file.Files.createTempDirectory("graft-leanmaint").toString
    Similarity.buildIndex(balanced, "vec_id", "embedding", lean,
      nlist = 4, kmeansIters = 3, m = 4, k = 16, storeVectors = false)
    assert(Similarity.maintainIndex(spark, lean) === Similarity.Healthy)
    val skewed = (1000L until 1600L).map(mk(_, 0)).toDF("vec_id", "embedding")
    Similarity.appendToIndex(skewed, "vec_id", "embedding", lean)
    Similarity.maintainIndex(spark, lean) match {
      case Similarity.Split(ids, before, after) =>
        assert(ids.length === 2 && ids(1) === 4, s"got $ids")
        assert(after < before,
          f"split must reduce max cell share: $before%.4f -> $after%.4f")
      case other => fail(s"lean index skew must split in place now, got $other")
    }
    assert(Similarity.maintainIndex(spark, lean) === Similarity.Healthy)
    assert(spark.read.parquet(s"$lean/cells").count() === 1000)
  }

  test("maintainIndex: healthy -> no action; skewed appends -> split; idempotent") {
    val dim = 16
    val rnd = new scala.util.Random(151)
    val centers = (0 until 4).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def mk(id: Long, cluster: Int): (Long, Seq[Float]) = {
      val rj = new scala.util.Random(id * 13 + 1)
      (id, centers(cluster).map(x => (x + 0.05 * rj.nextGaussian()).toFloat).toSeq)
    }
    val balanced = (0L until 400L).map(i => mk(i, (i % 4).toInt))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-maintidx").toString
    Similarity.buildIndex(balanced, "vec_id", "embedding", dir,
      nlist = 4, kmeansIters = 3, m = 4, k = 8)
    assert(Similarity.maintainIndex(spark, dir) === Similarity.Healthy)
    // appends all landing in one cluster: skew grows, cosine holds
    val skewed = (1000L until 1600L).map(mk(_, 0)).toDF("vec_id", "embedding")
    Similarity.appendToIndex(skewed, "vec_id", "embedding", dir)
    Similarity.maintainIndex(spark, dir) match {
      case Similarity.Split(ids, before, after) =>
        assert(ids.length === 2 && ids(1) === 4, s"got $ids")
        assert(after < before, f"split must reduce max cell share: $before%.4f -> $after%.4f")
      case other => fail(s"expected Split, got $other")
    }
    // re-baselined: an immediate second pass finds nothing to do
    assert(Similarity.maintainIndex(spark, dir) === Similarity.Healthy)
    // all 1000 rows still present and queryable across 5 cells
    assert(spark.read.parquet(s"$dir/cells").count() === 1000)
    val q = balanced.filter(col("vec_id") < 4)
    assert(Similarity.indexTopK(q, dir, "vec_id", "embedding", k = 1, nprobe = 8)
      .count() === 4)
  }

  test("residual (IVFADC) index: better ADC ranking in tight cells, exact laws hold") {
    val dim = 16
    val rnd = new scala.util.Random(173)
    // loose clusters (wide in-cell spread) + near-exact twins: the
    // twin-vs-clustermate dot gap (~0.14) must clear the PQ quantization
    // noise for ANY ADC to resolve it; raw codes quantize whole unit
    // vectors (cluster structure eats the codebook), residual codes spend
    // all 16 centroids per subspace on the within-cell offsets
    val centers = (0 until 4).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def jittered(id: Long, cluster: Int, scale: Double): (Long, Seq[Float]) = {
      val rj = new scala.util.Random(id * 17 + 5)
      (id, centers(cluster).map(x => (x + scale * rj.nextGaussian()).toFloat).toSeq)
    }
    // ids 0..7 are queries; id+500 is a planted twin (the query's own
    // vector + 1% jitter); 8..399 are fill
    val base = (0L until 400L).map(i => jittered(i, (i % 4).toInt, 0.4))
    val twins = (0L until 8L).map { i =>
      val rj = new scala.util.Random(i * 91 + 3)
      (i + 500L, base(i.toInt)._2.map(x => x + 0.01f * rj.nextGaussian().toFloat))
    }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 8)
    def twinRate(dir: String): Int = {
      val top1 = Similarity.indexTopK(q, dir, "vec_id", "embedding",
          k = 1, nprobe = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      top1.count { case (qid, nid) => nid == qid + 500L }
    }
    // ADC-only comparison: codes-only indexes, no re-rank possible
    val rawAdc = java.nio.file.Files.createTempDirectory("graft-adc-raw").toString
    val resAdc = java.nio.file.Files.createTempDirectory("graft-adc-res").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", rawAdc,
      nlist = 4, kmeansIters = 3, m = 8, k = 16, storeVectors = false)
    Similarity.buildIndex(corpus, "vec_id", "embedding", resAdc,
      nlist = 4, kmeansIters = 3, m = 8, k = 16, storeVectors = false,
      residual = true)
    val rawRate = twinRate(rawAdc)
    val resRate = twinRate(resAdc)
    info(s"ADC-only twin top-1: raw $rawRate/8, residual $resRate/8")
    assert(resRate >= rawRate,
      s"residual ADC must not rank worse than raw ADC: $resRate vs $rawRate of 8")
    assert(resRate >= 6, s"residual ADC should find most twins: $resRate of 8")
    // exactness: residual + stored vectors re-ranks exactly — every twin found
    val resFull = java.nio.file.Files.createTempDirectory("graft-res-full").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", resFull,
      nlist = 4, kmeansIters = 3, m = 8, k = 16, residual = true)
    assert(twinRate(resFull) === 8, "exact re-rank must find every planted twin")
    // appends re-encode against the stored quantizer's residual scheme
    val extra = (1000L until 1008L).map(i => jittered(i, (i % 4).toInt, 0.05))
    Similarity.appendToIndex(extra.toDF("vec_id", "embedding"), "vec_id",
      "embedding", resFull)
    val probe = Seq(extra.head).toDF("vec_id", "embedding")
    val hit = Similarity.indexTopK(probe, resFull, "vec_id", "embedding",
      k = 1, nprobe = 4).collect()
    assert(hit.nonEmpty && hit.head.getDouble(3) > 0.9,
      s"appended row not findable in residual index: ${hit.toSeq}")
    // split re-encodes moved rows against their new sub-centroids: exact
    // results are unchanged when every cell is probed
    val pre = Similarity.indexTopK(q, resFull, "vec_id", "embedding",
        k = 2, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    Similarity.splitCell(spark, resFull, sub = 2)
    val post = Similarity.indexTopK(q, resFull, "vec_id", "embedding",
        k = 2, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(post === pre, "split of a residual index must preserve exact results")
  }

  test("ANN index append: no-retrain placement consistent, appended rows findable") {
    val dim = 16
    val rnd = new scala.util.Random(61)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val first = mk(0 until 200).toDF("vec_id", "embedding")
    val second = mk(200 until 400).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-app").toString
    Similarity.buildIndex(first, "vec_id", "embedding", dir,
      nlist = 8, kmeansIters = 2, m = 4, k = 8)
    Similarity.appendToIndex(second, "vec_id", "embedding", dir)
    // all 400 rows present, each exactly once
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.count() === 400)
    assert(cells.select("nid").distinct().count() === 400)
    // queries drawn from the APPENDED half must find their own cluster-mates
    // (the index serves appended rows exactly like built ones)
    val q = second.filter(col("vec_id") < 216) // 2 per cluster
    val got = Similarity.indexTopK(q, dir, "vec_id", "embedding", k = 3, nprobe = 3)
    val brute = Similarity.bruteForceTopK(q, first.union(second), "vec_id", "vec_id",
        "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (gotSet intersect brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"post-append recall $recall")
  }

  test("build/append encode identity: encodeForIndex over the build corpus " +
      "returns every stored (cent_id, nid, codes) row exactly, in every layout") {
    // a build and an append share one encoder; were they ever to diverge
    // (raw-vs-residual fork, OPQ transform, payload projection), appended
    // rows would land in other cells or carry other codes than a rebuild
    // over the same rows gives
    val dim = 16
    val rnd = new scala.util.Random(149)
    val centers = (0 until 6).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val corpus = (0 until 300).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq, i % 3)
    }.toDF("vec_id", "embedding", "label")
    for ((name, residual, opqIters, payload) <- Seq(
        ("raw", false, 0, Nil), ("residual", true, 0, Nil),
        ("residual+opq", true, 2, Nil), ("payload", false, 0, Seq("label")))) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-enc-$name").toString
      Similarity.buildIndex(corpus, "vec_id", "embedding", dir, nlist = 6,
        kmeansIters = 2, m = 4, k = 8, residual = residual, opqIters = opqIters,
        payloadCols = payload)
      val cols = Seq("cent_id", "nid", "codes") ++ payload
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      val stored = rows(spark.read.parquet(s"$dir/cells"))
      val encoded = rows(Similarity.encodeForIndex(corpus, "vec_id", "embedding", dir))
      assert(stored.length === 300 && encoded.length === 300, name)
      assert(encoded.toSet === stored.toSet, s"$name: re-encode differs from the build")
    }
  }

  test("ANN index lifecycle: compaction is result-identical, drift probe flags a shifted append") {
    val dim = 16
    val rnd = new scala.util.Random(71)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def near(ids: Range) = ids.map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-life").toString
    Similarity.buildIndex(near(0 until 200).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, nlist = 8, kmeansIters = 2, m = 4, k = 8)
    // fresh same-distribution data: healthy
    Similarity.appendToIndex(near(200 until 280).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    val healthy = Similarity.indexDriftReport(spark, dir)
    assert(!healthy.retrainAdvised,
      s"same-distribution append must not advise retrain: $healthy")
    assert(healthy.rowsNow === 280 && healthy.builtRows === 200)

    // several appends fragment the cells; compaction must not change results
    for (b <- 0 until 3)
      Similarity.appendToIndex(
        near(280 + b * 20 until 300 + b * 20).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir)
    val q = near(0 until 16).toDF("vec_id", "embedding")
    def results() = Similarity.indexTopK(q, dir, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val before = results()
    val (filesBefore, filesAfter) = Similarity.compactIndex(spark, dir)
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    assert(results() === before, "compaction changed query results")

    // drift: a large append from a DIFFERENT distribution (uniform iid,
    // unrelated to the trained centers) must trip the probe
    val shifted = (10000 until 10800).map { i =>
      (i.toLong, Seq.fill(dim)((5.0 * rnd.nextGaussian()).toFloat))
    }
    Similarity.appendToIndex(shifted.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    val drifted = Similarity.indexDriftReport(spark, dir)
    assert(drifted.retrainAdvised, s"shifted append must advise retrain: $drifted")
    assert(drifted.avgCosNow < drifted.builtAvgCos)
  }

  test("driver-bench clustered config: pq_rerank and ivf_pq recall >= 0.9") {
    // the EXACT corpus/knobs Bench.clusteredCurve runs (seed 42, 10k x 64,
    // 100 clusters, noise 0.15, m=8 k=16, default rerankFactor), pinned
    // here so a recall regression fails the suite before the driver sees it
    val rnd = new scala.util.Random(42)
    val dim = 64
    val centers = Array.fill(100)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until 10000).map { i =>
      val c = centers(i % 100)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding").repartition(32).cache()
    val queries = emb.filter(col("vec_id") < 100) // one per cluster
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("rank") === 1).select("qid", "nid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = top1(Similarity.bruteForceTopK(queries, emb, "vec_id", "vec_id", "embedding", k = 1))
    def recall(got: Map[Long, Long]): Double =
      truth.count { case (k, v) => got.get(k).contains(v) }.toDouble / truth.size
    val model = Similarity.pqTrain(emb, "embedding", dim, m = 8, k = 16)
    val rPq = recall(top1(Similarity.pqTopKRerank(queries, emb,
      Similarity.pqEncode(emb, "vec_id", "embedding", model),
      "vec_id", "vec_id", "embedding", model, k = 1)))
    val rIvfPq = recall(top1(Similarity.ivfPqTopK(queries, emb, "vec_id", "vec_id",
      "embedding", model, k = 1, nlist = 50, nprobe = 12)))
    emb.unpersist()
    assert(rPq >= 0.9, s"pq_rerank recall $rPq at the driver-bench config")
    assert(rIvfPq >= 0.9, s"ivf_pq recall $rIvfPq at the driver-bench config")
  }

  test("best_cell/top_cells: codegen at nlist=4096 (no fallback) matches driver argmax") {
    // the literal-array formulation died at nlist ~ 1k (Janino constant
    // pool); the payload kernel must stay codegen'd at the auto-router's
    // nlist for a 10^8-vector corpus — fallback disabled so a codegen
    // failure FAILS the test instead of silently interpreting
    val dim = 16; val nlist = 4096; val probes = 4
    val rnd = new scala.util.Random(11)
    val cents = Array.fill(nlist * dim)(rnd.nextDouble() * 2 - 1)
    val rows = Seq.fill(50)(Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
    val df = rows.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = df.select(col("id"),
          graft.functions.CentroidFunctions.best_cell(col("v"), cents, nlist, dim).as("cell"),
          graft.functions.CentroidFunctions.top_cells(col("v"), cents, nlist, dim, probes).as("cells"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Int](2)))
        .sortBy(_._1)
      got.foreach { case (id, cell, cells) =>
        val v = rows(id)
        val sims = (0 until nlist).map { c =>
          var d = 0.0; var j = 0
          while (j < dim) { d += v(j) * cents(c * dim + j); j += 1 }
          d
        }
        val expTop = (0 until nlist).sortBy(c => (-sims(c), c)).take(probes)
        assert(cell === expTop.head, s"best_cell mismatch for row $id")
        assert(cells === expTop, s"top_cells mismatch for row $id")
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("best_cell/top_cells: ties break to the smallest centroid index") {
    val dim = 4
    val c0 = Seq(0.0, 1.0, 0.0, 0.0)
    val dup = Seq(1.0, 0.0, 0.0, 0.0)
    // centroids 1 and 3 identical and best for the probe vector
    val cents = (c0 ++ dup ++ c0 ++ dup).toArray
    val df = Seq((0, Seq(1.0, 0.0, 0.0, 0.0))).toDF("id", "v")
    val r = df.select(
        graft.functions.CentroidFunctions.best_cell(col("v"), cents, 4, dim).as("cell"),
        graft.functions.CentroidFunctions.top_cells(col("v"), cents, 4, dim, 3).as("cells"))
      .collect().head
    assert(r.getInt(0) === 1)
    assert(r.getSeq[Int](1) === Seq(1, 3, 0)) // tied pair by index, then next-best
  }

  test("index build/append drop null and wrong-width vectors — no default-partition cell") {
    // best_cell is null-intolerant: without the assignCells filter a null
    // embedding got cent_id=null, landed in a __HIVE_DEFAULT_PARTITION__
    // dir no probe ever reads, and crashed the build-time stats sample
    // decode at the END of the build
    val dim = 12
    val rnd = new scala.util.Random(167)
    val centers = (0 until 4).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 240).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val bad = Seq(
      (9998L, null.asInstanceOf[Seq[Float]]), // null embedding
      (9999L, Seq(1.0f, 2.0f)))               // wrong width
    val corpus = (points ++ bad).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-nullvec").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", dir,
      nlist = 4, kmeansIters = 2, m = 4, k = 8)
    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!cellDirs.exists(_.contains("HIVE_DEFAULT_PARTITION")),
      s"null rows must not create a default-partition cell: $cellDirs")
    assert(spark.read.parquet(s"$dir/cells").count() === 240,
      "only assignable rows belong in the index")
    // appends drop them the same way (shared assignCells path)
    Similarity.appendToIndex(bad.toDF("vec_id", "embedding"), "vec_id",
      "embedding", dir)
    assert(spark.read.parquet(s"$dir/cells").count() === 240)
    // and queries with null vectors are dropped, not crashed
    val q = (points.take(4) ++ bad).toDF("vec_id", "embedding")
    val res = Similarity.indexTopK(q, dir, "vec_id", "embedding", k = 1, nprobe = 2)
    val qids = res.collect().map(_.getLong(0)).toSet
    assert(qids === Set(0L, 1L, 2L, 3L), s"null queries must be dropped: $qids")
  }

  test("index tombstones: delete -> query == compacted physical removal; " +
      "deleted ids never surface; set cleared by compaction") {
    val e = sf("sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-anndel").toString
    Similarity.buildIndex(e, "vec_id", "embedding", dir,
      nlist = 8, kmeansIters = 2)
    val queries = e.filter(col("vec_id") < 6)
    val baseline = Similarity.indexTopK(queries, dir, "vec_id", "embedding",
        k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq
    // tombstone a slice that includes some of the baseline's neighbors
    val dropIds = baseline.map(_._2).distinct.take(4) ++ Seq(777L)
    import spark.implicits._
    Similarity.deleteFromIndex(spark, dir, dropIds.toDF("nid"), "nid")
    Similarity.deleteFromIndex(spark, dir, // double delete: idempotent
      dropIds.take(2).toDF("nid"), "nid")
    assert(spark.read.parquet(s"$dir/deletes/ids").count() ===
      dropIds.distinct.length.toLong)
    val tomb = Similarity.indexTopK(queries, dir, "vec_id", "embedding",
        k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq
    assert(!tomb.exists(r => dropIds.contains(r._2)),
      "tombstoned id surfaced in results")
    assert(tomb !== baseline, "the delete should have changed neighbors")
    // compaction: physical removal + set cleared + queries identical
    Similarity.compactIndex(spark, dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes")))
    val left = spark.read.parquet(s"$dir/cells").select("nid")
      .collect().map(_.getLong(0)).toSet
    assert(dropIds.forall(!left.contains(_)), "tombstoned rows survived")
    val compacted = Similarity.indexTopK(queries, dir, "vec_id", "embedding",
        k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq
    assert(compacted === tomb,
      "tombstone-time ranking must equal the physically-compacted ranking")
  }

  test("indexTopK rerankVecCol: rerank corpus with a differently-named embedding column") {
    val dim = 12
    val rnd = new scala.util.Random(173)
    val centers = (0 until 4).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 240).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 6)
    val lean = java.nio.file.Files.createTempDirectory("graft-rerankcol").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", lean,
      nlist = 4, kmeansIters = 2, m = 4, k = 8, storeVectors = false)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val sameName = rows(Similarity.indexTopK(q, lean, "vec_id", "embedding",
      k = 2, nprobe = 2, rerankCorpus = Some(corpus), rerankIdCol = "vec_id"))
    // the rerank corpus names its embedding column differently — before the
    // rerankVecCol parameter this failed at analysis time (the code resolved
    // the QUERY's vecCol name against the corpus frame)
    val renamed = corpus.withColumnRenamed("embedding", "doc_vec")
    val viaParam = rows(Similarity.indexTopK(q, lean, "vec_id", "embedding",
      k = 2, nprobe = 2, rerankCorpus = Some(renamed), rerankIdCol = "vec_id",
      rerankVecCol = "doc_vec"))
    assert(viaParam === sameName,
      "rerankVecCol must resolve the corpus column without changing results")
  }

  test("binding rerank cut: same-code lean==full exact; cross-code only a recall bound") {
    // The k*rerankFactor ADC cut must BIND: per probed cell ~120 rows vs a
    // cut of k*rf = 4. Round 5's q71 lesson as a pinned law — when the cut
    // truncates the candidate stream, the exact-rerank identity holds only
    // between layouts that rank the SAME shortlist (same PQ codes, i.e.
    // same residual setting); residual-vs-raw layouts nominate different
    // shortlists and may legitimately return different top-k sets.
    val dim = 16
    val k = 2
    val rf = 2 // cut = 4 candidates per query, far below probed depth
    val rnd = new scala.util.Random(211)
    val centers = (0 until 4).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val points = (0 until 480).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val corpus = points.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 8)
    def build(storeVectors: Boolean, residual: Boolean): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-bindingcut").toString
      Similarity.buildIndex(corpus, "vec_id", "embedding", d,
        nlist = 4, kmeansIters = 3, m = 4, k = 8,
        storeVectors = storeVectors, residual = residual)
      d
    }
    // structural precondition: every cell deeper than the cut
    val rawFullDir = build(storeVectors = true, residual = false)
    val minCell = spark.read.parquet(s"$rawFullDir/cells")
      .groupBy("cent_id").count().agg(min("count")).head().getLong(0)
    assert(minCell > (k * rf).toLong,
      s"cut must bind for this law to test anything: minCell=$minCell <= ${k * rf}")
    def res(d: String, rerank: Boolean) =
      Similarity.indexTopK(q, d, "vec_id", "embedding", k = k, nprobe = 2,
          rerankFactor = rf,
          rerankCorpus = if (rerank) Some(corpus) else None,
          rerankIdCol = if (rerank) "vec_id" else "")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet
    val rawFull = res(rawFullDir, rerank = false)
    val resFull = res(build(storeVectors = true, residual = true), rerank = false)
    // (a) same-code lean == full stays EXACT even under the binding cut
    val rawLean = res(build(storeVectors = false, residual = false), rerank = true)
    val resLean = res(build(storeVectors = false, residual = true), rerank = true)
    assert(rawLean === rawFull, "raw lean+rerank must equal raw full under a binding cut")
    assert(resLean === resFull, "residual lean+rerank must equal residual full under a binding cut")
    // (b) cross-code is NOT an identity: at this harsh cut the residual and
    // raw shortlists share almost nothing (measured 0.125 here) — asserting
    // equality against a cross-code reference is exactly the q71 round-5
    // bug. Pin that the divergence is real:
    val pairs = (s: Set[(Long, Long, Int, Double)]) => s.map(t => (t._1, t._2))
    val harsh = (pairs(resLean) & pairs(rawFull)).size.toDouble / pairs(rawFull).size
    assert(harsh < 0.9, s"cross-code sets unexpectedly agree under a harsh cut " +
      s"($harsh) — the binding-cut precondition stopped binding; tighten rf")
    // ...and that a NON-binding cut restores cross-code equality: with
    // k*rf >= probed depth the shortlist is every probed row for both
    // layouts, the exact rerank sees identical candidate sets, and
    // residual-lean == raw-full again. This is precisely why round 5's q71
    // was green at sf0.01 (cut never bound) yet red at sf0.1 (it did).
    def resAt(d: String, rerank: Boolean, rf2: Int) =
      Similarity.indexTopK(q, d, "vec_id", "embedding", k = k, nprobe = 2,
          rerankFactor = rf2,
          rerankCorpus = if (rerank) Some(corpus) else None,
          rerankIdCol = if (rerank) "vec_id" else "")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val rfOpen = 300 // k*rf = 600 > 240 probed rows: cut can never bind
    val rawFullOpen = resAt(rawFullDir, rerank = false, rf2 = rfOpen)
    val resLeanOpen = resAt(build(storeVectors = false, residual = true),
      rerank = true, rf2 = rfOpen)
    assert(resLeanOpen === rawFullOpen,
      "with a non-binding cut, cross-code lean+rerank must equal raw-full")
  }
}
