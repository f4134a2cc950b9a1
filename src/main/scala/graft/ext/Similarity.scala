package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (array<float>).
 *
 * Baseline: brute-force cosine top-k (exact; crossJoin + ranking window —
 * right answer for small query sets or one-off audits). Scale path:
 * random-hyperplane LSH bucketing, which turns the O(|Q| x |C|) cross join
 * into a bucket-equi-join; recall is tunable via tables x bits.
 * All arithmetic in codegen'd higher-order functions (zip_with/aggregate) —
 * no UDFs, no driver collection.
 *
 * IVF-PQ (IVFADC; Jégou, Douze & Schmid, TPAMI 2011) — the online searches
 * ([[ivfPqTopK]], [[ivfPqResidualTopK]]), the persisted index
 * ([[buildIndex]], [[indexTopK]]), its appends, its stream and its cell
 * split all run four private steps over one [[Quantizer]] (coarse
 * centroids, PQ codebooks, raw-or-residual flag), so a build and a query
 * cannot disagree on how a vector is coded or scored:
 *  - [[fit]] trains it ([[loadIndexMeta]] reads a persisted one);
 *  - [[encode]] assigns corpus rows to their nearest cell and codes them;
 *  - [[probe]] assigns each query to its nprobe nearest cells with its LUT;
 *  - [[adcTopK]] joins probed cells to coded rows, scores ADC, cuts the
 *    tie-aware shortlist and re-ranks it exactly (or ranks ADC alone).
 * Residual codes quantize r = v − c (c = the row's cell centroid), and the
 * score decomposes exactly: dot(q, v) = dot(q, c) + dot(q, r), so the LUT
 * stays per query and only the per-(query, cell) dot(q, c) is added.
 */
object Similarity {

  /** Sequential-fold dot product over array<double> — a codegen'd custom
    * expression (HOF zip_with+aggregate is interpreted and ~30x slower on
    * pair joins; see graft.functions.DotProduct). */
  def dot(a: Column, b: Column): Column = graft.functions.EsFunctions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null/zero-norm safe (returns 0.0). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na === 0 || nb === 0, 0.0).otherwise(d / (na * nb))
  }

  /** Unit vector (zero vectors pass through, giving cosine 0 later).
    * One-pass codegen'd kernel — the HOF form `transform(v, x / norm(v))`
    * is interpreted AND quadratic per call (norm re-evaluates inside the
    * per-element lambda), and Catalyst duplicates projections into pushed
    * filters; at 10⁶ rows that chain dominated whole stages
    * ([[graft.functions.UnitVec]] scaladoc has the numbers). */
  def unitize(v: Column): Column = graft.functions.EsFunctions.unit_vec(v)

  /** array<float> -> array<double> as a native elementwise Cast (codegen'd);
    * the earlier `transform(c, _.cast("double"))` HOF was interpreted with
    * per-element boxing. */
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** `(idAs, vAs)` rows of `df`: its id and its unit vector, computed once
    * per row — the exact side of every verify and re-rank join. */
  private def unitRows(df: DataFrame, id: String, vecCol: String,
                       idAs: String, vAs: String): DataFrame =
    df.select(col(id).as(idAs), unitize(asDouble(col(vecCol))).as(vAs))

  /** The rank tail of every top-k path: `row_number` per `qid` by (`by`
    * desc, nid asc), cut to `k`, out as (qid, nid, rank, sim). `by` is the
    * rounded `sim` everywhere but the ADC-only index scan, which ranks by
    * its unrounded score. */
  private def rankTail(scored: DataFrame, k: Int, by: String = "sim"): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col(by).desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("sim"))
  }

  /** Exact re-rank of a shortlist's `(qid, nid)` pairs: attach the query
    * unit vectors and the corpus ones (`cv`: nid, _cv), score the rounded
    * dot, [[rankTail]]. Only ids cross the candidate cut; vectors join back
    * for the finalists alone. */
  private def exactRerank(cands: DataFrame, queries: DataFrame, qidCol: String,
                          vecCol: String, cv: DataFrame, k: Int,
                          roundTo: Int): DataFrame =
    rankTail(cands.select(col("qid"), col("nid"))
      .join(unitRows(queries, qidCol, vecCol, "qid", "_qv"), "qid").join(cv, "nid")
      .select(col("qid"), col("nid"), round(dot(col("_qv"), col("_cv")), roundTo).as("sim")), k)

  /**
   * Tie-aware two-level shortlist of `(qid, …, _psim)` candidates: `rank()`
   * per (qid, `part`) then per qid, each cut at `n`. `rank()`, not
   * `row_number()`: coarse codes make whole clusters tie at one score, and
   * an arbitrary tie-break here would drop the true neighbour before the
   * exact stage sees it — ties all advance (bounded by the code-collision
   * set).
   *
   * The per-part cut is provably output-identical to the global cut alone:
   * a row's per-part rank never exceeds its global rank (its part sees a
   * subset of the rows above it), so every global survivor passes the
   * partial cut; and any row the partial cut drops has >= n strictly
   * better rows in its own part — all of which survive — so its global
   * rank in the reduced stream still lands past the threshold. The point
   * at scale: no single task ever sorts a query's FULL candidate stream
   * (nc * nprobe / nlist rows — a straggler at 10^9 corpus); the global
   * window sees <= parts * n rows per query (+ tie groups).
   */
  private def shortlist(scored: DataFrame, part: String, n: Int): DataFrame = {
    val wPart = Window.partitionBy("qid", part).orderBy(col("_psim").desc)
    val wc = Window.partitionBy("qid").orderBy(col("_psim").desc)
    scored.withColumn("_crank", rank().over(wPart))
      .filter(col("_crank") <= n)
      .withColumn("_prank", rank().over(wc))
      .filter(col("_prank") <= n)
  }

  /**
   * Exact top-k neighbors for each query row by brute force.
   * @param queries (qidCol, vecCol); corpus (idCol, vecCol)
   * Output: qid, neighbor id, rank, sim (rounded to `roundTo` for stable
   * cross-engine ranking; ties broken by neighbor id).
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
                     idCol: String, vecCol: String, k: Int,
                     roundTo: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    // pair cost = one codegen'd dot
    val q = unitRows(queries, qidCol, vecCol, "qid", "_qv")
    val c = unitRows(corpus, idCol, vecCol, "nid", "_cv")
    rankTail(q.crossJoin(c)
      .filter(if (excludeSelf) col("qid") =!= col("nid") else lit(true))
      .select(col("qid"), col("nid"),
        round(dot(col("_qv"), col("_cv")), roundTo).as("sim")), k)
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane i derived
    * from a hash — no RNG state to ship to executors. Full murmur3-style
    * fmix64 avalanche: the round-1 version (xor of three index products +
    * one rotate) left plane components CORRELATED across bits/tables, which
    * collapsed distinct signatures together — measured on the 10k clustered
    * bench corpus, the (table, sig) self-join emitted 74M candidate pairs
    * where well-mixed planes give ~2M, and uniform-corpus recall floored at
    * 0.5 because the 8 "independent" tables were partial copies. */
  private[graft] def planeComponent(table: Int, bit: Int, j: Int): Double = {
    var h = table.toLong * 0x9E3779B97F4A7C15L +
      bit.toLong * 0xC2B2AE3D27D4EB4FL + j.toLong * 0x165667B19E3779F9L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    // map to (-1, 1)
    (h.toDouble / Long.MaxValue.toDouble)
  }

  /** Row-major bits × dim hyperplane matrix for one table (driver-side,
    * deterministic; rides the signature expressions as a payload — the
    * previous per-bit literal arrays overflowed codegen limits at the
    * data-driven bits of large corpora, see [[graft.functions.LshPlanes]]). */
  private def planeMatrix(dim: Int, table: Int, bits: Int): Array[Double] =
    Array.tabulate(bits * dim)(i => planeComponent(table, i / dim, i % dim))

  /** Sign-bit signature of a vector for one LSH table: `bits` hyperplane
    * sign bits packed into a long (one codegen'd kernel pass). */
  def lshSignature(vec: Column, dim: Int, table: Int, bits: Int): Column =
    graft.functions.EsFunctions.lsh_sig(vec, planeMatrix(dim, table, bits), bits, dim)

  /** Per-bit hyperplane dots for one table (signature = signs of these;
    * |dot| is the bit's margin — small margin = likely flip). */
  private def planeDots(vec: Column, dim: Int, table: Int, bits: Int): Column =
    graft.functions.EsFunctions.lsh_plane_dots(vec, planeMatrix(dim, table, bits), bits, dim)

  /** Signature plus its `probeBits` margin-ranked 1-bit-flip neighbors:
    * real multiprobe — flip the bits whose hyperplane margin is smallest
    * (the flips most likely to recover a near-boundary neighbor), not every
    * bit. Output: array of 1 + probeBits signatures. */
  private def probeSignatures(vec: Column, dim: Int, table: Int, bits: Int,
                              probeBits: Int): Column = {
    val dots = planeDots(vec, dim, table, bits)
    val sig = aggregate(
      transform(dots, (d, i) =>
        when(d >= 0, pow(lit(2.0), i.cast("double")).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
    // rank bits by |margin| ascending via sort of (abs, idx) structs
    val ranked = array_sort(transform(dots,
      (d, i) => struct(abs(d).as("m"), i.cast("int").as("b"))))
    val flips = transform(slice(ranked, 1, probeBits),
      s => sig.bitwiseXOR(pow(lit(2.0), s.getField("b").cast("double")).cast("long")))
    concat(array(sig), flips)
  }

  /**
   * Approximate top-k: candidates = corpus vectors sharing an LSH bucket
   * with the query in ANY of `tables` tables; exact cosine + ranking within
   * candidates. One explode (x tables) per side + an equi-join on
   * (table, signature) — shuffle-friendly and skew-bounded (bucket size is
   * controlled by `bits`).
   */
  def annTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
              idCol: String, vecCol: String, dim: Int, k: Int,
              tables: Int = 4, bits: Int = 12, roundTo: Int = 4,
              multiprobe: Boolean = false, probeBits: Int = -1): DataFrame = {
    // multiprobe: queries additionally probe 1-bit-neighbor buckets
    // (signature XOR 2^b) — near-boundary vectors that landed one sign flip
    // apart still meet, buying recall without more tables or corpus cost
    // (corpus signatures stay single; only the query side fans out).
    // probeBits >= 0 limits the fan-out to the margin-ranked most-likely
    // flips (the bits whose hyperplane dot is closest to zero) — the
    // standard multiprobe refinement: most of the recall at a fraction of
    // the candidate cost. probeBits < 0 probes every bit.
    val effProbe = if (!multiprobe) 0 else if (probeBits < 0) bits else probeBits
    def sigs(df: DataFrame, id: String, probe: Int): DataFrame = {
      val v = unitize(asDouble(col(vecCol))).as("_v")
      val sigArr =
        if (probe == 0)
          array((0 until tables).map(t =>
            lshSignature(asDouble(col(vecCol)), dim, t, bits)): _*)
        else
          concat((0 until tables).map(t =>
            probeSignatures(asDouble(col(vecCol)), dim, t, bits, probe)): _*)
      val perTable = probe + 1
      df.select(col(id), v, posexplode(sigArr))
        .select(col(id), col("_v"),
          (col("pos") / perTable).cast("int").as("_table"), col("col").as("_sig"))
    }
    val qs = sigs(queries, qidCol, probe = effProbe)
      .withColumnsRenamed(Map(qidCol -> "qid", "_v" -> "_qv"))
    val cs = sigs(corpus, idCol, probe = 0)
      .withColumnsRenamed(Map(idCol -> "nid", "_v" -> "_cv"))
    val cands = qs.join(cs, Seq("_table", "_sig"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("_qv"), col("_cv"))
      .dropDuplicates("qid", "nid")
    rankTail(cands.select(col("qid"), col("nid"),
      round(dot(col("_qv"), col("_cv")), roundTo).as("sim")), k)
  }

  /**
   * Latent-cluster labels over an embedding column: trains `k` spherical
   * k-means centroids (bounded driver sample + deterministic
   * farthest-point init — the [[kmeansArray]] trainer) and adds
   * `cluster_id` to EVERY surviving row as one codegen'd argmax
   * projection — map-only, no join, no shuffle; rows with null or
   * wrong-dimension embeddings are dropped (they have no position in the
   * space). Deterministic for a given corpus: same sample, same seeds,
   * same centroids, same labels on any cluster layout. The label column
   * is what topic-aware curation stages group by
   * ([[Mixing.clusterBalancedSample]]).
   */
  def assignClusters(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int = 4,
                     outCol: String = "cluster_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    assignClustersWith(df, vecCol, kmeansArray(df, idCol, vecCol, k, iters),
      outCol)
  }

  /** Persist a standalone cluster-centroid artifact: `(cent_id, centv)`
    * parquet, the SAME layout as a [[buildIndex]] directory's
    * `centroids/` — so an existing ANN index's centroids serve directly
    * as a frozen clustering for streams ([[loadClusterCentroids]]). */
  def trainClusterCentroids(df: DataFrame, idCol: String, vecCol: String,
                            k: Int, iters: Int = 4, path: String): Unit =
    writeCentroids(df.sparkSession, kmeansArray(df, idCol, vecCol, k, iters), path)

  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                             cents: IndexedSeq[Seq[Double]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cent_id", "centv")
      .write.mode("overwrite").parquet(path)
  }

  /** Driver-bounded centroid array from a `(cent_id, centv)` parquet dir
    * (a [[trainClusterCentroids]] artifact or an index's `centroids/`). */
  def loadClusterCentroids(spark: org.apache.spark.sql.SparkSession,
                           path: String): IndexedSeq[Seq[Double]] = {
    import spark.implicits._
    spark.read.parquet(path).orderBy("cent_id")
      .select(col("cent_id"), col("centv"))
      .as[(Int, Seq[Double])].collect().map(_._2).toIndexedSeq
  }

  /** [[assignClusters]] against PRE-TRAINED centroids (the frozen form a
    * stream needs: per-batch retraining would drift labels across batches
    * and break replay determinism, the same argument as frozen BPE).
    * Map-only; null/wrong-dimension embeddings drop. */
  def assignClustersWith(df: DataFrame, vecCol: String,
                         cents: IndexedSeq[Seq[Double]],
                         outCol: String = "cluster_id"): DataFrame = {
    require(cents.nonEmpty, "empty centroid set")
    val dim = cents.head.length
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) === lit(dim))
      .withColumn(outCol, argBestCell(cents, unitize(asDouble(col(vecCol)))))
  }

  /** Centroid set flattened to the payload form the assignment kernels take:
    * one nlist x dim array riding the expression as a reference object. */
  private def flatCents(cents: IndexedSeq[Seq[Double]]): (Array[Double], Int, Int) = {
    val nlist = cents.length
    val dim = cents.head.length
    val flat = new Array[Double](nlist * dim)
    var c = 0
    while (c < nlist) {
      val cv = cents(c)
      var j = 0
      while (j < dim) { flat(c * dim + j) = cv(j); j += 1 }
      c += 1
    }
    (flat, nlist, dim)
  }

  /** Nearest-centroid id (0-based index into `cents`) as a pure projection —
    * one codegen'd argmax kernel scanning a payload centroid matrix (see
    * [[graft.functions.Centroids]]). No join, no window, no shuffle — the
    * row never leaves its partition, and the generated code is constant-size
    * in nlist (the earlier literal-array formulation hit Janino
    * constant-pool/method-size limits past nlist ~ 1k). Ties break to the
    * smallest index. */
  private def argBestCell(cents: IndexedSeq[Seq[Double]], v: Column): Column = {
    val (flat, nlist, dim) = flatCents(cents)
    graft.functions.CentroidFunctions.best_cell(v, flat, nlist, dim)
  }

  /** Greedy farthest-point (k-center) seed selection over unit vectors:
    * start from index 0, then repeatedly take the sample least similar to
    * its nearest chosen seed (minimal max-dot; ties break to the lowest
    * index). INCREMENTAL: each sample's max-dot against the chosen seed set
    * is cached and refreshed against only the NEWEST seed per round —
    * O(nlist · sampleN · dim), vs the naive form's O(nlist² · sampleN · dim)
    * which re-scans every seed for every sample each round. Same greedy
    * choices (the cached max equals the recomputed max exactly — pure
    * float-add/mul per seed, no reordering), so the seed sequence is
    * bit-identical to the quadratic form (pinned by SimilaritySpec). This
    * runs single-threaded on the driver: at nlist=√n/2 the naive form grows
    * n^1.5 and was the 1M-tier bottleneck (ivf_kmeans slower than brute).
    * Returns seed INDICES into `sampled`, in selection order. */
  /** Fixed chunk count for the deterministic driver-side parallel loops:
    * work splits by sample INDEX ranges (not by thread count), and chunk
    * results combine in chunk order — so the result is bit-identical on any
    * machine regardless of parallelism. */
  private val DriverChunks = 64

  private[graft] def farthestPointSeeds(sampled: Array[Array[Double]],
                                        nlist: Int): IndexedSeq[Int] = {
    val len = sampled.length
    val order = scala.collection.mutable.ArrayBuffer(0)
    val maxDot = Array.fill(len)(Double.MinValue)
    var newest = sampled(0)
    val chunkBest = new Array[Double](DriverChunks)
    val chunkIdx = new Array[Int](DriverChunks)
    while (order.size < nlist && order.size < len) {
      // per-sample max-dot refresh is independent across samples: chunks
      // over disjoint index ranges run in parallel, each reporting its
      // strict argmin; combining in chunk order preserves the sequential
      // lowest-index tie-break exactly (max() per sample is order-blind)
      val nw = newest
      java.util.stream.IntStream.range(0, DriverChunks).parallel().forEach { c =>
        val lo = c.toLong * len / DriverChunks
        val hi = (c + 1).toLong * len / DriverChunks
        var bestMax = Double.MaxValue; var bestIdx = -1
        var i = lo.toInt
        while (i < hi) {
          val si = sampled(i)
          var d = 0.0; var j = 0
          while (j < nw.length) { d += nw(j) * si(j); j += 1 }
          if (d > maxDot(i)) maxDot(i) = d
          if (maxDot(i) < bestMax) { bestMax = maxDot(i); bestIdx = i }
          i += 1
        }
        chunkBest(c) = bestMax; chunkIdx(c) = bestIdx
      }
      var bestIdx = -1; var bestMax = Double.MaxValue
      var c = 0
      while (c < DriverChunks) {
        if (chunkIdx(c) >= 0 && chunkBest(c) < bestMax) {
          bestMax = chunkBest(c); bestIdx = chunkIdx(c)
        }
        c += 1
      }
      order += bestIdx
      newest = sampled(bestIdx)
    }
    order.toIndexedSeq
  }

  /** Past this many cells the flat trainer's costs turn superlinear (its
    * driver sample is nlist*32 vectors and farthest-point init is
    * O(sample * nlist) dots), so [[kmeansArray]] switches to the two-level
    * [[hierarchicalCentroids]] — faiss's own big-nlist recipe. At the
    * threshold itself (1024-dim): flat would collect 131k vectors (~1 GB)
    * and run ~17e9 init flops; hierarchical collects 2k and fans the rest
    * out to executors. */
  private[graft] val HierarchicalNlistFrom = 4096

  /**
   * Spherical k-means coarse quantizer (index = cent_id), trained ENTIRELY
   * on a bounded seeded sample driver-side (greedy farthest-point k-center
   * init + `iters` spherical Lloyd rounds): the faiss-style design — a
   * coarse quantizer only buckets vectors, so training on a sample gives
   * the same cell structure as training on the corpus, while every
   * distributed alternative costs full corpus passes. Earlier rounds ran
   * the Lloyd refinement distributed (argmax-assign + vector_sum per cell
   * per round): at the 1M bench tier those passes — not the init — were
   * what kept ivf_kmeans (16 s) near brute force (28 s); the sample-trained
   * quantizer leaves ONE distributed pass total (the final cell
   * assignment), with measured recall 1.0 unchanged. Deterministic (see
   * [[farthestPointSeeds]]); cells that go empty keep their previous
   * centroid. Routes to the two-level trainer at [[HierarchicalNlistFrom]]
   * cells.
   */
  private def kmeansArray(corpus: DataFrame, idCol: String, vecCol: String,
                          nlist: Int, iters: Int): IndexedSeq[Seq[Double]] =
    if (nlist >= HierarchicalNlistFrom)
      hierarchicalCentroids(corpus, idCol, vecCol, nlist, iters)
    else flatKmeansArray(corpus, idCol, vecCol, nlist, iters)

  private def flatKmeansArray(corpus: DataFrame, idCol: String, vecCol: String,
                              nlist: Int, iters: Int): IndexedSeq[Seq[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("_id"), unitize(asDouble(col(vecCol))).as("_v"))
      .cache()
    // farthest-point init on a seeded driver-side sample: the distributed
    // version costs nlist-1 sequential jobs (measured ~10 s at 10k vectors
    // from job overhead alone); a few thousand sampled vectors give the
    // same cluster coverage in microseconds, and the Lloyd rounds below
    // remain fully distributed
    val n = vecs.count()
    // >= 32 training points per centroid: quantizer-training practice (the
    // faiss warning floor is ~39/centroid) — at 8/centroid the sampled
    // Lloyd placed centroids noisily enough that cell sizes skewed and the
    // IVF cell join fanned out (measured ivf_kmeans 16 -> 23 s at the 1M
    // tier). Driver cost stays bounded: the init/Lloyd loops below are
    // deterministically chunk-parallel.
    val sampleN = math.max(nlist * 32, 4096)
    val frac = math.min(1.0, sampleN.toDouble / math.max(1L, n))
    val sampled: Array[Array[Double]] = {
      val s = (if (frac < 1.0) vecs.sample(withReplacement = false, frac, seed = 42L) else vecs)
        .orderBy(xxhash64(col("_id")).asc, col("_id").asc)
        .select(col("_v")).as[Seq[Double]].collect().map(_.toArray)
      val raw = if (s.nonEmpty) s else vecs.limit(nlist).select(col("_v"))
        .as[Seq[Double]].collect().map(_.toArray)
      modalWidth(raw)
    }
    val init: IndexedSeq[Seq[Double]] =
      farthestPointSeeds(sampled, nlist).map(sampled(_).toSeq)
    val cents = sphericalLloyd(sampled, init, iters)
    vecs.unpersist()
    cents
  }

  /** Two-level (hierarchical) coarse quantizer — the big-nlist trainer.
    *
    * The flat path collects nlist*32 sample vectors to the driver and runs
    * an O(sample * nlist)-dot farthest-point init: fine to ~16k cells,
    * driver-OOM and hours at the nlist = 50-80k a 1e10-row or 1024-dim
    * corpus needs. This instead:
    *
    *  1. trains k1 = ceil(sqrt(nlist)) TOP-level centers with the flat
    *     trainer (its sample is k1*32 — bounded);
    *  2. assigns a stage-2 sample (same nlist*32 global rate) to its top
    *     center as one broadcast argmax projection — DISTRIBUTED, the
    *     driver never sees these vectors;
    *  3. rank-caps each branch's sampled members (deterministic xxhash
    *     order, the same order the flat sample uses) so no branch exceeds
    *     its training quota even when the top-level cells are skewed;
    *  4. trains each branch's k2(b) sub-centers INSIDE one executor task
    *     (farthest-point + spherical Lloyd on a few thousand points — the
    *     kernels are pure functions, deterministic on any core count), with
    *     Σ k2(b) = nlist exactly;
    *  5. collects only the FINISHED centroids, in branch order — the one
    *     nlist x dim array every IVF path needs on the driver anyway.
    *
    * Total training cost: O(nlist^1.5 * dim) flops spread over k1 tasks,
    * driver traffic nlist x dim doubles. Determinism: stage-1 is the flat
    * trainer's law; stage-2 membership, caps, per-branch point order and
    * the branch concatenation are all fixed by (xxhash64(id), id) — the
    * result is a pure function of the corpus, independent of parallelism.
    * Thin branches yield fewer than k2(b) centers (their points bound
    * them); the total can then fall below nlist, exactly like a flat
    * sample smaller than nlist would.
    */
  private[graft] def hierarchicalCentroids(corpus: DataFrame, idCol: String,
                                           vecCol: String, nlist: Int,
                                           iters: Int): IndexedSeq[Seq[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val k1 = math.ceil(math.sqrt(nlist.toDouble)).toInt
    val k2base = nlist / k1
    val rem = nlist % k1 // branches 0..rem-1 train one extra sub-center
    val top = flatKmeansArray(corpus, idCol, vecCol, k1, iters)
    val dim = top.head.length
    val clean = corpus
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === lit(dim))
      .select(col(idCol).as("_id"), unitize(asDouble(col(vecCol))).as("_v"))
    val n = clean.count()
    val sampleN = math.max(nlist * 32L, 4096L)
    val frac = math.min(1.0, sampleN.toDouble / math.max(1L, n))
    val sampled = if (frac < 1.0) clean.sample(withReplacement = false, frac, seed = 43L) else clean
    // per-branch quota: 48 x the largest sub-center count — enough for the
    // 32/centroid training floor with headroom for uneven branch draw,
    // while bounding any one task's points regardless of top-level skew
    val quota = 48 * (k2base + (if (rem > 0) 1 else 0))
    val wB = Window.partitionBy("_b").orderBy(xxhash64(col("_id")).asc, col("_id").asc)
    val subs: Array[(Int, Seq[Seq[Double]])] = sampled
      .withColumn("_b", argBestCell(top, col("_v")))
      .withColumn("_r", row_number().over(wB))
      .filter(col("_r") <= quota)
      .select(col("_b"), col("_r"), col("_v"))
      .as[(Int, Int, Seq[Double])]
      .groupByKey(_._1)
      .mapGroups { (b, it) =>
        // shuffle iterator order is arbitrary: re-sort by the rank column
        // so the in-task kernels see one fixed point order
        val pts = it.toArray.sortBy(_._2).map(_._3.toArray)
        val k2 = k2base + (if (b < rem) 1 else 0)
        val seeds = farthestPointSeeds(pts, k2) // width-uniform by the filter above
        val cents = sphericalLloyd(pts, seeds.map(pts(_).toSeq), iters)
        (b, cents.map(_.toSeq): Seq[Seq[Double]])
      }
      .collect()
    subs.sortBy(_._1).iterator.flatMap(_._2).toIndexedSeq
  }

  /** Keep only the modal-width vectors of a training sample: a stray
    * wrong-width row (corrupt input, a mixed-model corpus) would crash the
    * fixed-dim driver kernels below, and [[assignCells]] drops such rows
    * from every assignment anyway — training must see the same population.
    * Majority width, ties to the smaller — both deterministic. */
  private def modalWidth(raw: Array[Array[Double]]): Array[Array[Double]] = {
    if (raw.isEmpty) return raw
    val dim = raw.groupBy(_.length).maxBy { case (l, vs) => (vs.length, -l) }._1
    if (raw.forall(_.length == dim)) raw else raw.filter(_.length == dim)
  }

  /** Driver-side spherical Lloyd rounds over the training sample: assign
    * each point to its max-dot centroid (ties break to the smallest index —
    * the same order the distributed best_cell kernel uses), sum per cell,
    * renormalize the sum (unitize(sum) == unitize(mean)); empty/zero cells
    * keep their previous centroid — identical semantics to the former
    * distributed rounds, minus iters full corpus passes. */
  private def sphericalLloyd(pts: Array[Array[Double]],
                             init: IndexedSeq[Seq[Double]],
                             iters: Int): IndexedSeq[Seq[Double]] = {
    if (pts.isEmpty) return init
    val dim = pts.head.length
    val k = init.length
    var cents: IndexedSeq[Array[Double]] = init.map(_.toArray)
    // chunk-parallel assignment + partial sums, combined in fixed chunk
    // order (deterministic on any core count; see [[DriverChunks]])
    val chunkSums = Array.fill(DriverChunks)(new Array[Double](k * dim))
    val chunkCounts = Array.fill(DriverChunks)(new Array[Long](k))
    for (_ <- 0 until iters) {
      val cs = cents
      java.util.stream.IntStream.range(0, DriverChunks).parallel().forEach { c =>
        val sums = chunkSums(c); java.util.Arrays.fill(sums, 0.0)
        val counts = chunkCounts(c); java.util.Arrays.fill(counts, 0L)
        val lo = (c.toLong * pts.length / DriverChunks).toInt
        val hi = ((c + 1).toLong * pts.length / DriverChunks).toInt
        var i = lo
        while (i < hi) {
          val p = pts(i)
          var best = 0; var bd = Double.MinValue
          var ci = 0
          while (ci < k) {
            val cv = cs(ci)
            var d = 0.0; var j = 0
            while (j < dim) { d += cv(j) * p(j); j += 1 }
            if (d > bd) { bd = d; best = ci }
            ci += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dim) { sums(best * dim + j) += p(j); j += 1 }
          i += 1
        }
      }
      val sums = new Array[Double](k * dim)
      val counts = new Array[Long](k)
      var c = 0
      while (c < DriverChunks) { // fixed combine order -> stable float sums
        val s = chunkSums(c); val n2 = chunkCounts(c)
        var t = 0
        while (t < k * dim) { sums(t) += s(t); t += 1 }
        t = 0
        while (t < k) { counts(t) += n2(t); t += 1 }
        c += 1
      }
      cents = cents.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0L) old
        else {
          var nrm = 0.0; var j = 0
          while (j < dim) { val x = sums(i * dim + j); nrm += x * x; j += 1 }
          nrm = math.sqrt(nrm)
          if (nrm == 0.0) old
          else Array.tabulate(dim)(j2 => sums(i * dim + j2) / nrm)
        }
      }
    }
    cents.map(_.toSeq)
  }

  /**
   * IVF-style approximate top-k: a coarse quantizer of `nlist` centroids,
   * corpus vectors assigned to their nearest centroid, and each query
   * searched only in its `nprobe` nearest cells. Centroids come from
   * spherical k-means when `kmeansIters > 0` (balanced cells -> bounded
   * per-cell fan-in); `kmeansIters = 0` keeps the degenerate deterministic
   * quantizer (the `nlist` smallest-id corpus vectors) for cheap/testable
   * runs.
   *
   * Scale shape: centroids are tiny -> crossJoin(broadcast) for assignment
   * (corpus x nlist, map-side); search joins query cells to corpus cells on
   * the cell id — an equi-join whose per-cell fan-in is corpus/nlist on
   * average, vs the full corpus for brute force.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4, roundTo: Int = 4,
              kmeansIters: Int = 0): DataFrame = {
    val cents = coarseCentroids(corpus, idCol, vecCol, nlist, kmeansIters)
    val corpusCells = assignCells(corpus, idCol, vecCol, "nid", "_cv", cents, probes = 1)
    val queryCells = assignCells(queries, qidCol, vecCol, "qid", "_qv", cents, probes = nprobe)
    // each corpus row lives in exactly one cell -> (qid, nid) pairs are
    // already unique; the join on cent_id is the ONLY shuffle here.
    // Two-level top-k (the [[shortlist]] proof, for row_number: a row's
    // per-cell position in the (sim desc, nid asc) order never exceeds its
    // global position, and dropping rows past the per-cell k removes
    // nothing ahead of any global top-k row): no single task ever sorts a
    // query's full nprobe-cells candidate stream.
    val wPart = Window.partitionBy("qid", "cent_id")
      .orderBy(col("sim").desc, col("nid").asc)
    rankTail(queryCells.join(corpusCells, Seq("cent_id"))
      .filter(col("qid") =!= col("nid"))
      .select(col("cent_id"), col("qid"), col("nid"),
        round(dot(col("_qv"), col("_cv")), roundTo).as("sim"))
      .withColumn("_crank", row_number().over(wPart))
      .filter(col("_crank") <= k), k)
  }

  /** Driver-side centroid set (index = cent_id): k-means when iters > 0,
    * else the `nlist` smallest-id corpus vectors (cheap deterministic
    * quantizer for tests). nlist rows is always driver-bounded. */
  private def coarseCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                              nlist: Int, kmeansIters: Int): IndexedSeq[Seq[Double]] = {
    import corpus.sparkSession.implicits._
    if (kmeansIters > 0) kmeansArray(corpus, idCol, vecCol, nlist, kmeansIters)
    else corpus.orderBy(col(idCol).asc).limit(nlist)
      .select(unitize(asDouble(col(vecCol)))).as[Seq[Double]].collect().toIndexedSeq
  }

  /** Nearest-`probes` cell assignment as a pure projection (see
    * [[argBestCell]]); probes > 1 explodes one codegen'd top-cells kernel
    * (sim desc, index asc — same order the earlier HOF sort produced, minus
    * its interpreted per-row struct sort) — still no join and no shuffle.
    *
    * Null and wrong-width vectors are DROPPED here, uniformly for every
    * caller: best_cell is null-intolerant, so without the filter a null
    * embedding gets cent_id=null — in [[buildIndex]]/[[appendToIndex]] it
    * would land in a `__HIVE_DEFAULT_PARTITION__` cell dir that no probe
    * ever reads (silent data loss) and crash the build-time stats sample
    * decode at the END of an expensive build; in the online paths the row
    * would ride to the cell join just to be discarded there. Dropping a
    * row that cannot be assigned is the only consistent semantic, and
    * making it explicit at the source keeps the partitioned layout clean. */
  private def assignCells(df: DataFrame, id: String, vecCol: String,
                          outIdCol: String, vOut: String,
                          cents: IndexedSeq[Seq[Double]],
                          probes: Int,
                          keep: Seq[String] = Nil): DataFrame = {
    val dim = cents.head.length
    val v = unitize(asDouble(col(vecCol))).as(vOut)
    val base = df
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === lit(dim))
      .select(col(id).as(outIdCol) +: v +: keep.map(col): _*)
    if (probes <= 1) base.withColumn("cent_id", argBestCell(cents, col(vOut)))
    else {
      val (flat, nlist, dim) = flatCents(cents)
      base.select(col(outIdCol) +: col(vOut) +:
          explode(graft.functions.CentroidFunctions.top_cells(
            col(vOut), flat, nlist, dim, probes)).as("cent_id") +:
          keep.map(col): _*)
    }
  }

  /**
   * Product-quantization model: `m` subspaces x `k` centroids each, trained
   * driver-side (Lloyd iterations, farthest-point init — deterministic) on
   * a seeded sample of the corpus. Centroid table is m*k*subDim doubles —
   * a few KB that rides the scoring expressions as a codegen reference.
   */
  case class PqModel(dim: Int, m: Int, k: Int, centroids: Array[Double],
                     perm: IndexedSeq[Int] = IndexedSeq.empty,
                     rot: Array[Double] = Array.empty) {
    val subDim: Int = dim / m
  }

  /** Apply a model's input transform: learned OPQ rotation (codegen matvec,
    * the matrix rides the expression as a payload) > variance-balancing
    * permutation (pure projection) > identity. */
  private def permute(vec: Column, model: PqModel): Column =
    if (model.rot.nonEmpty)
      graft.functions.PqFunctions.mat_vec(vec, model.rot, model.dim)
    else if (model.perm.isEmpty) vec
    else array(model.perm.map(i => vec.getItem(i)): _*)

  /** Exact inverse of [[permute]]: the learned rotation is orthogonal, so
    * its inverse is the transpose (one more codegen matvec); the balancing
    * permutation inverts by index lookup; identity stays identity. */
  private def unpermute(vec: Column, model: PqModel): Column =
    if (model.rot.nonEmpty) {
      val d = model.dim
      val rt = new Array[Double](d * d)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { rt(j * d + i) = model.rot(i * d + j); j += 1 }
        i += 1
      }
      graft.functions.PqFunctions.mat_vec(vec, rt, d)
    } else if (model.perm.isEmpty) vec
    else {
      val inv = new Array[Int](model.perm.length)
      model.perm.zipWithIndex.foreach { case (p, i) => inv(p) = i }
      array(inv.toIndexedSeq.map(i => vec.getItem(i)): _*)
    }

  /** Original-space PQ reconstruction of an index row: decode the codes
    * (m array reads), invert the model transform, and for residual
    * (IVFADC) layouts add the cell centroid back — implemented as
    * [[graft.functions.PqFunctions.cell_residual]] against the NEGATED
    * coarse table (x − (−c) = x + c), so the whole reconstruction stays
    * one codegen'd projection chain. */
  private def reconstructCol(codes: Column, centId: Column, model: PqModel,
                             cents: IndexedSeq[Seq[Double]],
                             residual: Boolean): Column = {
    val dec = unpermute(graft.functions.PqFunctions.pq_decode(
      codes, model.centroids, model.k, model.subDim), model)
    if (!residual) dec
    else {
      val (flat, _, d) = flatCents(cents)
      graft.functions.PqFunctions.cell_residual(dec, centId, flat.map(-_), d)
    }
  }

  /**
   * @param opqIters when > 0, learn a true OPQ rotation (Ge et al.,
   *   "Optimized Product Quantization", CVPR 2013 — public method) by
   *   alternating minimization on the training sample: fix R, train the
   *   per-subspace codebooks on R·x; fix the codebooks, solve the orthogonal
   *   Procrustes problem min_R Σ‖R·x − reconstruction‖² in closed form (the
   *   orthogonal polar factor of Σ recon·xᵀ, computed by Higham's Newton
   *   iteration — dim×dim driver-side math, no LAPACK needed). Initialized
   *   from the variance-balancing permutation (OPQ-P init), so it is never
   *   worse than `balance=true` on the training objective. The rotation is
   *   applied at encode/query time as one codegen'd mat-vec.
   */
  def pqTrain(corpus: DataFrame, vecCol: String, dim: Int,
              m: Int = 8, k: Int = 16, iters: Int = 10,
              sampleSize: Int = 10000, balance: Boolean = true,
              opqIters: Int = 0, normalize: Boolean = true): PqModel = {
    require(dim % m == 0, s"dim $dim not divisible by m $m subspaces")
    val subDim = dim / m
    import corpus.sparkSession.implicits._
    val n = corpus.count()
    val frac = math.min(1.0, sampleSize.toDouble / math.max(1L, n))
    // normalize=false trains on the vectors as given — the residual-index
    // path, where re-normalizing a residual would destroy the magnitude
    // information the codebooks exist to capture
    val trainVec =
      if (normalize) unitize(asDouble(col(vecCol))) else asDouble(col(vecCol))
    val raw: Array[Array[Double]] = corpus
      .sample(withReplacement = false, frac, seed = 42L)
      .filter(col(vecCol).isNotNull)
      .select(trainVec).as[Seq[Double]]
      .collect().flatMap(s => Option(s).map(_.toArray)).filter(_.length == dim)
    require(raw.nonEmpty, "pqTrain: empty sample")
    // OPQ-lite: permute dims so each subspace carries ~equal variance
    // (plain PQ wastes codes when a few subspaces hold all the energy —
    // the cheap version of OPQ's learned rotation, and a pure projection
    // at encode time). Snake assignment over variance-sorted dims.
    val perm: IndexedSeq[Int] =
      if (!balance) IndexedSeq.empty
      else {
        val mean = new Array[Double](dim)
        raw.foreach { v => var j = 0; while (j < dim) { mean(j) += v(j); j += 1 } }
        (0 until dim).foreach(j => mean(j) /= raw.length)
        val varr = new Array[Double](dim)
        raw.foreach { v =>
          var j = 0
          while (j < dim) { val d = v(j) - mean(j); varr(j) += d * d; j += 1 }
        }
        val byVar = (0 until dim).sortBy(j => (-varr(j), j))
        val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
        byVar.zipWithIndex.foreach { case (d, i) =>
          val round = i / m
          val pos = if (round % 2 == 0) i % m else m - 1 - (i % m) // snake
          buckets(pos) += d
        }
        buckets.flatten.toIndexedSeq
      }
    def trainCodebooks(sample: Array[Array[Double]], kk: Int): Array[Double] = {
      val cents = new Array[Double](m * kk * subDim)
      for (sub <- 0 until m) {
        val pts = sample.map(v => java.util.Arrays.copyOfRange(v, sub * subDim, (sub + 1) * subDim))
        val cs = lloyd(pts, kk, iters)
        for (c <- 0 until kk; j <- 0 until subDim)
          cents((sub * kk + c) * subDim + j) = cs(c)(j)
      }
      cents
    }
    // decode-of-encode under given codebooks (per subspace: nearest centroid,
    // then its values) — the OPQ reconstruction target
    def reconstruct(v: Array[Double], cents: Array[Double], kk: Int): Array[Double] = {
      val out = new Array[Double](dim)
      var sub = 0
      while (sub < m) {
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < kk) {
          val off = (sub * kk + c) * subDim
          var s = 0.0; var j = 0
          while (j < subDim) { val x = v(sub * subDim + j) - cents(off + j); s += x * x; j += 1 }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        val off = (sub * kk + best) * subDim
        var j = 0
        while (j < subDim) { out(sub * subDim + j) = cents(off + j); j += 1 }
        sub += 1
      }
      out
    }
    if (opqIters <= 0) {
      val sample = if (perm.isEmpty) raw else raw.map(v => perm.map(v).toArray)
      PqModel(dim, m, k, trainCodebooks(sample, k), perm)
    } else {
      // OPQ alternating minimization. R starts at the PARAMETRIC init (Ge et
      // al. §4: eigen-decompose the sample covariance and allocate
      // eigenvectors to subspaces balancing the log-product of eigenvalues —
      // "eigenvalue allocation", the whitening-style init); the balancing
      // permutation remains the fallback for degenerate covariances.
      var R = Mat.eigenAllocInit(raw, dim, m).getOrElse(Mat.permutation(perm, dim))
      // alternation trains FINER codebooks (4x the deployment k, bounded by
      // the sample) purely to sharpen the Procrustes reconstruction target:
      // with coarse codes, whole clusters collapse to one reconstruction and
      // the rotation gradient washes out. Deployment codebooks at the user's
      // k are retrained once at the end under the final R.
      val kAlt = math.max(k, math.min(4 * k, math.max(2, raw.length / 8)))
      for (_ <- 0 until opqIters) {
        val rotated = raw.map(x => Mat.apply(R, x, dim))
        val cents = trainCodebooks(rotated, kAlt)
        // Procrustes target: Σ recon·xᵀ over the sample (recon = decoded
        // codes of the ROTATED vector, x = the ORIGINAL vector)
        val M = new Array[Double](dim * dim)
        var i = 0
        while (i < raw.length) {
          val r = reconstruct(rotated(i), cents, kAlt)
          val x = raw(i)
          var a = 0
          while (a < dim) {
            val ra = r(a); val off = a * dim
            var b = 0
            while (b < dim) { M(off + b) += ra * x(b); b += 1 }
            a += 1
          }
          i += 1
        }
        Mat.polarFactor(M, dim).foreach(R = _) // singular target: keep last R
      }
      PqModel(dim, m, k, trainCodebooks(raw.map(x => Mat.apply(R, x, dim)), k),
        IndexedSeq.empty, R)
    }
  }

  /** Driver-side dense dim×dim matrix math for OPQ (row-major arrays; dim is
    * an embedding width — 64..1024 — so cubic ops are microseconds-to-ms on
    * the driver and never touch executors). */
  private object Mat {
    /** Permutation as a rotation seed: out(i) = v(perm(i)); identity when
      * perm is empty. */
    def permutation(perm: IndexedSeq[Int], dim: Int): Array[Double] = {
      val r = new Array[Double](dim * dim)
      var i = 0
      while (i < dim) {
        r(i * dim + (if (perm.isEmpty) i else perm(i))) = 1.0
        i += 1
      }
      r
    }

    def apply(r: Array[Double], v: Array[Double], dim: Int): Array[Double] = {
      val out = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        var s = 0.0; val off = i * dim; var j = 0
        while (j < dim) { s += r(off + j) * v(j); j += 1 }
        out(i) = s; i += 1
      }
      out
    }

    private def transpose(a: Array[Double], dim: Int): Array[Double] = {
      val t = new Array[Double](dim * dim)
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { t(j * dim + i) = a(i * dim + j); j += 1 }
        i += 1
      }
      t
    }

    /** Gauss–Jordan inverse with partial pivoting; None when singular. */
    private def inverse(a0: Array[Double], dim: Int): Option[Array[Double]] = {
      val a = a0.clone()
      val inv = new Array[Double](dim * dim)
      var i = 0
      while (i < dim) { inv(i * dim + i) = 1.0; i += 1 }
      var col = 0
      while (col < dim) {
        var piv = col; var best = math.abs(a(col * dim + col))
        var r = col + 1
        while (r < dim) {
          val v = math.abs(a(r * dim + col)); if (v > best) { best = v; piv = r }; r += 1
        }
        if (best < 1e-12) return None
        if (piv != col) {
          var j = 0
          while (j < dim) {
            val t1 = a(col * dim + j); a(col * dim + j) = a(piv * dim + j); a(piv * dim + j) = t1
            val t2 = inv(col * dim + j); inv(col * dim + j) = inv(piv * dim + j); inv(piv * dim + j) = t2
            j += 1
          }
        }
        val d = a(col * dim + col)
        var j = 0
        while (j < dim) { a(col * dim + j) /= d; inv(col * dim + j) /= d; j += 1 }
        r = 0
        while (r < dim) {
          if (r != col) {
            val f = a(r * dim + col)
            if (f != 0.0) {
              var j2 = 0
              while (j2 < dim) {
                a(r * dim + j2) -= f * a(col * dim + j2)
                inv(r * dim + j2) -= f * inv(col * dim + j2)
                j2 += 1
              }
            }
          }
          r += 1
        }
        col += 1
      }
      Some(inv)
    }

    /** Eigendecomposition of a symmetric dim×dim matrix by cyclic Jacobi
      * rotations (deterministic, no LAPACK): returns (eigenvalues,
      * eigenvector matrix V with eigenvector i in COLUMN i, orthonormal).
      * None if the off-diagonal mass fails to vanish in 50 sweeps. */
    def symEigen(a0: Array[Double], dim: Int): Option[(Array[Double], Array[Double])] = {
      val a = a0.clone()
      val v = new Array[Double](dim * dim)
      var i = 0
      while (i < dim) { v(i * dim + i) = 1.0; i += 1 }
      var sweep = 0
      var converged = false
      while (sweep < 50 && !converged) {
        var off = 0.0
        for (p <- 0 until dim; q <- p + 1 until dim) off += a(p * dim + q) * a(p * dim + q)
        if (off < 1e-20) converged = true
        else {
          for (p <- 0 until dim; q <- p + 1 until dim) {
            val apq = a(p * dim + q)
            if (math.abs(apq) > 1e-300) {
              val theta = (a(q * dim + q) - a(p * dim + p)) / (2 * apq)
              val t =
                if (theta == 0.0) 1.0
                else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
              val c = 1.0 / math.sqrt(t * t + 1); val s = t * c
              // A <- Jᵀ A J on rows/cols p,q
              var j = 0
              while (j < dim) {
                val ajp = a(j * dim + p); val ajq = a(j * dim + q)
                a(j * dim + p) = c * ajp - s * ajq
                a(j * dim + q) = s * ajp + c * ajq
                j += 1
              }
              j = 0
              while (j < dim) {
                val apj = a(p * dim + j); val aqj = a(q * dim + j)
                a(p * dim + j) = c * apj - s * aqj
                a(q * dim + j) = s * apj + c * aqj
                val vjp = v(j * dim + p); val vjq = v(j * dim + q)
                v(j * dim + p) = c * vjp - s * vjq
                v(j * dim + q) = s * vjp + c * vjq
                j += 1
              }
            }
          }
          sweep += 1
        }
      }
      if (!converged) None
      else Some((Array.tabulate(dim)(i2 => a(i2 * dim + i2)), v))
    }

    /** OPQ parametric init (Ge et al. CVPR 2013 §4, "eigenvalue
      * allocation"): eigen-decompose the sample covariance, then greedily
      * hand each eigenvector (largest eigenvalue first) to the subspace
      * with the smallest running log-product of eigenvalues that still has
      * a free slot — balancing per-subspace variance PRODUCTS, which is
      * what equalizes sub-quantizer distortion under a fixed code budget.
      * R's rows are the allocated eigenvectors (orthonormal by symmetry of
      * the covariance), subspace-major. None on degenerate input. */
    def eigenAllocInit(sample: Array[Array[Double]], dim: Int,
                       m: Int): Option[Array[Double]] = {
      if (sample.length < dim) return None
      val subDim = dim / m
      val mean = new Array[Double](dim)
      sample.foreach { x => var j = 0; while (j < dim) { mean(j) += x(j); j += 1 } }
      var j = 0
      while (j < dim) { mean(j) /= sample.length; j += 1 }
      val cov = new Array[Double](dim * dim)
      sample.foreach { x =>
        var a = 0
        while (a < dim) {
          val xa = x(a) - mean(a); val off = a * dim
          var b = a
          while (b < dim) { cov(off + b) += xa * (x(b) - mean(b)); b += 1 }
          a += 1
        }
      }
      var a = 0
      while (a < dim) {
        var b = a + 1
        while (b < dim) { cov(b * dim + a) = cov(a * dim + b); b += 1 }
        a += 1
      }
      symEigen(cov, dim).map { case (evals, vcols) =>
        val order = (0 until dim).sortBy(i2 => (-evals(i2), i2))
        val bucketLog = Array.fill(m)(0.0)
        val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
        order.foreach { ei =>
          val b = (0 until m).filter(buckets(_).size < subDim)
            .minBy(b2 => (bucketLog(b2), b2))
          buckets(b) += ei
          bucketLog(b) += math.log(math.max(evals(ei), 1e-12))
        }
        val r = new Array[Double](dim * dim)
        var row = 0
        for (b <- 0 until m; ei <- buckets(b)) {
          var j2 = 0
          while (j2 < dim) { r(row * dim + j2) = vcols(j2 * dim + ei); j2 += 1 }
          row += 1
        }
        r
      }
    }

    /** Orthogonal polar factor of M (the Procrustes maximizer of tr(R·Mᵀ)…
      * equivalently argmax_R ⟨R, M⟩_F over orthogonal R) via Higham's Newton
      * iteration X ← (X + X⁻ᵀ)/2 — quadratically convergent, no SVD needed.
      * None when M is (near-)singular. */
    def polarFactor(m0: Array[Double], dim: Int): Option[Array[Double]] = {
      // scale for conditioning: X0 = M / ||M||_F
      var norm = 0.0
      m0.foreach(v => norm += v * v)
      norm = math.sqrt(norm)
      if (norm < 1e-12) return None
      var x = m0.map(_ / norm)
      var it = 0
      while (it < 50) {
        val invT = inverse(x, dim) match {
          case Some(inv) => transpose(inv, dim)
          case None      => return None
        }
        val next = new Array[Double](dim * dim)
        var i = 0
        var delta = 0.0
        while (i < dim * dim) {
          next(i) = 0.5 * (x(i) + invT(i))
          val d = next(i) - x(i); delta += d * d
          i += 1
        }
        x = next
        if (delta < 1e-24) it = 50 else it += 1
      }
      Some(x)
    }
  }

  /** Plain-Scala k-means for PQ subspaces: farthest-point init, `iters`
    * Lloyd rounds, empty cells keep their previous centroid. */
  private def lloyd(pts: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val d = pts.head.length
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < d) { val x = a(j) - b(j); s += x * x; j += 1 }
      s
    }
    // incremental farthest-point init (same shape as [[farthestPointSeeds]]
    // but in distance space): cache each point's min-dist to the chosen
    // centers, refresh against only the newest center — O(k·n·d) not O(k²·n·d)
    val cents = scala.collection.mutable.ArrayBuffer(pts.head.clone())
    val minD = Array.fill(pts.length)(Double.MaxValue)
    var newest = pts.head
    while (cents.size < k) {
      var bestIdx = 0; var bestD = -1.0
      var i = 0
      while (i < pts.length) {
        val dd = dist2(pts(i), newest)
        if (dd < minD(i)) minD(i) = dd
        if (minD(i) > bestD) { bestD = minD(i); bestIdx = i }
        i += 1
      }
      cents += pts(bestIdx).clone()
      newest = pts(bestIdx)
    }
    val cs = cents.toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < k) { val dd = dist2(p, cs(c)); if (dd < bd) { bd = dd; best = c }; c += 1 }
        counts(best) += 1
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
      }
      for (c <- 0 until k if counts(c) > 0; j <- 0 until d)
        cs(c)(j) = sums(c)(j) / counts(c)
    }
    cs
  }

  /** PQ codes of `v` (array<int>, m per vector) under `model`'s input
    * transform and codebooks — the one encode expression. */
  private def codesOf(v: Column, model: PqModel): Column =
    graft.functions.PqFunctions.pq_encode(permute(v, model),
      model.centroids, model.m, model.k, model.subDim)

  /** The m*k lookup table of query `v` under `model` — the one LUT
    * expression; a candidate's ADC score is [[adcScore]] over its codes. */
  private def lutOf(v: Column, model: PqModel): Column =
    graft.functions.PqFunctions.pq_lut(permute(v, model),
      model.centroids, model.m, model.k, model.subDim)

  private def adcScore(model: PqModel): Column =
    graft.functions.PqFunctions.pq_score(col("_lut"), col("codes"), model.k)

  /** Corpus side of PQ search: (id, codes array<int>) — m ints per vector
    * instead of dim doubles (precompute once, reuse across query batches). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               model: PqModel): DataFrame =
    corpus.select(col(idCol).as("nid"),
      codesOf(unitize(asDouble(col(vecCol))), model).as("codes"))

  /** The exhaustive compressed-domain scan of [[pqTopK]] and
    * [[pqTopKRerank]]: every (query, corpus) pair but self-pairs, as
    * (qid, nid, _psim). */
  private def pqScan(queries: DataFrame, encodedCorpus: DataFrame,
                     qidCol: String, vecCol: String, model: PqModel): DataFrame =
    queries.select(col(qidCol).as("qid"),
        lutOf(unitize(asDouble(col(vecCol))), model).as("_lut"))
      .crossJoin(encodedCorpus)
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), adcScore(model).as("_psim"))

  /**
   * PQ top-k: compressed-domain scan. Queries build an m*k lookup table
   * once; each (query, corpus) pair costs m table lookups instead of dim
   * multiply-adds (dim/m arithmetic reduction, plus the corpus resides as
   * codes — the memory-bandwidth win that makes exhaustive scans of
   * billion-vector corpora feasible). Exactness bounded by quantization;
   * compose with IVF cells for candidate pruning at even larger scale.
   *
   * Candidate-list sizing (`rerankFactor`, also in [[pqTopKRerank]] /
   * [[ivfPqTopK]]): the exact re-rank costs k*rerankFactor dots per query —
   * independent of corpus size and negligible next to the compressed scan —
   * while recall climbs steeply with it on clustered corpora (measured on
   * the bench corpus, k=1: rf=8 -> 0.76, rf=32 -> 0.90, rf=64 -> 0.97).
   * Default 64 buys the recall for free; tighten only if re-rank I/O (one
   * full-vector fetch per candidate) ever dominates.
   */
  def pqTopK(queries: DataFrame, encodedCorpus: DataFrame, qidCol: String,
             vecCol: String, model: PqModel, k: Int,
             roundTo: Int = 4): DataFrame =
    rankTail(pqScan(queries, encodedCorpus, qidCol, vecCol, model)
      .select(col("qid"), col("nid"), round(col("_psim"), roundTo).as("sim")), k)

  /**
   * PQ search with exact re-rank — the production PQ pipeline: the
   * compressed-domain scan nominates `k * rerankFactor` candidates per
   * query (cheap, m lookups/pair over the whole corpus), then exact cosine
   * re-ranks just those. Tight clusters collapse to identical codes under
   * coarse quantization (PQ scores tie), so the re-rank is what recovers
   * exact-neighbor recall; its cost is k*rerankFactor dots per query —
   * independent of corpus size.
   */
  def pqTopKRerank(queries: DataFrame, corpus: DataFrame, encodedCorpus: DataFrame,
                   qidCol: String, idCol: String, vecCol: String,
                   model: PqModel, k: Int, rerankFactor: Int = 64,
                   roundTo: Int = 4): DataFrame = {
    // tie-aware [[shortlist]] over a synthetic hash bucket (the full scan
    // has no cells): no single task ever sorts one query's full
    // corpus-sized candidate stream
    val cands = shortlist(pqScan(queries, encodedCorpus, qidCol, vecCol, model)
      .withColumn("_bkt", pmod(xxhash64(col("nid")), lit(64))), "_bkt", k * rerankFactor)
    exactRerank(cands, queries, qidCol, vecCol,
      unitRows(corpus, idCol, vecCol, "nid", "_cv"), k, roundTo)
  }

  /** The IVF-PQ quantizer (see the object doc): coarse centroids (index =
    * cent_id), PQ codebooks, and whether the codes quantize cell residuals. */
  private case class Quantizer(cents: IndexedSeq[Seq[Double]], model: PqModel,
                               residual: Boolean)

  /** `v − cents(cell)` as one codegen'd projection: the IVFADC residual. */
  private def residualOf(v: Column, cell: Column, cents: IndexedSeq[Seq[Double]]): Column = {
    val (flat, _, d) = flatCents(cents)
    graft.functions.PqFunctions.cell_residual(v, cell, flat, d)
  }

  /** Fit step: coarse centroids, then PQ codebooks — on the corpus's unit
    * vectors for raw codes, on the assigned cell residuals
    * (`normalize = false`: re-normalizing a residual would discard the
    * magnitude the codebooks exist to capture) for residual ones. */
  private def fit(corpus: DataFrame, idCol: String, vecCol: String,
                  nlist: Int, kmeansIters: Int, residual: Boolean, m: Int,
                  k: Int, opqIters: Int, sampleSize: Int): Quantizer = {
    val cents = coarseCentroids(corpus, idCol, vecCol, nlist, kmeansIters)
    val dim = cents.head.length
    val model =
      if (!residual) pqTrain(corpus, vecCol, dim, m = m, k = k,
        sampleSize = sampleSize, opqIters = opqIters)
      else pqTrain(assignCells(corpus, idCol, vecCol, "nid", "vec", cents, probes = 1)
          .withColumn("_rv", residualOf(col("vec"), col("cent_id"), cents)),
        "_rv", dim, m = m, k = k, sampleSize = sampleSize, opqIters = opqIters,
        normalize = false)
    Quantizer(cents, model, residual)
  }

  /** Encode step: `(cent_id, nid, codes, vec, keep…)` — each assignable
    * row of `rows` in its nearest cell, `vec` its unit vector. */
  private def encode(q: Quantizer, rows: DataFrame, idCol: String,
                     vecCol: String, keep: Seq[String]): DataFrame =
    withCodes(q, assignCells(rows, idCol, vecCol, "nid", "vec", q.cents,
        probes = 1, keep = keep))
      .select(col("cent_id") +: col("nid") +: col("codes") +: col("vec") +:
        keep.map(col): _*)

  /** `codes` for rows that already carry (`cent_id`, `vec`): residual codes
    * quantize `vec − cents(cent_id)`, raw codes `vec` itself. */
  private def withCodes(q: Quantizer, cells: DataFrame): DataFrame = {
    val x = if (q.residual) residualOf(col("vec"), col("cent_id"), q.cents) else col("vec")
    cells.withColumn("codes", codesOf(x, q.model))
  }

  /** Probe step: each query's `min(nprobe, nlist)` nearest cells as
    * (qid, _qv, cent_id, _lut, _cdot), `_cdot` the residual decomposition's
    * dot(q, c) — 0.0 for raw codes, which quantize v whole. */
  private def probe(q: Quantizer, queries: DataFrame, qidCol: String,
                    vecCol: String, nprobe: Int): DataFrame =
    assignCells(queries, qidCol, vecCol, "qid", "_qv", q.cents,
        probes = math.min(nprobe, q.cents.length))
      .withColumn("_lut", lutOf(col("_qv"), q.model))
      .withColumn("_cdot",
        if (!q.residual) lit(0.0)
        else {
          val (flat, _, d) = flatCents(q.cents)
          graft.functions.PqFunctions.cell_dot(col("_qv"), col("cent_id"), flat, d)
        })

  /**
   * Score step: the probed query cells join the encoded `cells` on
   * cent_id (corpus rows live in one cell, so (qid, nid) pairs are already
   * unique), self-pairs drop, and each pair scores ADC `_psim` = `_cdot` +
   * LUT lookups. Only (qid, nid, _psim) flows through the candidate-cut
   * windows: at nprobe/nlist of a 10^6+ corpus the candidate stream is
   * 10^7-10^8 rows, and carrying full-width vectors through that sort
   * multiplied its shuffle ~40x (measured 34 GB spill at the 1M bench
   * tier). The per-cell [[shortlist]] keeps the global window at <= nprobe
   * * k * rerankFactor rows per query (+ tie groups); then `cv` (nid, _cv)
   * joins back for the finalists alone ([[exactRerank]]), or, without a
   * vector source, the ADC scores rank as they are.
   */
  private def adcTopK(q: Quantizer, probed: DataFrame, cells: DataFrame,
                      queries: DataFrame, qidCol: String, vecCol: String,
                      cv: Option[DataFrame], k: Int, rerankFactor: Int,
                      roundTo: Int): DataFrame = {
    val cands = shortlist(
      probed.join(cells.select("cent_id", "nid", "codes"), Seq("cent_id"))
        .filter(col("qid") =!= col("nid"))
        .select(col("cent_id"), col("qid"), col("nid"),
          (col("_cdot") + adcScore(q.model)).as("_psim")),
      "cent_id", k * rerankFactor)
    cv match {
      case Some(v) => exactRerank(cands, queries, qidCol, vecCol, v, k, roundTo)
      case None =>
        rankTail(cands.select(col("qid"), col("nid"),
          round(col("_psim"), roundTo).as("sim"), col("_psim")), k, by = "_psim")
    }
  }

  /** The online IVF-PQ search: encode the corpus, probe, score, and
    * re-rank against the corpus's own unit vectors. */
  private def onlineSearch(q: Quantizer, queries: DataFrame, corpus: DataFrame,
                           qidCol: String, idCol: String, vecCol: String,
                           k: Int, nprobe: Int, rerankFactor: Int,
                           roundTo: Int): DataFrame =
    adcTopK(q, probe(q, queries, qidCol, vecCol, nprobe),
      encode(q, corpus, idCol, vecCol, Nil), queries, qidCol, vecCol,
      Some(unitRows(corpus, idCol, vecCol, "nid", "_cv")), k, rerankFactor, roundTo)

  /**
   * IVF-PQ: the standard billion-scale composition (Jégou, Douze &
   * Schmid, "Product Quantization for Nearest Neighbor Search",
   * IEEE TPAMI 2011 — the public IVFADC design). IVF cells prune
   * candidates (each query scores only its `nprobe` cells — corpus/nlist
   * rows per cell on average), PQ codes make in-cell scoring m lookups per
   * pair, and the exact re-rank (tie-aware, see [[pqTopKRerank]]) restores
   * exact-neighbor precision on k*rerankFactor finalists. Shuffle shape:
   * one broadcast cell assignment per side + one equi-join on cent_id —
   * no all-pairs stage anywhere. `model` codes the raw unit vectors.
   */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
                idCol: String, vecCol: String, model: PqModel, k: Int,
                nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 2,
                rerankFactor: Int = 64, roundTo: Int = 4): DataFrame =
    onlineSearch(
      Quantizer(coarseCentroids(corpus, idCol, vecCol, nlist, kmeansIters), model,
        residual = false),
      queries, corpus, qidCol, idCol, vecCol, k, nprobe, rerankFactor, roundTo)

  /**
   * Residual (IVFADC) form of [[ivfPqTopK]]: the PQ codebooks train on
   * cell residuals (zero-mean, low spread — far less code collision inside
   * tight cells), so unlike [[ivfPqTopK]] the model cannot be
   * caller-supplied: residual codebooks only exist after the coarse
   * quantizer, and [[fit]] trains both from the same deterministic inputs
   * as `buildIndex(residual = true)`.
   */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
                        idCol: String, vecCol: String, k: Int,
                        nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 2,
                        m: Int = 8, kCodes: Int = 16, opqIters: Int = 0,
                        sampleSize: Int = 10000,
                        rerankFactor: Int = 64, roundTo: Int = 4): DataFrame =
    onlineSearch(
      fit(corpus, idCol, vecCol, nlist, kmeansIters, residual = true, m, kCodes,
        opqIters, sampleSize),
      queries, corpus, qidCol, idCol, vecCol, k, nprobe, rerankFactor, roundTo)

  /**
   * Persistable IVF-PQ index — the "build once, query many" shape a large
   * corpus actually needs: every online method above retrains the
   * quantizer and re-encodes the corpus per query batch, which at 100 TB
   * means reading all of it every time. The index materializes that work
   * as parquet, laid out so Spark's own partition pruning does the cell
   * selection AT REST:
   *
   *   dir/cells/cent_id=K/  parquet rows (nid, codes, vec) — one dir per IVF cell
   *   dir/centroids/        (cent_id, centv)
   *   dir/model/            (PQ codebooks + OPQ rotation, one row)
   *
   * [[indexTopK]] assigns the query batch to its nprobe cells, collects the
   * probed-cell union (bounded: <= nlist ints, whatever the corpus size)
   * and opens ONLY those `cent_id=` subdirectories (explicit paths under a
   * basePath — the file index never lists the rest of the cells/ tree, so
   * even the LISTING cost scales with the probed set, not the corpus). At
   * nlist = sqrt(n)/2 and nprobe = sqrt(nlist), a 1e9-vector index lists
   * and reads ~0.9% of its files per batch, deterministically (no DPP
   * heuristics involved).
   */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
                 nlist: Int = 16, kmeansIters: Int = 2, m: Int = 8, k: Int = 16,
                 opqIters: Int = 0, sampleSize: Int = 10000,
                 cellSalt: Int = 1, storeVectors: Boolean = true,
                 residual: Boolean = false,
                 payloadCols: Seq[String] = Nil): Unit = {
    require(!payloadCols.exists(CellCols.contains),
      s"payloadCols collide with the index layout columns: $payloadCols")
    val q = fit(corpus, idCol, vecCol, nlist, kmeansIters, residual, m, k,
      opqIters, sampleSize)
    encode(q, corpus, idCol, vecCol, payloadCols)
      // vec rides the index so re-rank never goes back to the source table;
      // codes alone serve compressed-domain scans. storeVectors=false drops
      // it for the footprint: at 1e9 64-dim rows, stored vectors are ~0.5 TB
      // of the index vs ~10 GB of codes — queries then either return the
      // compressed-domain ranking or re-rank against the source corpus
      // (see [[indexTopK]]'s rerankCorpus).
      // attribute payload columns ride each row into its cell file, so a
      // filtered search ([[indexTopK]]'s `filter`) becomes a parquet
      // predicate INSIDE the probed cells — no corpus join at query time
      .transform(df => if (storeVectors) df else df.drop("vec"))
      // co-locate each cell before the partitioned write: without this,
      // every task writes a sliver of every cell — tasks × nlist tiny files
      // (32k at the 1M bench tier; the write took 66 s and every later
      // listing paid for it). One exchange -> ~cellSalt files per cell.
      .transform(saltedCellRepartition(_, cellSalt, nlist))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$dir/cells")
    val spark = corpus.sparkSession
    import spark.implicits._
    writeCentroids(spark, q.cents, s"$dir/centroids")
    Seq((q.model.dim, q.model.m, q.model.k, nlist, q.model.centroids.toSeq,
        q.model.perm.toSeq, q.model.rot.toSeq, residual))
      .toDF("dim", "m", "k", "nlist", "pq_centroids", "perm", "rot", "residual")
      .write.mode("overwrite").parquet(s"$dir/model")
    // the index records its own build-time health (sampled mean
    // vector->centroid cosine + max cell share) so [[indexDriftReport]]
    // has a baseline to compare appended data against
    writeCellStats(spark, dir, q.cents, sampleSize = 2000)
  }

  /** Load a [[buildIndex]] directory's quantizer: PQ model + IVF centroids
    * (both driver-bounded: m·k·subDim + nlist·dim doubles) + whether codes
    * are cell residuals. Pre-residual indexes lack the flag column → false. */
  private def loadIndexMeta(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Quantizer = {
    val mdf = spark.read.parquet(s"$dir/model")
    val mr = mdf.head()
    val model = PqModel(mr.getAs[Int]("dim"), mr.getAs[Int]("m"), mr.getAs[Int]("k"),
      mr.getAs[scala.collection.Seq[Double]]("pq_centroids").toArray,
      mr.getAs[scala.collection.Seq[Int]]("perm").toIndexedSeq,
      mr.getAs[scala.collection.Seq[Double]]("rot").toArray)
    val residual = mdf.schema.fieldNames.contains("residual") &&
      mr.getAs[Boolean]("residual")
    Quantizer(loadClusterCentroids(spark, s"$dir/centroids"), model, residual)
  }

  /**
   * Append new vectors to an existing index WITHOUT retraining: assign to
   * the stored centroids, encode with the stored codebooks, append into
   * the matching `cent_id=` partitions — the incremental-corpus story
   * (a growing corpus updates its index in one bounded pass over the NEW
   * rows only; placement and codes stay consistent with the original
   * build by construction). Quantizer drift is the operator's call:
   * rebuild when the corpus distribution shifts enough that recall decays.
   */
  def appendToIndex(rows: DataFrame, idCol: String, vecCol: String,
                    dir: String, cellSalt: Int = 1): Unit =
    encodeForIndex(rows, idCol, vecCol, dir, cellSalt)
      .write.mode("append").partitionBy("cent_id").parquet(s"$dir/cells")

  /** Refuse to re-ingest a currently-TOMBSTONED nid (the
    * [[graft.ext.Search]] postings-append guard mirrored to the ANN
    * side): its new cell rows would be anti-joined out of every query
    * (unfindable) and then physically dropped at ann-compact — silent
    * data loss. The honest sequence is delete → compact → append. One
    * bounded broadcast semi-join over the new ids. */
  private[graft] def requireNotTombstonedNids(rows: DataFrame, idCol: String,
                                              dir: String): Unit =
    indexTombstones(rows.sparkSession, dir).foreach { dels =>
      val clash = rows.select(col(idCol).as("nid"))
        .join(broadcast(dels), Seq("nid"), "left_semi").limit(1).count()
      require(clash == 0,
        s"appending ids that are tombstoned in $dir: their cell rows would " +
          "be unfindable until compaction physically drops them — run " +
          "ann-compact first, then append the corrected vectors")
    }

  /** The ANN index's tombstone set `(nid)`, if any — bounded by the
    * [[deleteFromIndex]] contract. */
  private[graft] def indexTombstones(
      spark: org.apache.spark.sql.SparkSession, dir: String): Option[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/deletes/ids")
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /**
   * Tombstone vectors out of a [[buildIndex]] directory: queries exclude
   * them IMMEDIATELY (a bounded broadcast anti-join applied to the probed
   * cells BEFORE the ADC shortlist cut, so survivors rank exactly as if
   * the rows were physically gone), and [[compactIndex]] later removes
   * the rows physically and clears the set — a takedown or re-ingest
   * correction never needs a rebuild/re-encode.
   *
   * The quantizer, codes and surviving rows are untouched, so a
   * tombstoned query is IDENTICAL to querying the physically-compacted
   * index (the spec law) — not to a from-scratch rebuild on corpus \ ids,
   * which would retrain the quantizer. An id deleted twice is recorded
   * once. Contract: the set stays bounded (it broadcasts into every
   * query until compaction), and the pipeline's id-membership guard
   * ([[graft.pipeline.CorpusPipeline]]) still sees tombstoned ids as
   * members until the compaction physically drops them — compact before
   * re-ingesting a deleted id. Offline maintenance op.
   */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      ids: DataFrame, idCol: String = "nid"): Unit = {
    val newIds0 = ids.select(col(idCol).as("nid")).distinct()
    val newIds = indexTombstones(spark, dir)
      .map(old => newIds0.join(old, Seq("nid"), "left_anti"))
      .getOrElse(newIds0)
      // pin: the lineage reads deletes/ids and the write appends to it
      .localCheckpoint()
    // a fully-redundant call must not grow the file count — each append
    // otherwise adds an empty part file the query-side broadcast re-lists
    if (newIds.count() > 0)
      newIds.write.mode("append").parquet(s"$dir/deletes/ids")
  }

  /** The core columns of an index's cell rows; anything else in the cells
    * is an attribute payload column. */
  private val CellCols = Seq("cent_id", "nid", "codes", "vec")

  /** The data columns of a [[buildIndex]] directory's cells (the partition
    * column `cent_id` lives in the paths): one parquet footer, no listing
    * of the cells/ tree and no Spark job — Spark's own schema inference
    * only where the footer read falls back. */
  private def cellsSchema(spark: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.types.StructType =
    graft.sources.EngineParquet.schema(spark, s"$dir/cells")
      .getOrElse(spark.read.parquet(s"$dir/cells").schema)

  /** Whether a [[buildIndex]] directory stores full vectors in its cells
    * (`storeVectors = true`) or codes only — a schema sniff, no data read. */
  private[graft] def indexStoresVectors(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean =
    cellsSchema(spark, dir).fieldNames.contains("vec")

  /**
   * Derive a codes-only twin of a vectors-stored index: same centroids,
   * same PQ model, same codes — the cells are rewritten without the `vec`
   * column and everything else is copied. The after-the-fact form of
   * `storeVectors = false` (shrink a 1e9-row index from ~0.5 TB of stored
   * vectors to ~10 GB of codes once a rerank corpus exists), and by
   * construction the derived index ranks the identical ADC shortlist as
   * its source — the premise the codes-only-vs-full identity law needs.
   * One partition-pruned read + partitioned write; no retraining, no
   * re-encode.
   */
  def stripVectors(spark: org.apache.spark.sql.SparkSession,
                   srcDir: String, dstDir: String, cellSalt: Int = 1): Unit = {
    require(indexStoresVectors(spark, srcDir),
      s"$srcDir is already codes-only; nothing to strip")
    val nlist = spark.read.parquet(s"$srcDir/centroids").count().toInt
    spark.read.parquet(s"$srcDir/cells").drop("vec")
      .transform(saltedCellRepartition(_, cellSalt, nlist)) // see buildIndex
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$dstDir/cells")
    for (part <- Seq("centroids", "model", "stats"))
      spark.read.parquet(s"$srcDir/$part")
        .write.mode("overwrite").parquet(s"$dstDir/$part")
  }

  /**
   * Cell-write exchange. `cellSalt = 1` (the default) gives one task —
   * hence ~one parquet file — per IVF cell, and lets AQE coalesce the
   * tiny-cell case. When a cell's rows outgrow ONE task (corpus/nlist
   * beyond executor memory: at nlist = sqrt(n)/2 a 1e10-row corpus puts
   * ~2*sqrt(n) ≈ 200k 64-dim rows in each cell, fine; but a forced-small
   * nlist or a hot skewed cell can put millions there), salt the key: the
   * exchange spreads each cell across up to `cellSalt` tasks keyed by a
   * deterministic hash of the row id, the `partitionBy("cent_id")` write
   * still lands every row under its one `cent_id=` directory — so
   * [[indexTopK]]'s static partition pruning is untouched — and each
   * directory simply holds ~`cellSalt` files. The partition count is
   * pinned (2·nlist·cellSalt, collision headroom) because an AQE-coalesced
   * salt would silently re-merge the oversized task the salt exists to
   * split. Reads never see the salt (it lives only inside the exchange).
   */
  private[graft] def saltedCellRepartition(df: DataFrame, cellSalt: Int,
                                           nlist: Int,
                                           pin: Boolean = false): DataFrame =
    if (cellSalt <= 1) {
      // pin=true: explicit partition count, AQE coalescing disabled. The
      // streaming maintainer's exactly-once commit renames staged part
      // files under names derived from their PART INDEX — a column-only
      // repartition leaves the count to AQE, which can renumber parts
      // between an original foreachBatch attempt and its replay (different
      // runtime stats), making the replay land rows under fresh file names
      // and double-ingest. Batch builds keep the column-only form: AQE
      // coalescing of tiny cells is desired there and nothing depends on
      // part numbering.
      if (pin) df.repartition(math.max(1, 2 * nlist), col("cent_id"))
      else df.repartition(col("cent_id"))
    }
    else df.repartition(math.max(1, 2 * nlist * cellSalt),
      col("cent_id"), pmod(hash(col("nid")), lit(cellSalt)))

  /**
   * `rows` as cell rows ready to write into an existing index — the one
   * write-side step of [[appendToIndex]] and the streaming maintainer
   * ([[graft.streaming.AnnIndexStream]]): refuse tombstoned ids, [[encode]]
   * under the index's STORED quantizer (no retraining), conform to the
   * index's own layout (a codes-only index must not grow a partial vec
   * column; whatever payload columns the build carried must be present on
   * `rows` under the same names), and co-locate each cell
   * ([[saltedCellRepartition]], nlist from the loaded quantizer).
   */
  private[graft] def encodeForIndex(rows: DataFrame, idCol: String,
                                    vecCol: String, dir: String,
                                    cellSalt: Int = 1,
                                    pin: Boolean = false): DataFrame = {
    val spark = rows.sparkSession
    requireNotTombstonedNids(rows, idCol, dir)
    val q = loadIndexMeta(spark, dir)
    val layout = cellsSchema(spark, dir).fieldNames.toSeq
    val payload = layout.filterNot(CellCols.contains)
    val missing = payload.filterNot(rows.columns.contains)
    require(missing.isEmpty,
      s"index at $dir carries payload columns $payload; rows are missing $missing")
    encode(q, rows, idCol, vecCol, payload)
      .transform(df => if (layout.contains("vec")) df else df.drop("vec"))
      .transform(saltedCellRepartition(_, cellSalt, q.cents.length, pin))
  }

  /** Query a [[buildIndex]] directory: same contract and (at equal knobs /
    * the same build inputs) bit-identical results to [[ivfPqTopK]] — the
    * difference is what gets READ: only the probed `cent_id=` partitions.
    * `nprobe < 0` (the default) resolves to √nlist (at least 4) from the
    * loaded index — the probed fraction shrinks as the index grows.
    *
    * Codes-only indexes (`storeVectors = false`) have no vectors to
    * re-rank on, so the exact stage depends on `rerankCorpus`:
    *  - supplied (source table + its id column): the bounded candidate set
    *    (≤ |Q|·k·rerankFactor ids) joins back to the corpus for exact
    *    similarities — Spark broadcasts the tiny candidate side, so the
    *    corpus pays one scan, not a shuffle — and results are IDENTICAL to
    *    a vectors-stored index OF THE SAME CODE LAYOUT (same `residual`
    *    setting): both layouts then rank the same ADC shortlist, and the
    *    exact rerank maps equal shortlists to equal results (same vectors,
    *    same tie order). Across code layouts (residual vs raw) the
    *    identity does NOT survive a binding k·rerankFactor cut — different
    *    codes nominate different shortlists, so cross-layout agreement is
    *    the PQ shortlist recall, a bound, not an equality (pinned by the
    *    binding-cut law in SimilaritySpec). The corpus's
    *    embedding column is `rerankVecCol` when given, else the QUERY
    *    frame's `vecCol` name;
    *  - absent: the compressed-domain ranking is returned as-is (`sim` is
    *    the PQ-approximate cosine; nid-ascending tie order). Honest about
    *    what an ADC-only scan can promise — recall at equal k·rerankFactor
    *    is the PQ recall, not 1.0.
    *
    * Attribute-filtered search ("nearest among docs WHERE lang = 'en'"):
    * pass `filter`, a predicate over the index's payload columns (stored
    * by [[buildIndex]]'s `payloadCols`). It is applied INSIDE the probed
    * cell scan — a parquet pushdown, so non-matching rows never reach the
    * scoring join — and the candidate cut ranks only matching rows, so at
    * a given probe set the result equals post-filtering an infinite-k
    * unfiltered search. What a predicate CAN cost is probe coverage: the k
    * nearest matching neighbors live further out than the k nearest
    * overall, so pass `filterSelectivity` (the estimated matching
    * fraction, e.g. 0.1 for a 10% language) and the probe count scales by
    * 1/selectivity (clamped to nlist) to keep effective per-query
    * candidate depth comparable to the unfiltered search.
    */
  def indexTopK(queries: DataFrame, dir: String, qidCol: String, vecCol: String,
                k: Int, nprobe: Int = -1, rerankFactor: Int = 64,
                roundTo: Int = 4, rerankCorpus: Option[DataFrame] = None,
                rerankIdCol: String = "", rerankVecCol: String = "",
                filter: Option[Column] = None,
                filterSelectivity: Double = 1.0): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(filterSelectivity > 0 && filterSelectivity <= 1.0,
      s"filterSelectivity must be in (0, 1], got $filterSelectivity")
    val q = loadIndexMeta(spark, dir)
    val nlist = q.cents.length
    val baseProbe =
      if (nprobe > 0) nprobe
      else math.max(4, math.sqrt(nlist.toDouble).round.toInt)
    val effProbe =
      if (filter.isEmpty) baseProbe
      else math.min(nlist, math.ceil(baseProbe / filterSelectivity).toInt)
    val probed = probe(q, queries, qidCol, vecCol, effProbe)
    // bounded driver collect by construction (<= nlist ints): the probed
    // union selects which cell DIRECTORIES the scan opens. Listing only
    // those paths (basePath keeps cent_id a partition column) matters
    // beyond the partition filter: `read.parquet(cells)` would build an
    // InMemoryFileIndex over the ENTIRE cells/ tree before any pruning —
    // at 1e9 vectors that full listing is paid per query batch even though
    // ~99% of the files are then skipped. Existence is probed per cell
    // (<= nlist RPCs, driver-bounded) because a centroid's cell dir is
    // absent when no vector ever landed there.
    val cellIds = probed.select("cent_id").distinct().as[Int].collect().sorted
    val cellsRoot = s"$dir/cells"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val probedPaths = cellIds.map(c => s"$cellsRoot/cent_id=$c")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    val cells0 =
      if (probedPaths.isEmpty) // all probed cells empty: nothing to scan
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          cellsSchema(spark, dir).add("cent_id", "int"))
      else spark.read.option("basePath", cellsRoot).parquet(probedPaths: _*)
        // belt-and-braces static partition filter on top of the explicit
        // listing: free (the listed paths already satisfy it), keeps the
        // probe set visible in the plan's PartitionFilters, and guards
        // against a stray dir sneaking into a glob-expanded path set
        .where(col("cent_id").isin(cellIds.map(_.asInstanceOf[Any]): _*))
    // attribute predicate INSIDE the probed scan: pushes to the parquet
    // reader (payload columns are plain row columns in the cell files)
    val cells1 = filter.map(cells0.where).getOrElse(cells0)
    // tombstones out BEFORE the shortlist cut (bounded broadcast
    // anti-join), so the ranking is exactly the physically-compacted one
    val cells = indexTombstones(spark, dir)
      .map(d => cells1.join(broadcast(d), Seq("nid"), "left_anti"))
      .getOrElse(cells1)
    val cv: Option[DataFrame] =
      if (cells.schema.fieldNames.contains("vec"))
        Some(cells.select(col("nid"), col("vec").as("_cv")))
      else rerankCorpus.map { corpus =>
        require(rerankIdCol.nonEmpty,
          "rerankCorpus needs rerankIdCol (the corpus id column)")
        val rvc = if (rerankVecCol.nonEmpty) rerankVecCol else vecCol
        unitRows(corpus, rerankIdCol, rvc, "nid", "_cv")
      }
    adcTopK(q, probed, cells, queries, qidCol, vecCol, cv, k, rerankFactor, roundTo)
  }

  /**
   * Compact a [[buildIndex]] directory: append/streaming maintenance
   * accumulates one file per (cell, batch); this rewrites each cell back
   * to ~`cellSalt` files (default one — raise it when a cell outgrows a
   * single task, see [[saltedCellKey]]) through
   * [[graft.sink.FsAtomic.replaceDir]], behind a row-count integrity gate
   * (a failed rewrite leaves the original cells intact).
   * Returns (filesBefore, filesAfter).
   */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   dir: String, cellSalt: Int = 1): (Long, Long) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val cells = new org.apache.hadoop.fs.Path(s"$dir/cells")
    graft.sink.FsAtomic.heal(fs, cells)
    val before = graft.sink.ShardState.countDataFiles(fs, cells)
    // physical removal of tombstoned rows rides the rewrite ([[deleteFromIndex]])
    val data0 = spark.read.parquet(cells.toString)
    val data = indexTombstones(spark, dir)
      .map(d => data0.join(broadcast(d), Seq("nid"), "left_anti"))
      .getOrElse(data0)
    val total = data.count()
    val nlist =
      if (cellSalt <= 1) 0
      else spark.read.parquet(s"$dir/centroids").count().toInt
    graft.sink.FsAtomic.replaceDir(fs, cells) { staging =>
      data.transform(saltedCellRepartition(_, cellSalt, nlist))
        .write.partitionBy("cent_id").parquet(staging.toString)
      val rewritten = spark.read.parquet(staging.toString).count()
      if (rewritten != total) throw new IllegalStateException(
        s"index compaction aborted: rewrote $rewritten of $total rows; cells left intact")
    }
    // tombstoned rows are physically gone now — retire the set
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/deletes"), true)
    (before, graft.sink.ShardState.countDataFiles(fs, cells))
  }

  /** Index health at build time and now — the rebuild trigger. */
  case class IndexDrift(builtRows: Long, rowsNow: Long,
                        builtAvgCos: Double, avgCosNow: Double,
                        builtMaxCellFrac: Double, maxCellFracNow: Double,
                        retrainAdvised: Boolean)

  /**
   * Quantizer drift probe for a [[buildIndex]] directory: the stored
   * quantizer was trained on the corpus as it was at build time; appended
   * data from a shifted distribution quietly degrades recall (vectors land
   * in cells whose centroid no longer represents them) and skews cell
   * sizes (hot cells -> join fan-out). Two bounded signals, compared to
   * the build-time stats the index recorded about itself:
   *
   *  - mean cosine of a seeded sample to its assigned centroid (recall
   *    proxy — drops as the quantizer stops fitting)
   *  - largest cell's share of all rows (skew proxy — grows as new data
   *    concentrates where the quantizer has no resolution)
   *
   * `retrainAdvised` when the mean cosine fell by more than `cosDropTol`
   * (relative) or the max-cell share grew by more than `skewGrowTol`
   * (relative). Pure report — rebuilding is the operator's call.
   */
  def indexDriftReport(spark: org.apache.spark.sql.SparkSession, dir: String,
                       sampleSize: Int = 2000, cosDropTol: Double = 0.05,
                       skewGrowTol: Double = 0.5): IndexDrift = {
    val cents = loadClusterCentroids(spark, s"$dir/centroids")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    // indexes built before the stats table self-heal: record the CURRENT
    // state as the baseline (healthy by definition — there is nothing
    // older to compare against) so the next probe has one
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/stats"))) {
      val (rows, avgCos, maxFrac) = writeCellStats(spark, dir, cents, sampleSize)
      return IndexDrift(rows, rows, avgCos, avgCos, maxFrac, maxFrac,
        retrainAdvised = false)
    }
    val stats = spark.read.parquet(s"$dir/stats").head()
    val builtRows = stats.getAs[Long]("rows")
    val builtAvgCos = stats.getAs[Double]("avg_cos")
    val builtMaxFrac = stats.getAs[Double]("max_cell_frac")
    val (rowsNow, avgCosNow, maxFracNow) =
      cellStats(spark.read.parquet(s"$dir/cells"), cents, sampleSize)
    val drifted = (builtAvgCos > 0 &&
        (builtAvgCos - avgCosNow) / builtAvgCos > cosDropTol) ||
      (builtMaxFrac > 0 && (maxFracNow - builtMaxFrac) / builtMaxFrac > skewGrowTol)
    IndexDrift(builtRows, rowsNow, builtAvgCos, avgCosNow,
      builtMaxFrac, maxFracNow, drifted)
  }

  /**
   * Split one hot IVF cell in place — the targeted answer to the skew
   * [[indexDriftReport]] detects. Appended data concentrating in one cell
   * makes that cell's join fan-in (and every probe that touches it) pay
   * corpus-sized costs; a full [[buildIndex]] rebuild re-trains and
   * re-encodes EVERYTHING to fix one neighborhood. This instead:
   *
   *  1. trains `sub` sub-centroids on the target cell's own rows (same
   *     bounded seeded driver sample + spherical Lloyd as the main
   *     quantizer),
   *  2. reassigns only that cell's rows (argmax dot — a projection, no
   *     shuffle beyond the partitioned rewrite), PQ codes ride unchanged
   *     (they encode the vector, not the cell),
   *  3. renumbers so ids stay contiguous: sub-cell 0 keeps the old id,
   *     the rest take nlist, nlist+1, … (loadIndexMeta's position==id
   *     invariant survives), and
   *  4. swaps the new cell dirs in and rewrites the centroids table —
   *     same write-new / stage-aside / swap / delete discipline as
   *     [[compactIndex]], with a row-count integrity gate.
   *
   * Offline operation like compaction: a concurrent reader mid-swap can
   * see a reduced-recall window (new sub-cells exist before the centroids
   * table lists them), never wrong data. Returns the new cell ids
   * (head = the reused target id). `centId = -1` picks the hottest cell.
   *
   * Codes-only (storeVectors=false) indexes split too: sub-centroids train
   * on the PQ RECONSTRUCTIONS of the cell's rows ([[reconstructCol]] —
   * decode + inverse transform + cell centroid for residual layouts), so
   * no rebuild and no corpus access is needed. Reconstructions carry the
   * quantizer's error, so placements near a sub-cell boundary can differ
   * from exact ones — supply `rerankCorpus`/`rerankIdCol`/`rerankVecCol`
   * (the source-of-truth table, same contract as [[indexTopK]]'s rerank)
   * to train and place against EXACT vectors; rows absent from the rerank
   * corpus fall back to their reconstruction.
   */
  def splitCell(spark: org.apache.spark.sql.SparkSession, dir: String,
                centId: Int = -1, sub: Int = 2,
                kmeansIters: Int = 2,
                rerankCorpus: Option[DataFrame] = None,
                rerankIdCol: String = "",
                rerankVecCol: String = ""): Seq[Int] = {
    require(sub >= 2, s"sub=$sub: splitting needs at least 2 sub-cells")
    val q = loadIndexMeta(spark, dir)
    val nlist = q.cents.length
    val target =
      if (centId >= 0) centId
      else spark.read.parquet(s"$dir/cells").groupBy("cent_id").count()
        .orderBy(col("count").desc, col("cent_id").asc).head().getInt(0)
    require(target < nlist, s"cent_id=$target does not exist (nlist=$nlist)")
    val storesVec = indexStoresVectors(spark, dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val cellPath = new org.apache.hadoop.fs.Path(s"$dir/cells/cent_id=$target")
    // (nid, codes[, vec]) — the partition column lives in the path, not the
    // files. For codes-only cells a `vec` column is materialized here from
    // the exact rerank corpus when supplied, else the PQ reconstruction.
    val rows0 = spark.read.parquet(cellPath.toString)
    val rows = (
      if (storesVec) rows0
      else {
        val recon = reconstructCol(col("codes"), lit(target), q.model, q.cents, q.residual)
        rerankCorpus match {
          case Some(corpus) =>
            require(rerankIdCol.nonEmpty && rerankVecCol.nonEmpty,
              "codes-only split with a rerankCorpus needs rerankIdCol and rerankVecCol")
            val exact = corpus.select(col(rerankIdCol).as("nid"),
              unitize(asDouble(col(rerankVecCol))).as("_xv"))
            rows0.join(exact, Seq("nid"), "left")
              .withColumn("vec", coalesce(col("_xv"), recon)).drop("_xv")
          case None => rows0.withColumn("vec", recon)
        }
      }).cache()
    val total = rows.count()
    val subCents = kmeansArray(rows, "nid", "vec", sub, kmeansIters)
    val newIds: IndexedSeq[Int] =
      target +: (nlist until nlist + sub - 1).toIndexedSeq
    val idLut = array(newIds.map(lit): _*)
    val staging = new org.apache.hadoop.fs.Path(s"$dir/cells-splitting")
    val aside = new org.apache.hadoop.fs.Path(s"$dir/.split-old-cent_id=$target")
    fs.delete(staging, true); fs.delete(aside, true)
    val updatedCents: IndexedSeq[Seq[Double]] =
      q.cents.updated(target, subCents.head) ++ subCents.tail
    val reassigned = rows.withColumn("cent_id",
      element_at(idLut, argBestCell(subCents, col("vec")) + 1))
    // raw codes encode the vector alone and ride unchanged; residual codes
    // encode (vec − cellCentroid), so a moved row re-encodes against its
    // new sub-centroid
    (if (q.residual) withCodes(q.copy(cents = updatedCents), reassigned) else reassigned)
      // codes-only cells must not grow the materialized training vec;
      // attribute payload columns (if the build carried any) ride through
      .select(col("cent_id") +: col("nid") +: col("codes") +:
        ((if (storesVec) Seq(col("vec")) else Nil) ++
          rows0.columns.toSeq.filterNot(CellCols.contains)
            .map(col)): _*)
      .transform(saltedCellRepartition(_, cellSalt = 1, nlist = sub))
      .write.mode("overwrite").partitionBy("cent_id").parquet(staging.toString)
    val rewritten = spark.read.parquet(staging.toString).count()
    rows.unpersist()
    if (rewritten != total) {
      fs.delete(staging, true)
      throw new IllegalStateException(
        s"cell split aborted: rewrote $rewritten of $total rows; cell left intact")
    }
    if (!fs.rename(cellPath, aside))
      throw new IllegalStateException(s"could not stage $cellPath aside")
    for (d <- fs.listStatus(staging) if d.isDirectory) {
      val dest = new org.apache.hadoop.fs.Path(s"$dir/cells/${d.getPath.getName}")
      if (!fs.rename(d.getPath, dest)) {
        fs.rename(aside, cellPath) // best-effort restore of the original cell
        throw new IllegalStateException(s"swap failed at ${d.getPath}; original cell restored")
      }
    }
    writeCentroids(spark, updatedCents, s"$dir/centroids")
    fs.delete(aside, true); fs.delete(staging, true)
    // re-baseline the index's self-recorded health: the split changed the
    // layout on purpose, so the next drift probe should measure against
    // the post-split state (otherwise a maintenance loop re-triggers on
    // the same already-fixed skew)
    writeCellStats(spark, dir, updatedCents, sampleSize = 2000)
    newIds
  }

  /** What [[maintainIndex]] did (or advises). */
  sealed trait MaintainAction
  case object Healthy extends MaintainAction
  case class Split(cellIds: Seq[Int], maxFracBefore: Double,
                   maxFracAfter: Double) extends MaintainAction
  case object RebuildAdvised extends MaintainAction

  /**
   * One maintenance pass — the detect→act loop over the index's own
   * health signals ([[indexDriftReport]]):
   *
   *  - cosine drop (quantizer no longer fits the data): nothing to fix in
   *    place — returns [[RebuildAdvised]];
   *  - skew growth (appends concentrated in a hot cell): [[splitCell]]s
   *    the hottest cell and re-baselines, returns [[Split]] with the
   *    before/after max-cell share (codes-only indexes split on their PQ
   *    reconstructions);
   *  - neither: [[Healthy]], no writes.
   *
   * Idempotent by construction: a successful split re-baselines the
   * stats, so the next pass measures against the fixed layout instead of
   * re-triggering on it.
   */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    sub: Int = 2, cosDropTol: Double = 0.05,
                    skewGrowTol: Double = 0.5): MaintainAction = {
    val d = indexDriftReport(spark, dir,
      cosDropTol = cosDropTol, skewGrowTol = skewGrowTol)
    val cosDropped = d.builtAvgCos > 0 &&
      (d.builtAvgCos - d.avgCosNow) / d.builtAvgCos > cosDropTol
    val skewGrown = d.builtMaxCellFrac > 0 &&
      (d.maxCellFracNow - d.builtMaxCellFrac) / d.builtMaxCellFrac > skewGrowTol
    if (cosDropped) RebuildAdvised
    else if (!skewGrown) Healthy
    else {
      // codes-only indexes split on PQ reconstructions (see [[splitCell]]) —
      // skew repair no longer forces a rebuild for the lean layout
      val ids = splitCell(spark, dir, sub = sub)
      val after = indexDriftReport(spark, dir)
      Split(ids, d.maxCellFracNow, after.maxCellFracNow)
    }
  }

  /** [[cellStats]] of a [[buildIndex]] directory's cells against `cents`,
    * recorded as its health baseline in `dir/stats` and returned. */
  private def writeCellStats(spark: org.apache.spark.sql.SparkSession, dir: String,
                             cents: IndexedSeq[Seq[Double]],
                             sampleSize: Int): (Long, Double, Double) = {
    import spark.implicits._
    val st = cellStats(spark.read.parquet(s"$dir/cells"), cents, sampleSize)
    Seq(st).toDF("rows", "avg_cos", "max_cell_frac")
      .write.mode("overwrite").parquet(s"$dir/stats")
    st
  }

  /** (rows, sampled mean vector->assigned-centroid cosine, max cell share)
    * over an index cells frame — one count, one bare-key count agg, one
    * bounded sample collect (vectors are unit, so cosine = dot). */
  private def cellStats(cells: DataFrame, cents: IndexedSeq[Seq[Double]],
                        sampleSize: Int): (Long, Double, Double) = {
    import cells.sparkSession.implicits._
    val n = cells.count()
    if (n == 0) return (0L, 0.0, 0.0)
    val maxCell = cells.groupBy("cent_id").count()
      .agg(max("count")).head().getLong(0)
    // codes-only index (storeVectors=false): no vectors to sample, so the
    // cosine health signal degenerates to 0 on both sides of the drift
    // comparison — skew detection (and the split it advises) still works
    if (!cells.schema.fieldNames.contains("vec"))
      return (n, 0.0, maxCell.toDouble / n)
    val frac = math.min(1.0, sampleSize.toDouble / n)
    val sample = cells.sample(withReplacement = false, frac, seed = 11L)
      .select(col("cent_id"), col("vec")).as[(Int, Seq[Double])].collect()
    val avg =
      if (sample.isEmpty) 0.0
      else sample.map { case (c, v) =>
        val cv = cents(c)
        var d = 0.0; var j = 0
        while (j < cv.length && j < v.length) { d += cv(j) * v(j); j += 1 }
        d
      }.sum / sample.length
    (n, avg, maxCell.toDouble / n)
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, id_a < id_b.
    * Brute variant: exact all-pairs, for audits and as the oracle for the
    * bucketed path — O(n^2), guarded by `maxRows` (raise it explicitly for
    * a deliberate big audit; the scale path is [[cosineNearDupsLsh]]). */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, roundTo: Int = 4,
                     maxRows: Long = 100000L): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"cosineNearDups is all-pairs (n=$n, ${n * n} pairs); " +
        s"use cosineNearDupsLsh at this size or raise maxRows explicitly")
    val a = df.select(col(idCol).as("id_a"), unitize(asDouble(col(vecCol))).as("_va"))
    val b = df.select(col(idCol).as("id_b"), unitize(asDouble(col(vecCol))).as("_vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("_va"), col("_vb")), roundTo).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Drop rows belonging to oversized (_table, _sig) buckets without ever
    * shuffling the row payloads: sizes from a bare-key partial+final count
    * (the vector columns are pruned out of that branch), oversized keys —
    * ≤ n/maxBucket of them by construction — broadcast into a LeftAnti
    * hash join. Output rows identical to the count-window formulation. */
  private def oversizedGuard(sigs: DataFrame, maxBucket: Int): DataFrame = {
    val big = sigs.groupBy("_table", "_sig").count()
      .filter(col("count") > maxBucket)
      .select(col("_table"), col("_sig"))
    sigs.join(broadcast(big), Seq("_table", "_sig"), "left_anti")
  }

  /** Scale-aware LSH knobs (tables, bits) for [[cosineNearDupsLsh]].
    * The join work is Σ_buckets size²/2, so FIXED bits turn quadratic as
    * the corpus grows: 8 bits at 1M rows means ~3.9k-row buckets ≈ 15e9
    * candidate dot products (measured 290+ s at 1M×32 — the round-11
    * pipeline_full_1m dominant stage), where ~64-row buckets at the same
    * scale cost ~0.7e9. `bits` is therefore sized so buckets average
    * ~`targetBucket` rows (log2(n/targetBucket), clamped to [8, 20]), and
    * `tables` so a TRUE pair at cos = threshold still collides somewhere
    * with probability ≥ `targetRecall`:
    * p1 = (1 − acos(t)/π)^bits, tables = ⌈ln(1−R)/ln(1−p1)⌉, clamped to
    * [4, 40]. EXACT duplicates (cos = 1) collide in every table at any
    * knob setting, so planted-dup recall is 1.0 regardless — the recall
    * target only governs borderline pairs AT the threshold.
    *
    * The clamps are cost ceilings, not free: when the UNclamped tables
    * exceed 40 (very large n at a high threshold, e.g. n=100M/t=0.9 wants
    * bits=20 → ~65 tables) the analytic at-threshold recall lands BELOW
    * `targetRecall` (~0.84 in that example) — a loud WARN is logged with
    * the achieved recall so the shortfall is visible; callers needing the
    * full target can raise `targetBucket` (shallower bits → fewer tables
    * per unit recall, at more dots per bucket).
    *
    * `strict = true` makes the recall target a FLOOR instead of a WARN:
    * `targetBucket` doubles (shallower signatures — each table catches
    * more, so fewer tables buy the same recall) until the analytic
    * at-threshold recall meets `targetRecall` inside the table clamp.
    * n=100M/t=0.9 resolves to (35 tables, 16 bits): recall 0.953 at ~32×
    * the candidate-join work of the clamped 64-row buckets — the honest
    * price of the floor, paid knowingly instead of silently under-
    * recalling. Throws (never silently degrades) if even the 8-bit floor
    * cannot meet the target — a threshold too low for LSH to serve. */
  def autoLshKnobs(n: Long, threshold: Double, targetRecall: Double = 0.95,
                   targetBucket: Long = 64, strict: Boolean = false): (Int, Int) = {
    require(targetRecall > 0 && targetRecall < 1, "targetRecall in (0,1)")
    val t = math.max(-1.0, math.min(1.0, threshold))
    def knobsAt(tb: Long): (Int, Int, Int, Double) = {
      val bits = math.max(8, math.min(20, math.ceil(
        math.log(math.max(1.0, n.toDouble / tb)) / math.log(2.0)).toInt))
      val p1 = math.pow(1.0 - math.acos(t) / math.Pi, bits)
      val wanted = math.ceil(
        math.log(1.0 - targetRecall) / math.log(1.0 - p1)).toInt
      val tables = math.max(4, math.min(40, wanted))
      val achieved = 1.0 - math.pow(1.0 - p1, tables)
      (tables, bits, wanted, achieved)
    }
    var tb = targetBucket
    var (tables, bits, wanted, achieved) = knobsAt(tb)
    if (strict) {
      // shallower bits per doubling; bits bottoms out at 8, where recall
      // is as high as the family gets — past that the target is unmeetable
      while (achieved < targetRecall && bits > 8) {
        tb *= 2
        val k = knobsAt(tb); tables = k._1; bits = k._2; wanted = k._3
        achieved = k._4
      }
      require(achieved >= targetRecall,
        f"autoLshKnobs strict: recall $targetRecall%.2f unreachable at " +
          f"threshold $threshold (best achievable $achieved%.3f at bits=8, " +
          "tables=40) — lower targetRecall or use a higher threshold")
      if (tb != targetBucket)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"autoLshKnobs strict(n=$n, t=$threshold): targetBucket raised " +
            f"$targetBucket -> $tb (bits=$bits, tables=$tables) to meet " +
            f"recall $targetRecall%.2f (achieved $achieved%.3f) — " +
            f"~${tb / targetBucket}x the candidate-join work")
    } else if (wanted > 40) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"autoLshKnobs(n=$n, t=$threshold): tables clamped $wanted -> 40; " +
          f"analytic at-threshold recall $achieved%.3f < target $targetRecall%.2f " +
          "(exact dups still collide everywhere; raise targetBucket to trade " +
          "bucket size for recall, or pass strict = true to make the " +
          "target a floor)")
    }
    (tables, bits)
  }

  /**
   * Scale path for embedding near-dup: random-hyperplane LSH prefilter +
   * exact verify. Candidates = pairs sharing a full `bits`-bit signature in
   * ANY of `tables` tables (an equi-join on (table, sig) — near-dup pairs
   * at threshold t collide in one table with prob (1 - acos(t)/pi)^bits, so
   * tables x that is the recall knob; at the defaults, a cos=0.90 pair is
   * found with p ~ 0.94 and a cos=0.95 pair with p ~ 0.99).
   * `tables = 0` / `bits = 0` = AUTO: one count() of `df` sizes the knobs
   * via [[autoLshKnobs]] — the scale-correct setting for corpora whose
   * size the caller doesn't know statically (the pipeline passes this).
   * Same output contract as [[cosineNearDups]] minus LSH misses.
   *
   * Shuffle discipline (the part that matters at scale): the exact cosine
   * is computed INSIDE the join projection and thresholded immediately, so
   * the only rows that ever reach the (id_a, id_b) dedup shuffle are
   * accepted pairs as bare (id, id, sim) triplets. The first cut of this
   * routine deduped BEFORE verifying and dragged both 64-dim vectors
   * through the shuffle — 38 GB shuffled / 72 GB spilled on the 10k-row
   * bench corpus vs ~40 MB now. Re-verifying a pair once per colliding
   * table costs a few extra dots per duplicate — nothing next to a
   * vector-payload shuffle. When the corpus' unit-vector table fits the
   * broadcast-verify budget the vectors do not shuffle at all (see
   * [[lshPairs]]).
   *
   * `maxBucket` caps degenerate buckets (all-identical corpora) the same way
   * Dedup.minHashNearDups does.
   *
   * `shuffleFloat32` (opt-in): carry the unit vector through the
   * signature exchange (or the verify broadcast) as float32 instead of
   * float64, halving its bytes (at 10M rows x 32 dims x strict knobs the
   * float64 exchange is ~98 GB — past a 100 GB-class local disk; float32
   * is ~52 GB). The verify dot still accumulates in double after a cast;
   * the per-component rounding (~1e-7 relative) perturbs `sim` in the
   * ~6th decimal, so a pair within 1e-6 of `threshold` can flip vs the
   * float64 path. Correct for dedup thresholds (0.9/0.95 with planted
   * margins); keep OFF anywhere an oracle pins exact float sequences.
   *
   * `passes > 1` bounds scratch disk: the tables run as `passes`
   * SEQUENTIAL groups, each pass shuffling only its group's signatures —
   * the peak exchange + sort-spill footprint divides by `passes` while
   * total work (and recall: the union of the groups is the same table
   * set, and a pair's accepted `sim` is identical from every table) is
   * unchanged. Each pass's accepted pairs are localCheckpoint'ed (lineage
   * truncation releases that pass's shuffle files to the ContextCleaner
   * before the next pass starts — the whole point; a lazy union would pin
   * every pass's shuffle on disk at once), then the bounded accepted-pair
   * union dedupes once. Use it where tables × n × vectorBytes approaches
   * local scratch (the measured point: 10M × 32 dims at the strict-recall
   * knobs (35, 16) is a ~50 GB float32 exchange + comparable SMJ spill —
   * past an ~80 GB scratch disk in one pass, comfortable in 5). On a
   * cluster, passes also bound the per-stage shuffle a single executor
   * wave must absorb.
   */
  def cosineNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, dim: Int, tables: Int = 8,
                        bits: Int = 8, roundTo: Int = 4,
                        maxBucket: Int = 10000,
                        strictRecall: Boolean = false,
                        shuffleFloat32: Boolean = false,
                        passes: Int = 1): DataFrame = {
    require(passes >= 1, "passes must be >= 1")
    val (tablesR, bitsR, bcast) =
      lshPlan(Seq(df), threshold, dim, tables, bits, strictRecall)
    require(passes <= tablesR, s"passes ($passes) > tables ($tablesR)")
    def pairs(tableIds: Seq[Int]) = lshPairs(df, None, idCol, idCol, vecCol,
      threshold, dim, tableIds, bitsR, roundTo, maxBucket, shuffleFloat32, bcast)
    val accepted =
      if (passes == 1) pairs(0 until tablesR)
      else (0 until tablesR).grouped((tablesR + passes - 1) / passes).toSeq.map { group =>
        val pass = pairs(group).localCheckpoint() // eager: materializes + truncates lineage
        // the pass's shuffle files are now unreferenced; nudge the
        // ContextCleaner so they leave the disk before the next pass fills it
        System.gc()
        pass
      }.reduce(_ unionByName _)
    accepted.groupBy("id_a", "id_b").agg(first("sim").as("sim"))
  }

  /**
   * Cross-corpus near-dup: pairs (left id, right id) with cosine >=
   * threshold — "which incoming documents already exist in the accepted
   * corpus", the batch complement of the streaming incremental dedup. The
   * [[cosineNearDupsLsh]] job with two corpora: both sides bucket once,
   * candidates are bucket collisions only, verify is exact, and the
   * vectors either ride one exchange or (when both sides' tables fit the
   * budget) none. Auto knobs (`tables = 0` / `bits = 0`) size by the
   * LARGER side — per-candidate work is left_bucket × right_bucket per
   * signature, so the bigger corpus's bucket size is the hazard. Typical
   * use: anti-join `left` on the returned `id_l` to keep only novel rows.
   */
  def crossCorpusNearDups(left: DataFrame, right: DataFrame,
                          leftId: String, rightId: String, vecCol: String,
                          threshold: Double, dim: Int, tables: Int = 8,
                          bits: Int = 8, roundTo: Int = 4,
                          maxBucket: Int = 10000): DataFrame = {
    val (tablesR, bitsR, bcast) =
      lshPlan(Seq(left, right), threshold, dim, tables, bits, strict = false)
    lshPairs(left, Some(right), leftId, rightId, vecCol, threshold, dim,
        0 until tablesR, bitsR, roundTo, maxBucket, float32 = false, bcast)
      .groupBy(col("id_a").as("id_l"), col("id_b").as("id_r"))
      .agg(first("sim").as("sim"))
  }

  /** The one place an LSH near-dup job resolves its knobs and its verify
    * strategy: `(tables, bits, broadcastVerify)`. Each side is counted at
    * most once, and only when auto knobs (`tables = 0` or `bits = 0`,
    * sized by the larger side) or an enabled broadcast budget need it.
    *
    * Broadcast-verify (guide §8 "broadcast the plan" / §3.1) is chosen when
    * the unit-vector tables of every side fit the budget together: the LSH
    * candidate join then shuffles BARE (id, table, sig) rows — ~24 bytes
    * each instead of the 8·dim-byte unit vector every signature row
    * otherwise carries — and the exact-verify dot reads both vectors from
    * broadcast hash relations instead. The estimate is the UnsafeRow
    * footprint of (id, array<double> dim) per row, against
    * [[broadcastVerifyBudget]]; at corpus sizes past it (the 10M+ tiers,
    * any 100 TB-class corpus) the vector-carrying exchange remains the
    * scale path, staged when scratch disk binds. */
  private def lshPlan(sides: Seq[DataFrame], threshold: Double, dim: Int,
                      tables: Int, bits: Int,
                      strict: Boolean): (Int, Int, Boolean) = {
    lazy val counts = sides.map(_.count())
    val (tablesR, bitsR) =
      if (tables == 0 || bits == 0)
        autoLshKnobs(counts.max, threshold, strict = strict)
      else (tables, bits)
    val budget = broadcastVerifyBudget(sides.head.sparkSession)
    (tablesR, bitsR, budget > 0 && counts.sum * (8L * dim + 56L) <= budget)
  }

  /** The broadcast-verify budget in bytes (0 = broadcast-verify off):
    * the knob `spark.graft.lsh.broadcastVerifyMaxBytes` (default 1g, 0
    * disables) bounds what each executor must hold, the same budget
    * conversation as `autoBroadcastJoinThreshold`. The broadcast table is
    * collected through the driver, so `spark.driver.maxResultSize` (default
    * 1g, 0 = unlimited) bounds it too: a table the knob admits but that
    * limit refuses would abort the job. The budget is therefore the knob,
    * clamped to 3/4 of `maxResultSize`: the quarter left covers the
    * collected rows' framing beyond the row-size estimate, and a 1M-row
    * 64-dim corpus (~568 MB estimated) still broadcasts at the defaults. */
  private[graft] def broadcastVerifyBudget(knobBytes: Long, maxResultSizeBytes: Long): Long =
    if (knobBytes <= 0) 0L
    else if (maxResultSizeBytes <= 0) knobBytes
    else math.min(knobBytes, maxResultSizeBytes / 4 * 3)

  private def broadcastVerifyBudget(spark: org.apache.spark.sql.SparkSession): Long = {
    def bytes(s: String) = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
    broadcastVerifyBudget(
      bytes(spark.conf.get("spark.graft.lsh.broadcastVerifyMaxBytes", "1g")),
      bytes(spark.sparkContext.getConf.get("spark.driver.maxResultSize", "1g")))
  }

  /** Signature rows `(_nid[, _v], _table, _sig)`, one per (vector, table
    * id). `_table` carries the GLOBAL table id, so signatures never
    * collide across tables whichever pass computes them. `carry` rides the
    * unit vector along (the vector-carry verify); without it the rows are
    * bare keys. */
  private def lshSigRows(df: DataFrame, id: String, vecCol: String, dim: Int,
                         tableIds: Seq[Int], bits: Int,
                         carry: Option[Column]): DataFrame =
    df.select(Seq(col(id).as("_nid")) ++ carry.map(_.as("_v")) :+
        posexplode(array(tableIds.map(t =>
          struct(lit(t).as("t"),
            lshSignature(asDouble(col(vecCol)), dim, t, bits).as("s"))): _*)): _*)
      .select(Seq(col("_nid")) ++ carry.map(_ => col("_v")) ++
        Seq(col("col.t").as("_table"), col("col.s").as("_sig")): _*)

  /**
   * The one LSH candidate → verify pass: accepted `(id_a, id_b, sim)` pairs
   * over the table ids `tableIds`, possibly repeated across tables (callers
   * dedupe). `right = None` is the self-join (`id_a < id_b`); `Some(r)`
   * pairs `left` rows (`id_a`) with `r` rows (`id_b`).
   *
   * Skew guard: a degenerate bucket (near-identical corpus slice) would
   * otherwise quadratically dominate one join task — [[oversizedGuard]]
   * drops it on each side without shuffling the payload.
   *
   * Self-join: an ALIASED join of one signature plan, so the signature
   * pipeline (unitize + tables x lsh_sig over the whole corpus) and its
   * exchange are computed ONCE and read twice (canonical-plan stage
   * reuse). Renaming columns per side BEFORE the join broke canonical
   * equality and recomputed the full pipeline for each side — measured
   * 40+ s vs 18 s at the 1M bench tier. (Probed round 13: a shuffle_hash
   * hint here OOMs building per-task hash maps over the vector-carrying
   * partitions — SMJ is the right physical join at every scale.)
   *
   * Verify, as [[lshPlan]] decided:
   *  - carry: the unit vector rides the signature rows through the
   *    candidate exchange and the dot runs in the join projection;
   *  - broadcast: the exchange carries BARE (_nid, _table, _sig) rows and
   *    the dot reads both endpoints from one broadcast of each side's
   *    (id, unit-vector) table — the self-join's two attach joins share one
   *    BroadcastExchange (identical canonical plan). At the 1M/64-dim bench
   *    point this turns a ~4.5 GB vector-carrying SMJ (the measured GC
   *    cliff at small heaps) into a ~190 MB bare-key SMJ plus a ~550 MB
   *    broadcast built once, and the candidates stream through the attach
   *    joins without another exchange.
   * Both give bit-identical pairs and sims: same signatures, same guard,
   * same dot on the same float width (`float32` narrows the carried column
   * and the broadcast alike; the dot casts back and accumulates in double).
   */
  private def lshPairs(left: DataFrame, right: Option[DataFrame],
                       leftId: String, rightId: String, vecCol: String,
                       threshold: Double, dim: Int, tableIds: Seq[Int],
                       bits: Int, roundTo: Int, maxBucket: Int,
                       float32: Boolean, broadcastVerify: Boolean): DataFrame = {
    val unitV = unitize(asDouble(col(vecCol)))
    val stored = if (float32) unitV.cast("array<float>") else unitV
    val carry = if (broadcastVerify) None else Some(stored)
    def guarded(df: DataFrame, id: String) =
      oversizedGuard(lshSigRows(df, id, vecCol, dim, tableIds, bits, carry), maxBucket)
    val a = guarded(left, leftId)
    val b = right.fold(a)(guarded(_, rightId))
    val joined = a.as("a").join(b.as("b"),
      col("a._table") === col("b._table") && col("a._sig") === col("b._sig"))
    val cand = if (right.isEmpty) joined.filter(col("a._nid") < col("b._nid")) else joined
    def dotOf(x: String, y: String): Column =
      if (float32) dot(asDouble(col(x)), asDouble(col(y))) else dot(col(x), col(y))
    val scored =
      if (!broadcastVerify)
        cand.select(col("a._nid").as("id_a"), col("b._nid").as("id_b"),
          round(dotOf("a._v", "b._v"), roundTo).as("sim"))
      else {
        def vecs(df: DataFrame, id: String) = df.select(col(id).as("_vid"), stored.as("_v"))
        val va = vecs(left, leftId)
        val vb = right.fold(va)(vecs(_, rightId))
        cand.select(col("a._nid").as("id_a"), col("b._nid").as("id_b"))
          .join(broadcast(va.as("va")), col("id_a") === col("va._vid"))
          .join(broadcast(vb.as("vb")), col("id_b") === col("vb._vid"))
          .select(col("id_a"), col("id_b"), round(dotOf("va._v", "vb._v"), roundTo).as("sim"))
      }
    scored.filter(col("sim") >= threshold)
  }
}
