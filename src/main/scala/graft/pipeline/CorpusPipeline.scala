package graft.pipeline

import graft.ext.{Bpe, Decontaminate, Dedup, NgramLm, TextAnalysis}
import graft.sink.BundleSink
import graft.transform.DocTransform
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The end-to-end training-data pipeline, one pass over a document corpus
 * (`--mode pipeline`):
 *
 *   read [-> PII redaction] -> quality filter [-> ngram-LM filter]
 *        -> exact dedup -> MinHash near-dup removal
 *        -> BPE tokenize -> columnar bundle (+ bpe model + stage stats)
 *
 * Every stage is one of this engine's operators; the composition is what a
 * 100 TB pretraining-data build actually runs. Stage semantics:
 *  - redaction (`redactPii = true`): [[TextAnalysis.redactPii]] applied
 *    before anything else, so dedup/tokenization see the released text.
 *  - quality: [[TextAnalysis.qualityScoreRaw]] >= `qualityMin` (unrounded —
 *    thresholds on the raw value).
 *  - trained quality (`qualityModel = Some(m)`): [[QualityClassifier.score]]
 *    with a PRE-TRAINED model (e.g. `--mode quality-train` output) composed
 *    AFTER the heuristic gate — the GPT-3/CCNet pattern: cheap surface
 *    heuristics first, then P(doc ~ curated seed) >= `qualityProbMin`.
 *    Scoring is map-only (one model broadcast, no shuffle), so the stage
 *    adds zero exchanges to the pipeline plan.
 *  - LM filter (`lmMinScore = Some(x)`): [[NgramLm]] trained on the
 *    quality-passed corpus itself, then docs scoring below `x` mean char
 *    log-prob are dropped — catches fluent-looking junk the surface
 *    heuristics pass.
 *  - strip spans (`stripSpans = true`): [[Dedup.stripRepeatedSpans]] —
 *    cross-document boilerplate windows (≥ `spanMinDocs` docs share a
 *    `spanK`-token window) are removed from every doc BEFORE dedup, so two
 *    docs identical modulo boilerplate become exact duplicates and the
 *    tokenizer never trains on headers/footers.
 *  - decontaminate (`decontamBench = Some(path)`): [[Decontaminate]] —
 *    the benchmark parquet's distinct word-`decontamN`-grams become one
 *    broadcast hash set; docs with ≥ `decontamMinHits` distinct collisions
 *    are dropped (map-only over the corpus, zero corpus-side shuffle).
 *    Runs on the span-stripped text, before dedup, so a contaminated doc
 *    can never survive as a duplicate cluster's representative.
 *  - exact dedup: first doc (lowest id) per normalized-text group survives.
 *  - near-dup removal (`nearDupMethod`): candidates from banded LSH, the
 *    HIGHER id of each surviving pair dropped (greedy canonical-minimum; a
 *    chain A~B~C keeps A, and keeps C only if C~A was below threshold — the
 *    standard cheap approximation). Two interchangeable notions of "near":
 *      - `"minhash"` (default): shingle MinHash bands + Jaccard >=
 *        `nearDupThreshold` — surface-text similarity.
 *      - `"embedding"`: hyperplane-LSH buckets + cosine >=
 *        `nearDupThreshold` over `embeddingCol` — semantic similarity
 *        (catches paraphrases/translations MinHash can't), for corpora that
 *        carry embeddings. Same bucketed shuffle shape, same skew caps.
 *        SCALE-GATED (round 16): the strict-recall knob law is superlinear
 *        in corpus size (measured round 15: 40-110 s at 1M docs vs
 *        4,197 s at 10M — ~40x for 10x the rows — and the single-pass
 *        signature exchange at 10M is ~98 GB, past a typical scratch
 *        disk: ENOSPC measured). Above [[EmbedStrictGateDocs]] docs the
 *        stage REFUSES to run unless `embedStagedPasses` is set (the
 *        staged table-group form that divides the peak footprint by the
 *        pass count) — use `"minhash"` (measured linear through 10M) or
 *        `"semantic"` (SemDeDup; pair cost bounded by the cluster-size
 *        squares) for corpora past the gate.
 *    With `annIndexDir` set (embedding method only), the stage ALSO dedups
 *    against every PRIOR run: docs whose nearest indexed neighbor
 *    ([[graft.ext.Similarity.indexTopK]]) clears the threshold are dropped,
 *    and this run's survivors are appended to the index (built from them
 *    when the directory does not exist yet — the first run's output is then
 *    identical to the plain in-run path) followed by one
 *    [[graft.ext.Similarity.maintainIndex]] pass. The append runs AFTER
 *    the bundle write commits, so a crash anywhere in the run never
 *    strands docs as indexed-but-unemitted (the membership guard would
 *    silently drop them from every retry). Cross-run state lives in
 *    the index's own cells; no corpus-x-corpus rescan ever happens.
 *  - mix (`mixBudget = Some(b)`): temperature-reweighted mixture weights
 *    over the deduped corpus ([[graft.ext.Mixing.temperatureMix]] on
 *    `mixSourceCol`, or [[graft.ext.Mixing.clusterBalancedSample]] over
 *    latent embedding topics when `mixClusterK` is set) — BEFORE
 *    tokenization, so the BPE trains on the mixed distribution. The batch
 *    form of the streaming pipeline's `mixBudget` stage.
 *  - phased mix (`mixPhases = Seq(...)`, mutually exclusive with
 *    `mixBudget`): the annealing schedule instead —
 *    [[graft.ext.Mixing.phasedMix]]; emitted docs carry a `phase` column,
 *    each doc in at most one phase. Same grouping options.
 *  - tokenize: BPE trained on the SURVIVING corpus, tokens + counts land as
 *    typed columns in the columnar bundle; the model is persisted next to
 *    the manifest for downstream reuse.
 */
object CorpusPipeline {

  /** Corpus size above which `nearDupMethod = "embedding"` refuses to run
    * without an explicit `embedStagedPasses` opt-in. The strict-recall
    * hyperplane-LSH knob law is superlinear: measured (round 15, 32-dim,
    * t=0.9) 40-110 s at 1M docs vs 4,196.9 s at 10M staged — and the
    * single-pass signature exchange at 10M is ~98 GB (ENOSPC on an ~80 GB
    * scratch disk, measured). 5M is where the curve visibly leaves linear
    * while the staged form still finishes in a working session; past it a
    * pipeline must CHOOSE the cost rather than inherit it silently. */
  val EmbedStrictGateDocs: Long = 5000000L

  case class Stats(input: Long, afterQuality: Long, afterExact: Long,
                   afterNearDup: Long, totalTokens: Long,
                   bundle: BundleSink.Result, afterLm: Long = -1L,
                   droppedVsIndex: Long = -1L, afterDecontam: Long = -1L,
                   packedSeqs: Long = -1L, afterModelQuality: Long = -1L,
                   afterMix: Long = -1L,
                   stageSecs: Seq[(String, Double)] = Nil)

  /** Does `dir` hold a complete [[graft.ext.Similarity.buildIndex]] layout? */
  private def annIndexExists(spark: SparkSession, dir: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    Seq("model", "centroids", "cells").forall(p =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$p")))
  }

  def run(spark: SparkSession, input: String, outDir: String, indexName: String,
          idCol: String = "doc_id", textCol: String = "text",
          numShards: Int = 3, partitionMultiples: Int = 4,
          qualityMin: Double = 0.5, nearDupThreshold: Double = 0.9,
          bpeMerges: Int = 2000, bpeMaxWords: Int = 50000,
          redactPii: Boolean = false,
          lmMinScore: Option[Double] = None,
          nearDupMethod: String = "minhash",
          embeddingCol: String = "embedding",
          embedStagedPasses: Option[Int] = None,
          embedGateDocs: Long = EmbedStrictGateDocs,
          annIndexDir: Option[String] = None,
          semDedupCentroids: Option[String] = None,
          semDedupKeep: String = "first",
          clusterDrop: Boolean = false,
          stripSpans: Boolean = false,
          spanK: Int = 10, spanMinDocs: Int = 2,
          decontamBench: Option[String] = None,
          decontamBenchTextCol: String = "text",
          decontamN: Int = 13, decontamMinHits: Int = 1,
          packMaxLen: Option[Int] = None,
          packBuckets: Int = 256,
          packRanks: Option[Int] = None,
          packSeed: Long = 0L,
          packStyle: String = "bins",
          packEodToken: Option[Int] = None,
          packLoaderCols: Boolean = false,
          exactSnapshotDir: Option[String] = None,
          qualityModel: Option[graft.ext.QualityModel] = None,
          qualityProbMin: Double = 0.5,
          qualityParetoAlpha: Option[Double] = None,
          qualityParetoSeed: Long = 0L,
          mixBudget: Option[Long] = None,
          mixTemperature: Double = 0.5,
          mixSourceCol: String = "source",
          mixClusterK: Option[Int] = None,
          mixClusterCentroids: Option[String] = None,
          mixPhases: Seq[graft.ext.Mixing.MixPhase] = Nil): Stats = {
    require(mixBudget.isEmpty || mixPhases.isEmpty,
      "mixBudget and mixPhases are mutually exclusive (a phase schedule " +
        "carries its own per-phase budgets)")
    require(semDedupKeep == "first" || !clusterDrop,
      "semDedupKeep=low-similarity is incompatible with clusterDrop: the " +
        "component representative is the min ID by definition, which " +
        "would silently override the keep policy")
    // Stage counts ride the pipeline's own materializing passes as
    // observe() metrics instead of one count() action per stage: each
    // count() re-ran the un-cached upstream chain (redaction -> scoring ->
    // model gate -> dedup ...), so Stats cost O(stages) full
    // re-executions of an increasingly expensive prefix. Observations are
    // free riders on the localCheckpoint materializations below — the
    // checkpoint at the exact-dedup boundary is ALSO what keeps the
    // near-dup/mix/tokenize passes from re-running the text-processing
    // prefix (the q79 pattern). Checkpoint blocks are MEMORY_AND_DISK on
    // executors and are released by the ContextCleaner when run() returns.
    val obsInput = org.apache.spark.sql.Observation("cp_input")
    val obsSurface = org.apache.spark.sql.Observation("cp_surface")
    val obsExact = org.apache.spark.sql.Observation("cp_exact")
    val obsDedup = org.apache.spark.sql.Observation("cp_dedup")
    val obsSurv = org.apache.spark.sql.Observation("cp_survivors")
    // Observation.get blocks with no timeout, and a CollectMetrics node
    // can be PRUNED from the final plan when AQE's empty-relation
    // propagation rewrites an operator above a runtime-empty exchange
    // (a fully-filtered or empty corpus) — so every read probes
    // NON-BLOCKINGLY (getOrEmpty in a short deadline loop; the earlier
    // Await(Future(o.get)) form waited a fixed 60 s PER observation
    // sequentially on an empty corpus and leaked each timed-out waiter as
    // a thread pinned forever in the global ExecutionContext) with an
    // exact count() fallback: free in the normal case (the metric is
    // already delivered when probed — the materializing action has
    // completed), a bounded listener-delivery grace (10 s: the listener
    // bus can lag seconds behind a heavy action, and a premature fallback
    // silently re-executes the whole upstream chain) + one extra bounded
    // pass in the degenerate pruned corner instead of a hang or a leak.
    def obsRead(o: org.apache.spark.sql.Observation, key: String,
                fallback: => Long): Long = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var out: Option[Long] = None
      while (out.isEmpty && System.nanoTime() < deadline) {
        // future.value is the public non-blocking probe (getOrEmpty is
        // private[sql]); completed exactly when the metric row arrived
        out = o.future.value.collect {
          case scala.util.Success(row) => row.getAs[Long](key)
        }
        if (out.isEmpty) Thread.sleep(25)
      }
      out.getOrElse(fallback)
    }
    def obsN(o: org.apache.spark.sql.Observation, fallback: => Long): Long =
      obsRead(o, "n", fallback)
    val nRows = count(lit(1)).as("n")

    // per-stage wall times at the pipeline's MATERIALIZATION boundaries
    // (a lazy plan has no per-operator wall time: work executes at the
    // checkpoints / driver collects / writes, so those are what's timed —
    // the "which stage dominates" answer pipeline_stats.json exists for).
    // Lazy stages upstream of a checkpoint bill to that checkpoint.
    val stageSecs = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def staged[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      stageSecs += name -> ((System.nanoTime() - t0) / 1e9)
      r
    }

    val raw = spark.read.parquet(input)
    val docs0 =
      if (redactPii) raw.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
      else raw
    val docs = docs0.observe(obsInput, nRows)

    val surface = docs
      .filter(TextAnalysis.qualityScoreRaw(col(textCol)) >= qualityMin)
      .observe(obsSurface, nRows)
    // trained quality gate, composed after the heuristic one: map-only
    // scoring (broadcast model + sparse dot per doc — no exchange), then
    // either a plain probability threshold or the GPT-3 Pareto sampling
    // gate (qualityParetoAlpha — smooth low-score tail, deterministic
    // md5-seeded draws). Null text scores null => dropped here.
    val (gated, obsModel) = qualityModel match {
      case Some(m) =>
        val o = org.apache.spark.sql.Observation("cp_model")
        val scored = graft.ext.QualityClassifier
          .score(surface, textCol, m, "_qprob")
        val kept = (qualityParetoAlpha match {
          case Some(a) => graft.ext.QualityClassifier.paretoSample(
            scored, idCol, "_qprob", a, qualityParetoSeed)
          case None => scored.filter(col("_qprob") >= qualityProbMin)
        }).drop("_qprob").observe(o, nRows)
        (kept, Some(o))
      case None => (surface, None)
    }
    val (quality, obsLm) = lmMinScore match {
      case Some(min) =>
        // the LM trains on the gated corpus — its aggregation pass is the
        // first action, so the upstream observations fire here (same
        // values: observations keep the first action's result)
        val o = org.apache.spark.sql.Observation("cp_lm")
        val lm = staged("lm_train")(NgramLm.train(gated, textCol))
        val kept = NgramLm.filterByScore(gated, textCol, lm, min)
          .drop("lm_score").observe(o, nRows)
        (kept, Some(o))
      case None => (gated, None)
    }

    // cross-document boilerplate removal, BEFORE dedup: two docs identical
    // modulo a shared header/footer become exact duplicates once the shared
    // spanK-token windows are stripped, and the BPE never trains on them
    val despanned =
      if (!stripSpans) quality
      else Dedup.stripRepeatedSpans(quality, idCol, textCol,
          k = spanK, minDocs = spanMinDocs)
        .withColumn(textCol, col(s"${textCol}_clean"))
        .drop(s"${textCol}_clean")

    // benchmark decontamination on the released (span-stripped) text: the
    // eval set reduces to one broadcast hash set, the corpus side is
    // map-only. Before dedup, so a contaminated doc can never be the
    // representative a clean duplicate gets dropped in favor of.
    val (cleared, obsDecontam) = decontamBench match {
      case Some(path) =>
        val o = org.apache.spark.sql.Observation("cp_decontam")
        val set = staged("decontam_bench_set")(Decontaminate.benchmarkNgrams(
          spark.read.parquet(path), decontamBenchTextCol, decontamN))
        val kept = Decontaminate.dropContaminated(
          despanned, textCol, set, decontamMinHits).observe(o, nRows)
        (kept, Some(o))
      case None => (despanned, None)
    }

    // exact dedup keeping FULL rows (Dedup.exact projects to key+order
    // cols): group-limit window on the normalized text, lowest id survives.
    // The checkpoint here is the pipeline's big materialization boundary:
    // everything downstream (near-dup candidate joins, index queries, mix
    // collects, BPE training, the bundle write) re-reads these blocks
    // instead of re-running the text-processing prefix.
    val wNorm = org.apache.spark.sql.expressions.Window
      .partitionBy("_norm").orderBy(idCol)
    val exact = staged("text_prefix_and_exact_dedup")(cleared
      .withColumn("_norm", regexp_replace(lower(trim(col(textCol))), "\\s+", " "))
      .withColumn("_rn", row_number().over(wNorm))
      .filter(col("_rn") === 1).drop("_norm", "_rn")
      .observe(obsExact, nRows)
      .localCheckpoint())
    // optional post-exact snapshot (bench/debug seam): the near-dup
    // stage's exact input frame, persisted so an ISOLATED replay of that
    // stage (the 10M tier's median-of-3 protocol) times the same rows the
    // in-pipeline run saw — re-deriving them would re-run (and re-time)
    // the whole text prefix. One extra write of the checkpointed blocks;
    // never on when unset.
    exactSnapshotDir.foreach { d =>
      staged("exact_snapshot_write")(
        exact.write.mode("overwrite").parquet(d))
    }
    val nInput = obsN(obsInput, docs.count())
    val nQuality = obsN(obsSurface, surface.count())
    val nModel = obsModel.map(obsN(_, gated.count())).getOrElse(-1L)
    val nLm = obsLm.map(obsN(_, quality.count())).getOrElse(-1L)
    val nDecontam = obsDecontam.map(obsN(_, cleared.count())).getOrElse(-1L)
    val nExact = obsN(obsExact, exact.count())

    // near-dup pairs on the exact-deduped corpus; drop the higher id of
    // each pair (distinct drop-set, then one left_anti)
    require(annIndexDir.isEmpty || nearDupMethod == "embedding",
      "annIndexDir requires nearDupMethod=embedding (the index holds embeddings)")
    val pairs = nearDupMethod match {
      case "minhash" =>
        Dedup.minhashNearDups(exact, idCol, textCol, threshold = nearDupThreshold)
      case "embedding" =>
        require(exact.columns.contains(embeddingCol),
          s"nearDupMethod=embedding needs column '$embeddingCol' on the corpus")
        // dim probe tolerates a fully-filtered corpus (head on an empty
        // frame would throw): zero docs have zero near-dup pairs
        exact.select(size(col(embeddingCol))).head(1) match {
          case Array(row) =>
            // AUTO LSH knobs (tables = bits = 0): fixed 8-bit signatures
            // turn quadratic at corpus scale (3.9k-row buckets at 1M ≈
            // 15e9 candidate dots — the round-11 292 s dominant stage);
            // the auto sizing targets ~64-row buckets and re-spends some
            // of the win on extra tables toward the 95% at-threshold
            // recall target — STRICT since round 14: the 95% at-threshold
            // target is a floor, not advisory. At corpus sizes where the
            // tables clamp would bind (100M+ at t=0.9), autoLshKnobs
            // raises targetBucket (shallower signatures, fewer tables per
            // unit recall) until the analytic recall meets the target,
            // WARNing the cost multiplier — a curation pipeline must not
            // silently under-recall its dedup as the corpus grows. At the
            // 1M bench tier strict is a no-op (recall already 0.95+ at
            // the default knobs). Exact dups collide at any knobs.
            // `exact` is checkpointed, so the sizing count is a
            // cached-block scan.
            val nDocs = exact.count()
            // SCALE GATE (round 16): the strict path is the one measured
            // superlinear stage in the repo — refusing here is the honest
            // alternative to silently signing the user up for hours of
            // wall and a possible ENOSPC. The staged opt-in bounds the
            // peak exchange footprint (total work unchanged).
            if (nDocs > embedGateDocs && embedStagedPasses.isEmpty)
              throw new IllegalArgumentException(
                s"nearDupMethod=embedding at $nDocs docs exceeds the " +
                s"$embedGateDocs-doc strict-LSH scale gate: the " +
                "strict-recall knob law is superlinear (measured 40-110 s " +
                "at 1M vs 4,197 s at 10M, 32-dim t=0.9; single-pass " +
                "signature exchange ~98 GB at 10M — ENOSPC on an 80 GB " +
                "scratch). Either opt in with embedStagedPasses " +
                "(--embed-staged-passes N, e.g. 6 — staged table groups " +
                "bound the peak footprint), or use nearDupMethod=minhash " +
                "(linear through 10M) / semantic (SemDeDup, cluster-" +
                "bounded pair cost) for corpora this size.")
            // staged passes carry float32 vectors (half the exchange bytes)
            graft.ext.Similarity.cosineNearDupsLsh(exact, idCol,
              embeddingCol, threshold = nearDupThreshold,
              dim = row.getInt(0), tables = 0, bits = 0, strictRecall = true,
              shuffleFloat32 = embedStagedPasses.isDefined,
              passes = embedStagedPasses.getOrElse(1))
          case _ =>
            exact.select(col(idCol).as("id_a"), col(idCol).as("id_b")).limit(0)
        }
      case "semantic" =>
        // SemDeDup as a pipeline stage: frozen-centroid labels bound the
        // pairing (the artifact is the blocking-key contract — frozen so
        // reruns and the streaming twin agree); pairs feed the SAME drop
        // policies as the other methods
        require(exact.columns.contains(embeddingCol),
          s"nearDupMethod=semantic needs column '$embeddingCol' on the corpus")
        val centPath = semDedupCentroids.getOrElse(throw new
          IllegalArgumentException("nearDupMethod=semantic needs " +
            "semDedupCentroids (a trained centroid artifact)"))
        // semDedupKeep orders each pair (keeper first), so the default
        // pairwise drop-id_b policy realizes the keep rule; clusterDrop's
        // component-min representative is id-based by definition and
        // composes with keep="first" only
        Dedup.semDedupPairs(exact, idCol, embeddingCol,
          graft.ext.Similarity.loadClusterCentroids(spark, centPath),
          threshold = nearDupThreshold, keep = semDedupKeep)
      case other => throw new IllegalArgumentException(
        s"unknown nearDupMethod '$other' (minhash | embedding | semantic)")
    }
    // cross-run near-dups: nearest indexed neighbor from any prior run
    // clears the threshold -> drop. One standing-index query per run
    // (probed cells only), instead of re-deriving prior state. The ANN
    // query self-excludes equal ids (correct for search, blind to a
    // re-ingest of the SAME doc id), so membership rides alongside: a doc
    // whose id is already indexed is dropped too — an nid-only
    // column-pruned scan of the cells, and the guard that keeps re-runs
    // from appending duplicate ids into the index.
    val priorDrops: Option[DataFrame] = annIndexDir
      .filter(annIndexExists(spark, _))
      .map { dir =>
        val near = graft.ext.Similarity
          .indexTopK(exact, dir, idCol, embeddingCol, k = 1)
          .filter(col("sim") >= nearDupThreshold)
          .select(col("qid").as(idCol))
        val member = exact.select(col(idCol)).join(
          spark.read.parquet(s"$dir/cells").select(col("nid").as(idCol)),
          Seq(idCol), "left_semi")
        // NOT an observe() rider: this frame is the anti-join's RIGHT
        // side, and when it materializes empty (a clean incremental
        // ingest — the common case) AQE's empty-relation propagation
        // eliminates the join together with the CollectMetrics node, so
        // an Observation here would never report and its blocking get()
        // would hang the run. The count is its own bounded action over
        // the checkpointed `exact` instead.
        near.unionByName(member).distinct()
      }
    val nVsIndex = staged("index_dedup_query")(
      priorDrops.map(_.count()).getOrElse(-1L))
    // two drop policies over the pair graph:
    //  - pairwise (default): drop the higher id of each pair — keeps a
    //    maximal-independent-ish set (two docs that only share a dropped
    //    hub BOTH survive);
    //  - clusterDrop: connected components + keep the component min — the
    //    published-pipeline semantics (one representative per TRANSITIVE
    //    duplicate cluster).
    val inRunDrops =
      if (clusterDrop)
        Dedup.nearDupClusters(pairs)
          .filter(col("id") =!= col("cluster_id"))
          .select(col("id").as(idCol))
      else pairs.select(col("id_b").as(idCol)).distinct()
    val dropIds = priorDrops.foldLeft(inRunDrops)(_ unionByName _).distinct()
    val deduped0 = exact.join(dropIds, Seq(idCol), "left_anti")
      .observe(obsDedup, nRows)
    // with a mix stage ahead, checkpoint the deduped corpus too: the mix
    // operators run 2 bounded collects (source masses, bucket splitters)
    // plus the final pass — each would otherwise redo the near-dup
    // anti-join machinery from the exact checkpoint
    // (this checkpoint is where the near-dup candidate joins actually
    // materialize on mix runs — time it as its own stage, or the
    // dominant pipeline cost would vanish from stage_secs)
    val deduped =
      if (mixBudget.isDefined || mixPhases.nonEmpty)
        staged("neardup")(deduped0.localCheckpoint())
      else deduped0

    // mixture weights AFTER dedup, BEFORE tokenization (the streaming
    // pipeline's mixBudget stage, batch form): per-source temperature
    // budgets over char cost, deterministic id-ordered prefix per source.
    // mixClusterK switches the grouping to LATENT k-means topics of
    // `embeddingCol` (clusterBalancedSample) — for corpora whose imbalance
    // is topical, not provenance-shaped. The BPE trains on the MIXED
    // corpus, so over-represented sources/topics can't dominate the vocab.
    val survivors0 = (mixBudget, mixPhases) match {
      case (None, Nil) => deduped
      case (Some(b), _) =>
        val cost = length(col(textCol)).cast("long")
        (mixClusterCentroids, mixClusterK) match {
          case (Some(path), _) =>
            // FROZEN centroids (a train-centroids artifact or an ANN
            // index's centroids/): the batch twin of the streaming mix
            // stage — a batch re-run and a stream over the same corpus
            // label identically and derive the same budgets
            require(deduped.columns.contains(embeddingCol),
              s"mixClusterCentroids needs column '$embeddingCol' on the corpus")
            graft.ext.Mixing.clusterBalancedSampleWith(deduped, idCol,
                embeddingCol, cost, b,
                graft.ext.Similarity.loadClusterCentroids(spark, path),
                mixTemperature)
              .drop("_cum", "cluster_id")
          case (None, Some(k)) =>
            require(deduped.columns.contains(embeddingCol),
              s"mixClusterK needs column '$embeddingCol' on the corpus")
            graft.ext.Mixing.clusterBalancedSample(deduped, idCol,
                embeddingCol, cost, b, k, mixTemperature)
              .drop("_cum", "cluster_id")
          case (None, None) =>
            require(deduped.columns.contains(mixSourceCol),
              s"mixBudget needs column '$mixSourceCol' on the corpus " +
                "(or set mixClusterK / mixClusterCentroids for " +
                "latent-topic balancing)")
            graft.ext.Mixing.temperatureMix(deduped, mixSourceCol, idCol,
              cost, b, mixTemperature).drop("_cum")
        }
      // phased (annealing) schedule — [[graft.ext.Mixing.phasedMix]]: the
      // batch twin of the streaming mixPhases stage. Emitted docs carry a
      // `phase` column into the bundle; a doc appears in at most one phase.
      // Composes with the same grouping options as the single budget.
      case (None, phases) =>
        val cost = length(col(textCol)).cast("long")
        val (labeled, groupCol) = (mixClusterCentroids, mixClusterK) match {
          case (Some(path), _) =>
            require(deduped.columns.contains(embeddingCol),
              s"mixClusterCentroids needs column '$embeddingCol' on the corpus")
            (graft.ext.Similarity.assignClustersWith(deduped, embeddingCol,
              graft.ext.Similarity.loadClusterCentroids(spark, path)),
              "cluster_id")
          case (None, Some(k)) =>
            require(deduped.columns.contains(embeddingCol),
              s"mixClusterK needs column '$embeddingCol' on the corpus")
            (graft.ext.Similarity.assignClusters(deduped, idCol,
              embeddingCol, k), "cluster_id")
          case (None, None) =>
            require(deduped.columns.contains(mixSourceCol),
              s"mixPhases needs column '$mixSourceCol' on the corpus " +
                "(or set mixClusterK / mixClusterCentroids for " +
                "latent-topic balancing)")
            (deduped, mixSourceCol)
        }
        val mixed = graft.ext.Mixing.phasedMix(labeled, groupCol, idCol,
          cost, phases)
        // drop the LABELING column only when clustering added it — a user
        // provenance column that happens to be named cluster_id (grouped
        // via mixSourceCol) must survive into the bundle
        if (mixClusterCentroids.isDefined || mixClusterK.isDefined)
          mixed.drop("cluster_id")
        else mixed
    }
    // second (or only) checkpoint: the surviving corpus feeds the BPE
    // trainer, the token aggregate, the bundle write, packing, and the
    // index append — five passes that now read these blocks instead of
    // re-deriving the corpus. Materializing it also fires every pending
    // observation upstream, so ALL stage counts are settled here.
    val survivors = staged("neardup_and_mix")(
      survivors0.observe(obsSurv, nRows).localCheckpoint())
    val nDedup = obsN(obsDedup, deduped.count())
    val nSurvivors = obsN(obsSurv, survivors.count())

    // tokenizer trained on what survives (junk filtered out above), ridden
    // into the bundle as typed columns. The token total rides the bundle
    // write as one more observation (tokenization is the expensive
    // projection here — a separate agg action would run it a second time);
    // coalesce: sum over zero rows is NULL (a run CAN drop everything —
    // e.g. a re-ingest where every doc already near-dups the index).
    val model = staged("bpe_train")(
      Bpe.train(survivors, textCol, bpeMerges, bpeMaxWords))
    val obsTok = org.apache.spark.sql.Observation("cp_tokens")
    val tokenized = survivors
      .withColumn("bpe_tokens", model.tokens(col(textCol)))
      .withColumn("bpe_token_cnt", size(col("bpe_tokens")))
      .withColumn("vocab_fit", round(model.vocabularyFit(col(textCol)), 4))
      .observe(obsTok, coalesce(sum("bpe_token_cnt"), lit(0L)).as("t"))

    val bundleDocs = DocTransform.docsColumnar(tokenized, idCol, None)
    val res = staged("tokenize_and_bundle_write")(
      BundleSink.write(bundleDocs, s"$outDir/$indexName", numShards,
        partitionMultiples, repartition = true, format = "columnar",
        indexName = indexName))
    val totalTokens = obsRead(obsTok, "t",
      tokenized.agg(coalesce(sum("bpe_token_cnt"), lit(0L))).head().getLong(0))
    Bpe.save(spark, model, s"$outDir/$indexName/bpe_model.json")

    // maintain the standing index with this run's accepted docs — AFTER
    // the bundle write succeeds: the index's id-membership guard treats
    // indexed ids as "already emitted", so appending before the write
    // would turn a crash between the two into silent data loss (indexed
    // docs a retry refuses to re-emit, landing in no bundle ever). With
    // this ordering a crash before the write leaves the index untouched
    // and a retry re-runs cleanly. Append into the existing layout
    // (stored quantizer, no retrain), or build it from scratch on the
    // first run — skipped when the run dropped EVERYTHING (buildIndex
    // cannot train on zero rows; the first surviving run builds instead);
    // then one detect->act maintenance pass so accumulated skew is
    // repaired as part of the run, not by an operator remembering to.
    // sequence packing (packMaxLen = Some(L)): the trainer-shape terminal
    // artifact — survivors' BPE token ids packed into fixed-capacity rows
    // (deterministic bucketed best-fit-decreasing, [[graft.ext.Packing]])
    // at `outDir/indexName/packed/`. Derived, stateless output: written
    // after the bundle commit (a crash in between reruns cleanly — unlike
    // the index append below there is no membership guard to strand docs).
    val nPacked = staged("pack")(packMaxLen match {
      case Some(maxLen) =>
        val withIds = tokenized.withColumn("_bpe_ids", model.tokenIds(col(textCol)))
        // packStyle "bins" (default): whole-doc BFD; "chunk": GPT-style
        // concat-and-chunk (fill = 1, docs span boundaries; packEodToken
        // terminates every doc first). Same output schema either way.
        val packed = packStyle match {
          case "chunk" => graft.ext.Packing.chunkSequences(
            withIds, idCol, "_bpe_ids", maxLen, eodToken = packEodToken,
            numBuckets = packBuckets)
          case "bins" => graft.ext.Packing.packSequences(
            withIds, idCol, "_bpe_ids", maxLen, packBuckets)
          case other => throw new IllegalArgumentException(
            s"unknown packStyle '$other' (bins | chunk)")
        }
        // packLoaderCols: bake position_ids/doc_index into the export so
        // the training reader is a plain parquet scan — the convention
        // follows the style (bins: per-doc reset; chunk: plain window
        // positions). Map-only, bounded by maxLen.
        val packedOut =
          if (packLoaderCols)
            graft.ext.Packing.loaderColumnsFor(packStyle, packed, maxLen)
          else packed
        // packRanks: data-parallel export — each reader shard is its own
        // rank=K partition dir, order_key inside it is the epoch's
        // reproducible shuffle order (portable md5; see shardSequences)
        packRanks match {
          case Some(r) =>
            graft.ext.Packing.shardSequences(packedOut, "seq_id", r, packSeed)
              .repartition(col("rank"))
              .write.mode("overwrite").partitionBy("rank")
              .parquet(s"$outDir/$indexName/packed")
          case None =>
            packedOut.write.mode("overwrite")
              .parquet(s"$outDir/$indexName/packed")
        }
        spark.read.parquet(s"$outDir/$indexName/packed").count()
      case None => -1L
    })

    staged("ann_index_maintain")(annIndexDir.foreach { dir =>
      val emb = survivors.select(col(idCol), col(embeddingCol))
      if (annIndexExists(spark, dir)) {
        graft.ext.Similarity.appendToIndex(emb, idCol, embeddingCol, dir)
        graft.ext.Similarity.maintainIndex(spark, dir)
        ()
      } else if (nSurvivors > 0) {
        val nlist = math.max(4, (math.sqrt(nSurvivors.toDouble) / 2).round.toInt)
        graft.ext.Similarity.buildIndex(emb, idCol, embeddingCol, dir,
          nlist = nlist, kmeansIters = 2)
        graft.ext.Similarity.maintainIndex(spark, dir)
        ()
      }
    })
    val stats = Stats(nInput, nQuality, nExact,
      afterNearDup = nDedup,
      totalTokens = totalTokens, bundle = res,
      afterLm = nLm, droppedVsIndex = nVsIndex, afterDecontam = nDecontam,
      packedSeqs = nPacked, afterModelQuality = nModel,
      afterMix =
        if (mixBudget.isDefined || mixPhases.nonEmpty) nSurvivors else -1L,
      stageSecs = stageSecs.toSeq)
    // best-effort: at this point the bundle, BPE model, packed export and
    // index append have ALL committed — a stats-publish hiccup must not
    // fail (and so re-run) a fully-committed run
    try writeStats(spark, s"$outDir/$indexName", stats)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[pipeline] stats publish failed (run committed): $e")
    }
    stats
  }

  /** Persist the run's yield accounting next to the bundle
    * (`pipeline_stats.json`): the per-stage counts a curation team reads
    * to answer "where did my tokens go" without scraping driver logs —
    * Jackson-serialized (quotes/backslashes in paths round-trip), -1 means
    * the stage was off, rename-replace publish like every other control
    * file. Driver-side only; negligible next to the run. */
  private def writeStats(spark: SparkSession, bundleDir: String,
                         st: Stats): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(bundleDir), spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rec = mapper.createObjectNode()
    rec.put("input", st.input)
    rec.put("after_quality", st.afterQuality)
    rec.put("after_model_quality", st.afterModelQuality)
    rec.put("after_lm", st.afterLm)
    rec.put("after_decontam", st.afterDecontam)
    rec.put("after_exact", st.afterExact)
    rec.put("dropped_vs_index", st.droppedVsIndex)
    rec.put("after_neardup", st.afterNearDup)
    rec.put("after_mix", st.afterMix)
    rec.put("total_tokens", st.totalTokens)
    rec.put("packed_seqs", st.packedSeqs)
    rec.put("bundle_docs", st.bundle.totalDocs)
    // which stage dominates the wall clock — the number an optimization
    // round needs (stage wall seconds at the materialization boundaries)
    val stages = rec.putObject("stage_secs")
    st.stageSecs.foreach { case (k, v) =>
      stages.put(k, math.rint(v * 1000) / 1000) }
    graft.sink.FsAtomic.publish(fs,
      new org.apache.hadoop.fs.Path(bundleDir, "pipeline_stats.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(rec).getBytes("UTF-8"))
  }
}
