package graft.streaming

import graft.ext.{Decontaminate, Dedup, Mixing, Packing, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Incremental corpus build: the streaming counterpart of
 * [[graft.pipeline.CorpusPipeline]]. Documents arrive as files; each
 * micro-batch runs
 *
 *   quality filter [-> strip spans vs accumulated window counts]
 *   [-> benchmark decontamination] -> exact dedup (in-batch + vs all
 *   prior batches) -> near-dup removal vs the ACCUMULATED corpus
 *   (MinHash bands) -> shard-routed append into the bundle
 *   [-> frozen-BPE tokenize + sequence packing -> packed/  (BFD bins,
 *       optionally cross-batch via packCarry — or packStyle=chunk:
 *       concat-and-chunk whose partial window carries between batches)]
 *
 * without ever recomputing over history. Accumulated knowledge lives in
 * compact parquet side-states under the bundle dir:
 *   state/fingerprints: (fp)            — exact-dedup membership
 *   state/bands:        (doc_id, band, band_key, sig) — near-dup index
 *   state/spans:        (h, df)         — window-hash document counts
 *                                         (cross-batch boilerplate)
 * Arriving docs join those (anti-join for exact; band equi-join + signature
 * Jaccard estimate for near) — per batch the work is batch x matches, not
 * corpus x corpus. Near-dup here uses the SIGNATURE ESTIMATE (state keeps
 * 32 longs/doc, not shingle sets) with the same banding as the batch path.
 *
 * Exactly-once: doc files land via [[BundleStreamWriter.commitBatch]]
 * (batch-deterministic names, replay-safe); state appends carry batch_id
 * and are de-duplicated on read, so a replayed batch cannot double-insert.
 * State READS additionally exclude the current batch's own rows, so an
 * at-least-once replay recomputes byte-identical survivors no matter how
 * far the crashed attempt got through its state appends — which is what
 * lets the packed/ stage use a plain deterministic overwrite.
 */
object StreamingCorpus {

  /** `annIndexDir`: standing [[graft.ext.Similarity.buildIndex]] directory
    * for cross-run SEMANTIC dedup — each batch drops docs whose nearest
    * indexed neighbor cosine clears `nearDupThreshold`, and survivors'
    * embeddings are appended through the replay-safe
    * [[AnnIndexStream.commitBatch]] protocol as part of the batch commit
    * (the first NON-EMPTY batch builds the index from its survivors
    * behind a `built_by_batch` intent marker: a replay of that batch
    * rebuilds bit-equal instead of slipping into the append path and
    * double-ingesting, and an all-filtered first batch defers the build
    * rather than crashing on zero rows). Cell splits
    * stay an offline operation ([[graft.ext.Similarity.splitCell]]): an
    * in-batch split could rewrite files a replayed append still expects,
    * breaking the rename-if-absent idempotence. */
  case class Config(idCol: String = "doc_id", textCol: String = "text",
                    numShards: Int = 3, qualityMin: Double = 0.5,
                    qualityModelPath: Option[String] = None,
                    qualityProbMin: Double = 0.5,
                    qualityParetoAlpha: Option[Double] = None,
                    qualityParetoSeed: Long = 0L,
                    nearDupThreshold: Double = 0.9,
                    numHashes: Int = 32, bands: Int = 8, shingleK: Int = 3,
                    annIndexDir: Option[String] = None,
                    embeddingCol: String = "embedding",
                    semDedupCentroids: Option[String] = None,
                    stripSpans: Boolean = false,
                    spanK: Int = 10, spanMinDocs: Int = 2,
                    decontamBench: Option[String] = None,
                    decontamBenchTextCol: String = "text",
                    decontamN: Int = 13, decontamMinHits: Int = 1,
                    packMaxLen: Option[Int] = None,
                    bpeModelPath: Option[String] = None,
                    packBuckets: Int = 256,
                    packRanks: Option[Int] = None,
                    packSeed: Long = 0L,
                    packCarry: Option[Int] = None,
                    packStyle: String = "bins",
                    packEodToken: Option[Int] = None,
                    packLoaderCols: Boolean = false,
                    mixBudget: Option[Long] = None,
                    mixTemperature: Double = 0.5,
                    mixSourceCol: String = "source",
                    mixClusterCentroids: Option[String] = None,
                    mixPhases: Seq[Mixing.MixPhase] = Nil)

  /** Frozen tokenizer for the packing stage, loaded once per stream
    * lifetime per path (the batch pipeline trains BPE on the full corpus;
    * a stream cannot — per-batch retraining would drift token ids across
    * batches, so packing requires a PRE-TRAINED model, e.g. a prior batch
    * run's `bpe_model.json` or `--mode tokenize` output). */
  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ext.BpeModel]()

  /** Frozen trained quality model (qualityModelPath), loaded once per
    * stream lifetime per path — like the BPE model, a stream must score
    * against a PRE-TRAINED artifact (per-batch retraining would drift the
    * accept boundary across batches and break replay determinism). */
  private val qualityCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ext.QualityModel]()

  /** Frozen cluster centroids for topic-balanced mixing
    * (mixClusterCentroids): a `(cent_id, centv)` parquet artifact
    * (`Similarity.trainClusterCentroids` / an ANN index's `centroids/`),
    * loaded once per stream lifetime per path — a stream must label
    * against PRE-TRAINED centroids (per-batch retraining would drift
    * cluster ids across batches, corrupting the accumulated per-cluster
    * mass/spend state and breaking replay). */
  private val centroidCache = new java.util.concurrent.ConcurrentHashMap[
    String, IndexedSeq[Seq[Double]]]()

  /** Benchmark n-gram sets are static per (path, n, textCol): built once
    * per stream lifetime, reused by every batch (the set is deterministic,
    * so a driver restart rebuilding it sees identical contents). */
  private val benchCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, String),
      Decontaminate.BenchmarkSet]()

  def start(docs: DataFrame, outDir: String, checkpointDir: String,
            cfg: Config = Config(), availableNow: Boolean = true): StreamingQuery = {
    val w = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, outDir, cfg)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow())
     else w.trigger(Trigger.ProcessingTime("10 seconds"))).start()
  }

  private def stateRead(spark: org.apache.spark.sql.SparkSession, path: String,
                        schemaOf: => DataFrame): Option[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      Some(spark.read.parquet(path)) else None
  }

  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                  outDir: String, cfg: Config): Unit = {
    val spark = batch.sparkSession
    val fpDir = s"$outDir/state/fingerprints"
    val bandDir = s"$outDir/state/bands"

    // 1. quality gate (stateless): surface heuristic, then optionally the
    //    trained classifier (frozen model, map-only scoring — no exchange)
    val heuristic = batch.filter(
      TextAnalysis.qualityScoreRaw(col(cfg.textCol)) >= cfg.qualityMin)
    val quality = cfg.qualityModelPath match {
      case Some(p) =>
        val m = qualityCache.computeIfAbsent(p,
          pp => graft.ext.QualityClassifier.load(spark, pp))
        val scored = graft.ext.QualityClassifier
          .score(heuristic, cfg.textCol, m, "_qprob")
        // Pareto gate stays replay-exact on a stream: the draw is a pure
        // function of (seed, doc id), no RNG state to checkpoint
        (cfg.qualityParetoAlpha match {
          case Some(a) => graft.ext.QualityClassifier.paretoSample(
            scored, cfg.idCol, "_qprob", a, cfg.qualityParetoSeed)
          case None => scored.filter(col("_qprob") >= cfg.qualityProbMin)
        }).drop("_qprob")
      case None => heuristic
    }

    // 1.5 cross-batch boilerplate stripping: window-hash document
    //     frequencies accumulate in state/spans (batch-tagged appends,
    //     deduplicated on read, same replay protocol as the band state);
    //     windows whose prior+batch df clears spanMinDocs are stripped
    //     from THIS batch's docs before fingerprinting, so
    //     identical-modulo-boilerplate docs collapse in exact dedup.
    //     Prefix-blind by construction: docs emitted by earlier batches
    //     keep spans that only later became frequent — the streaming
    //     tradeoff, documented rather than retro-editing the bundle.
    val spanDir = s"$outDir/state/spans"
    val (despanned, spanBatchDf) =
      if (!cfg.stripSpans) (quality, None)
      else {
        val wins = quality.select(col(cfg.idCol),
          posexplode(Dedup.windowHashes(col(cfg.textCol), cfg.spanK))
            .as(Seq("pos", "h")))
        val batchDf = wins.select(col("h"), col(cfg.idCol)).distinct()
          .groupBy("h").agg(count(lit(1)).as("df"))
        // state reads EXCLUDE this batch's own rows: an at-least-once
        // replay finds the crashed attempt's appends already in state, and
        // without the exclusion the batch's own window dfs would count
        // twice (different strip decisions -> different fingerprints ->
        // different survivors than the original execution). With it, a
        // replay recomputes byte-identical survivors from the 0..N-1
        // state, and every downstream write is idempotent (bundle/index:
        // rename-if-absent; states: batch-tagged, deduplicated on read;
        // packed/: deterministic overwrite).
        val totalDf = stateRead(spark, spanDir, batchDf) match {
          case Some(prior) => prior.filter(col("batch_id") =!= batchId)
            .select("h", "df", "batch_id").distinct()
            .select(col("h"), col("df"))
            .unionByName(batchDf).groupBy("h").agg(sum("df").as("df"))
          case None => batchDf
        }
        val rep = totalDf.filter(col("df") >= cfg.spanMinDocs).select("h")
        val spanPos = wins.join(rep, "h").select(col(cfg.idCol), col("pos"))
        val stripped = Dedup
          .stripSpansAt(quality, spanPos, cfg.idCol, cfg.textCol, cfg.spanK)
          .withColumn(cfg.textCol, col(s"${cfg.textCol}_clean"))
          .drop(s"${cfg.textCol}_clean")
        (stripped, Some(batchDf))
      }

    // 1.6 benchmark decontamination: the eval set is static, so it is
    //     built once per stream lifetime (cached by path/n/col) and each
    //     batch is scored map-only against the broadcast hash set.
    val cleared = cfg.decontamBench match {
      case Some(path) =>
        val set = benchCache.computeIfAbsent(
          (path, cfg.decontamN, cfg.decontamBenchTextCol),
          _ => Decontaminate.benchmarkNgrams(spark.read.parquet(path),
            cfg.decontamBenchTextCol, cfg.decontamN))
        Decontaminate.dropContaminated(despanned, cfg.textCol, set,
          cfg.decontamMinHits)
      case None => despanned
    }

    // 2. exact dedup: lowest id in-batch, then anti-join the seen set
    val wNorm = org.apache.spark.sql.expressions.Window
      .partitionBy("_fp").orderBy(cfg.idCol)
    val inBatch = cleared
      .withColumn("_fp", TextAnalysis.fingerprint(col(cfg.textCol)))
      .withColumn("_rn", row_number().over(wNorm))
      .filter(col("_rn") === 1).drop("_rn")
    val fresh = stateRead(spark, fpDir, inBatch) match {
      case Some(seen) => inBatch.join(
        seen.filter(col("batch_id") =!= batchId) // replay: own rows invisible
          .select(col("fp").as("_fp")).distinct(), Seq("_fp"), "left_anti")
      case None => inBatch
    }

    // 3. near-dup vs accumulated corpus + within this batch: band join on
    //    the stored index, signature-estimate >= threshold drops the doc
    val sigged = fresh.withColumn("_sig", Dedup.minhashSignature(
      array_sort(Dedup.shingleHashes(col(cfg.textCol), cfg.shingleK)), cfg.numHashes))
    val r = cfg.numHashes / cfg.bands
    val banded = sigged.select(col(cfg.idCol).as("doc_id"), col("_sig"),
        posexplode(transform(sequence(lit(0), lit(cfg.bands - 1)),
          b => hash(slice(col("_sig"), b * r + 1, lit(r)), b))))
      .select(col("doc_id"), col("_sig").as("sig"),
        col("pos").as("band"), col("col").as("band_key"))
    def estJaccard(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val agree = size(filter(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        v => v === 1))
      agree.cast("double") / size(a).cast("double")
    }
    val priorIndex = stateRead(spark, bandDir, banded).map(_
      .filter(col("batch_id") =!= batchId) // replay: own rows invisible
      .select(col("doc_id").as("prior_id"), col("sig").as("prior_sig"),
        col("band"), col("band_key")).distinct())
    val vsPrior = priorIndex match {
      case Some(prior) => banded.join(prior, Seq("band", "band_key"))
        .filter(estJaccard(col("sig"), col("prior_sig")) >= cfg.nearDupThreshold)
        .select(col("doc_id")).distinct()
      case None => spark.range(0).select(col("id").as("doc_id"))
    }
    // within-batch: lower id wins its bucket
    val a = banded.alias("a"); val b = banded.alias("b")
    val vsBatch = a.join(b, col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") > col("b.doc_id"))
      .filter(estJaccard(col("a.sig"), col("b.sig")) >= cfg.nearDupThreshold)
      .select(col("a.doc_id").as("doc_id")).distinct()
    // 3.5 semantic near-dup vs the standing ANN index (all prior runs):
    //     one probed-cells query per batch, no prior-corpus rescan.
    //     "Usable" = complete layout AND not built by THIS batch (the
    //     built_by_batch intent marker, written before the stream's own
    //     first-batch build): during a replay of the batch that built the
    //     index, querying it would see that batch's own survivors and
    //     could drop a different doc set than the original execution —
    //     the marker pins replay behavior to the original (no index yet).
    //     An externally-built index (ann-build CLI — complete layout, no
    //     marker) is always usable.
    def fsOf(dir: String) = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def annReady(dir: String): Boolean = {
      val fs = fsOf(dir)
      Seq("model", "centroids", "cells").forall(p =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$p")))
    }
    def builtByBatch(dir: String): Option[Long] = {
      val fs = fsOf(dir)
      val p = new org.apache.hadoop.fs.Path(s"$dir/built_by_batch")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
        finally in.close()
      }
    }
    cfg.annIndexDir.foreach { _ =>
      require(fresh.columns.contains(cfg.embeddingCol),
        s"annIndexDir needs column '${cfg.embeddingCol}' on the stream")
    }
    val vsIndex = cfg.annIndexDir
      .filter(d => annReady(d) && !builtByBatch(d).contains(batchId)) match {
      case Some(dir) =>
        graft.ext.Similarity.indexTopK(fresh, dir, cfg.idCol, cfg.embeddingCol, k = 1)
          .filter(col("sim") >= cfg.nearDupThreshold)
          .select(col("qid").as("doc_id")).distinct()
      case None => spark.range(0).select(col("id").as("doc_id"))
    }
    // 3.6 frozen-centroid SemDeDup across the accumulated stream
    //     (semDedupCentroids — the streaming twin of the batch pipeline's
    //     nearDupMethod="semantic"): label this batch's fresh docs with
    //     the FROZEN artifact (per-batch retraining would drift the
    //     blocking key), then drop a doc when an earlier row of its
    //     cluster — a prior batch's SEEN member or a smaller-id row of
    //     this batch — has rounded cosine >= nearDupThreshold. State
    //     appends carry ALL of the batch's labeled rows, kept AND
    //     dropped: the batch operator's drop rule references earlier
    //     dropped rows too, so survivor-only state (the band state's
    //     convention) would diverge from CorpusPipeline's semantic path.
    //     GROWTH: this state accumulates one row per doc EVER SEEN and is
    //     re-read and re-joined by every batch — inherent to the operator
    //     (each new doc must compare against all earlier same-cluster
    //     rows), but replay-duplicate rows pile up as extra FILES; fold
    //     them with [[compactSemDedupState]] during the same offline
    //     maintenance window as search-compact/ann-compact.
    val semDir = s"$outDir/state/semdedup"
    val (vsSem, semBatchRows) = cfg.semDedupCentroids match {
      case Some(path) =>
        require(fresh.columns.contains(cfg.embeddingCol),
          s"semDedupCentroids needs column '${cfg.embeddingCol}' on the stream")
        val cents = centroidCache.computeIfAbsent(path,
          p => graft.ext.Similarity.loadClusterCentroids(spark, p))
        val labeled = graft.ext.Similarity
          .assignClustersWith(fresh, cfg.embeddingCol, cents)
          .select(col(cfg.idCol).as("doc_id"), col("cluster_id"),
            graft.ext.Similarity.unitize(col(cfg.embeddingCol)
              .cast("array<double>")).as("uv"))
        val prior = stateRead(spark, semDir, labeled).map(_
          .filter(col("batch_id") =!= batchId) // replay: own rows invisible
          .select(col("doc_id").as("prior_id"), col("cluster_id"),
            col("uv").as("_puv")).distinct())
        val vsPriorSem = prior match {
          case Some(p) => labeled.join(p, Seq("cluster_id"))
            .filter(col("prior_id") < col("doc_id") &&
              round(graft.ext.Similarity.dot(col("uv"), col("_puv")), 4)
                >= cfg.nearDupThreshold)
            .select("doc_id").distinct()
          case None => spark.range(0).select(col("id").as("doc_id"))
        }
        val la = labeled.select(col("doc_id").as("_aid"), col("cluster_id"),
          col("uv").as("_ua"))
        val lb = labeled.select(col("doc_id"), col("cluster_id"),
          col("uv").as("_ub"))
        val inBatchSem = la.join(lb, Seq("cluster_id"))
          .filter(col("_aid") < col("doc_id") &&
            round(graft.ext.Similarity.dot(col("_ua"), col("_ub")), 4)
              >= cfg.nearDupThreshold)
          .select("doc_id").distinct()
        (vsPriorSem.unionByName(inBatchSem).distinct(), Some(labeled))
      case None =>
        (spark.range(0).select(col("id").as("doc_id")),
          None: Option[DataFrame])
    }
    val dropIds = vsPrior.unionByName(vsBatch).unionByName(vsIndex)
      .unionByName(vsSem).distinct()
    val dedupSurvivors = sigged.join(
      dropIds.withColumnRenamed("doc_id", cfg.idCol), Seq(cfg.idCol), "left_anti")

    // 3.7 temperature mixing vs the ACCUMULATED stream (mixBudget): the
    //     streaming analog of [[Mixing.temperatureMix]]. state/mix keeps
    //     one (source, mass, spent, batch_id) row per source per batch;
    //     each batch re-derives budgets from the TOTAL mass seen so far
    //     (prior + this batch, same integer temperatureBudgets math as the
    //     batch operator) and accepts this batch's ordered prefix against
    //     budget − already-spent. Prefix-greedy semantics, documented: a
    //     source whose relative mass share SHRINKS over the stream can sit
    //     temporarily over-budget (remaining clamps to 0, nothing accepted)
    //     until its budget catches back up — the stream cannot un-emit.
    //     A single-batch stream is EXACTLY the batch operator (spec law).
    //     Reads exclude the current batch like every other state.
    //     With mixClusterCentroids set, the group key is a LATENT topic
    //     cluster id from FROZEN centroids instead of the provenance
    //     column ([[graft.ext.Mixing.clusterBalancedSampleWith]] batch
    //     twin): centroids load once per stream lifetime (per-batch
    //     retraining would drift cluster ids and corrupt the accumulated
    //     per-group mass/spend state), labeling is one map-only codegen
    //     argmax, and rows with null/wrong-dimension embeddings drop —
    //     the same semantics as the batch operator.
    val mixDir = s"$outDir/state/mix"
    val phMassDir = s"$outDir/state/phasedmix_mass"
    val phSpentDir = s"$outDir/state/phasedmix_spent"
    require(cfg.mixBudget.isEmpty || cfg.mixPhases.isEmpty,
      "mixBudget and mixPhases are mutually exclusive (a phase schedule " +
        "carries its own per-phase budgets)")
    // shared labeling: provenance column, or frozen-centroid topic labels
    def labeledMixDocs(): (DataFrame, String) = cfg.mixClusterCentroids match {
      case Some(p) =>
        require(dedupSurvivors.columns.contains(cfg.embeddingCol),
          s"mixClusterCentroids needs column '${cfg.embeddingCol}' " +
            "on the stream")
        val cents = centroidCache.computeIfAbsent(p,
          pp => graft.ext.Similarity.loadClusterCentroids(spark, pp))
        (graft.ext.Similarity.assignClustersWith(dedupSurvivors,
          cfg.embeddingCol, cents), "cluster_id")
      case None => (dedupSurvivors, cfg.mixSourceCol)
    }
    val (survivors, mixBatchRows, phasedBatchRows) = (cfg.mixBudget,
        cfg.mixPhases) match {
      case (None, Nil) => (dedupSurvivors, None, None)
      case (Some(totalB), _) =>
        val costCol = length(col(cfg.textCol)).cast("long")
        val (mixDocs, groupCol) = labeledMixDocs()
        val batchMass = mixDocs
          .groupBy(col(groupCol).cast("string").as("_src"))
          .agg(sum(costCol).as("_mass")).collect()
          .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
          .toMap
        val prior: Map[String, (Long, Long)] =
          stateRead(spark, mixDir, null) match {
            case Some(st) => st.filter(col("batch_id") =!= batchId)
              .select("source", "mass", "spent", "batch_id").distinct()
              .groupBy("source").agg(sum("mass").as("m"), sum("spent").as("s"))
              .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
              .toMap
            case None => Map.empty
          }
        val masses = (batchMass.keySet ++ prior.keySet).toSeq.sorted.map { src =>
          src -> (prior.get(src).map(_._1).getOrElse(0L) +
            batchMass.getOrElse(src, 0L))
        }
        val budgets = Mixing.temperatureBudgets(masses, totalB, cfg.mixTemperature)
        val remaining = budgets.map { case (src, b) =>
          src -> math.max(0L, b - prior.get(src).map(_._2).getOrElse(0L)) }
        val kept = Mixing.capPerSourceWith(mixDocs, groupCol,
          cfg.idCol, costCol, remaining)
        val spentNow = kept.groupBy(col(groupCol).cast("string").as("_src"))
          .agg(max("_cum").as("_spent")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val rows = batchMass.keySet.toSeq.sorted.map { src =>
          (src, batchMass(src), spentNow.getOrElse(src, 0L), batchId)
        }
        // cluster_id is derived labeling state, not corpus schema — the
        // emitted docs keep the input columns either way
        val cleanKept =
          if (cfg.mixClusterCentroids.isDefined) kept.drop("_cum", "cluster_id")
          else kept.drop("_cum")
        (cleanKept, Some(rows), None)

      // 3.8 PHASED (annealing) mixing over the stream — the streaming twin
      //     of [[Mixing.phasedMix]]: phase k accepts from the docs phases
      //     0..k-1 did not take, under its own (budget, temperature), with
      //     phase-k budgets re-derived EVERY batch from the accumulated
      //     remaining masses (total mass seen so far minus what earlier
      //     phases spent — exactly the mass the batch operator would see as
      //     "remaining" at that boundary) and acceptance prefix-greedy
      //     against budget − already-spent per (phase, group). State:
      //     state/phasedmix_mass (source, mass, batch_id — one row per
      //     group per batch) + state/phasedmix_spent (phase, source, spent,
      //     batch_id), both batch-tagged, deduplicated and current-batch-
      //     excluded on read like every other state. A SINGLE-batch stream
      //     is exactly [[Mixing.phasedMix]] (spec law); so is a multi-batch
      //     monotone-id stream whose group shares stay constant (e.g. one
      //     group), where the re-derived budgets coincide with the final
      //     ones. Otherwise the same documented prefix-greedy tradeoff as
      //     mixBudget applies: the stream cannot un-emit, so a group whose
      //     mass share shrinks can sit temporarily over-budget. Emitted
      //     docs carry a `phase` column (the batch operator's output
      //     contract); a doc appears in at most one phase, ever.
      case (None, phases) =>
        require(phases.map(_.name).distinct.length == phases.length,
          s"phase names must be unique, got ${phases.map(_.name)}")
        val costCol = length(col(cfg.textCol)).cast("long")
        val (mixDocs, groupCol) = labeledMixDocs()
        val batchMass = mixDocs
          .groupBy(col(groupCol).cast("string").as("_src"))
          .agg(sum(costCol).as("_mass")).collect()
          .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
          .toMap
        val priorMass: Map[String, Long] =
          stateRead(spark, phMassDir, null) match {
            case Some(st) => st.filter(col("batch_id") =!= batchId)
              .select("source", "mass", "batch_id").distinct()
              .groupBy("source").agg(sum("mass").as("m"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            case None => Map.empty
          }
        val accMass = (batchMass.keySet ++ priorMass.keySet).map { src =>
          src -> (priorMass.getOrElse(src, 0L) + batchMass.getOrElse(src, 0L))
        }.toMap
        val priorSpent: Map[(String, String), Long] =
          stateRead(spark, phSpentDir, null) match {
            case Some(st) => st.filter(col("batch_id") =!= batchId)
              .select("phase", "source", "spent", "batch_id").distinct()
              .groupBy("phase", "source").agg(sum("spent").as("s"))
              .collect()
              .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
            case None => Map.empty
          }
        var pool = mixDocs
        // accumulated spend of EARLIER phases per group (prior batches +
        // this batch's earlier-phase accepts): what phase k's masses deduct
        var spentBefore: Map[String, Long] = Map.empty
        val outs = Seq.newBuilder[DataFrame]
        val spentRows = Seq.newBuilder[(String, String, Long, Long)]
        phases.foreach { ph =>
          val priorPh: Map[String, Long] = priorSpent.collect {
            case ((p, s), v) if p == ph.name => s -> v }
          val masses = accMass.toSeq.sortBy(_._1).map { case (src, m) =>
            src -> math.max(0L, m - spentBefore.getOrElse(src, 0L)) }
          val budgets = Mixing.temperatureBudgets(masses, ph.budget,
            ph.temperature)
          val remaining = budgets.map { case (src, b) =>
            src -> math.max(0L, b - priorPh.getOrElse(src, 0L)) }
          // localCheckpoint: three consumers (spend collect, anti-join,
          // output union) — and it keeps phase k+1's plan from re-deriving
          // every earlier phase (the batch operator's id-set pattern)
          val kept = Mixing.capPerSourceWith(pool, groupCol,
            cfg.idCol, costCol, remaining).localCheckpoint()
          val spentNow: Map[String, Long] = kept
            .groupBy(col(groupCol).cast("string").as("_src"))
            .agg(max("_cum").as("_s")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          spentRows ++= batchMass.keySet.toSeq.sorted.map { src =>
            (ph.name, src, spentNow.getOrElse(src, 0L), batchId) }
          spentBefore = (spentBefore.keySet ++ priorPh.keySet ++
            spentNow.keySet).map { src =>
            src -> (spentBefore.getOrElse(src, 0L) +
              priorPh.getOrElse(src, 0L) + spentNow.getOrElse(src, 0L))
          }.toMap
          pool = pool.join(kept.select(col(cfg.idCol).as("_ph_id")),
            col(cfg.idCol) === col("_ph_id"), "left_anti")
          outs += kept.withColumn("phase", lit(ph.name))
        }
        val allKept = outs.result().reduce(_ unionByName _)
        val cleanKept =
          if (cfg.mixClusterCentroids.isDefined) allKept.drop("_cum", "cluster_id")
          else allKept.drop("_cum")
        val massRows = batchMass.keySet.toSeq.sorted.map { src =>
          (src, batchMass(src), batchId) }
        (cleanKept, None, Some((massRows, spentRows.result())))
    }

    // 4. append survivors to the bundle (replay-safe committer) + states
    val docsOut = graft.transform.DocTransform.docs(
      survivors.drop("_fp", "_sig"), cfg.idCol, None)
    BundleStreamWriter.commitBatch(docsOut, batchId, outDir, cfg.numShards)
    val survBanded = banded.join(
      survivors.select(col(cfg.idCol).as("doc_id")), Seq("doc_id"))
    survivors.select(col("_fp").as("fp"), lit(batchId).as("batch_id"))
      .write.mode(SaveMode.Append).parquet(fpDir)
    survBanded.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Append).parquet(bandDir)
    // span-state append: this batch's window document frequencies (from
    // the PRE-strip quality docs — deterministic on replay; identical
    // batch-tagged rows are deduplicated on read)
    spanBatchDf.foreach(_.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Append).parquet(spanDir))
    // semdedup-state append: ALL of this batch's labeled rows (kept AND
    // dropped — see stage 3.6; batch-tagged, deduplicated on read)
    semBatchRows.foreach(_.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Append).parquet(semDir))
    // mix-state append: this batch's per-source mass + accepted spend
    // (identical rows on replay — deduplicated on read like the others)
    mixBatchRows.foreach { rows =>
      import spark.implicits._
      rows.toDF("source", "mass", "spent", "batch_id")
        .write.mode(SaveMode.Append).parquet(mixDir)
    }
    // phased-mix state append: per-group mass once per batch, spend per
    // (phase, group) — same batch-tagged replay protocol
    phasedBatchRows.foreach { case (massRows, spentRows) =>
      import spark.implicits._
      massRows.toDF("source", "mass", "batch_id")
        .write.mode(SaveMode.Append).parquet(phMassDir)
      spentRows.toDF("phase", "source", "spent", "batch_id")
        .write.mode(SaveMode.Append).parquet(phSpentDir)
    }

    // 5. maintain the standing semantic index as part of the commit.
    //    Replay-safe cases, disambiguated by the built_by_batch INTENT
    //    marker (written atomically BEFORE the stream's own build, so an
    //    annReady dir without a marker is unambiguously external):
    //     - usable (ready, not this batch's marker): rename-if-absent
    //       append (AnnIndexStream.commitBatch — a replayed append is a
    //       no-op). Without the marker, a replay of the batch that BUILT
    //       the index would take this path and re-ingest every survivor
    //       under non-colliding b<batchId>-p* names, duplicating nids;
    //     - marker == this batch: the build ran (maybe partially) in a
    //       previous attempt of this very batch — rebuild. The replay's
    //       survivors are identical (vsIndex is gated off by the same
    //       marker), and the build is deterministic, so the overwrite
    //       recreates the index bit-equal, whole layout included;
    //     - no marker, not ready: first build — marker, then build. An
    //       ALL-FILTERED batch skips (buildIndex cannot train on zero
    //       rows); the first non-empty batch builds instead.
    // 4.5 sequence packing parity (packMaxLen): this batch's survivors
    //     tokenized with the FROZEN model and packed into
    //     packed/batch_id=<id>/ — pools are per batch (a stream cannot
    //     re-pack emitted history; the batch path's global pools are the
    //     better-fill tradeoff of rerunning the batch pipeline). Replay
    //     safety is overwrite-determinism: Packing is a pure function of
    //     the batch's survivors, which the state protocol replays
    //     identically, so rewriting the same batch_id dir is a no-op in
    //     content terms (vs appends, which would double sequences).
    //     With packCarry = Some(k), open bins additionally thread through
    //     state/packbins (one batch_id=N snapshot dir per batch holding ALL
    //     still-open bins, read = latest snapshot with batch_id STRICTLY
    //     BEFORE the current batch, so a
    //     replay re-packs from the prior batch's bins and rewrites both the
    //     emitted dir and its own snapshot byte-identically; a sentinel
    //     seq_id = -1 row makes an all-emitted empty snapshot visible).
    //     Each sequence is emitted in exactly one packed/batch_id=N dir —
    //     the batch that FILLED or AGED-OUT its bin, so consecutive small
    //     batches share pools instead of each under-filling alone.
    for (maxLen <- cfg.packMaxLen) {
      val modelPath = cfg.bpeModelPath.getOrElse(throw new IllegalArgumentException(
        "packMaxLen on a stream requires bpeModelPath (a pre-trained BPE " +
          "model; per-batch retraining would drift token ids across batches)"))
      val model = bpeCache.computeIfAbsent(modelPath,
        p => graft.ext.Bpe.load(spark, p))
      val withIds = survivors
        .withColumn("_bpe_ids", model.tokenIds(col(cfg.textCol)))
      def writePacked(df0: DataFrame): Unit = {
        // packLoaderCols bakes the trainer loader columns into the
        // emitted rows (convention follows the style); writePacked only
        // ever sees EMITTED frames, never carry state
        val df =
          if (cfg.packLoaderCols)
            Packing.loaderColumnsFor(cfg.packStyle, df0, maxLen)
          else df0
        cfg.packRanks match {
          case Some(r) =>
            Packing.shardSequences(df, "seq_id", r, cfg.packSeed)
              .repartition(col("rank"))
              .write.mode(SaveMode.Overwrite).partitionBy("rank")
              .parquet(s"$outDir/packed/batch_id=$batchId")
          case None =>
            df.write.mode(SaveMode.Overwrite)
              .parquet(s"$outDir/packed/batch_id=$batchId")
        }
      }
      def snapshotIdsOf(dir: String): Seq[Long] = {
        val fsS = fsOf(dir)
        val root = new org.apache.hadoop.fs.Path(dir)
        if (!fsS.exists(root)) Seq.empty
        else {
          val names = fsS.listStatus(root).toSeq.map(_.getPath.getName)
          require(!names.exists(_.startsWith("part-")),
            s"$dir holds flat (pre-partitioned-layout) snapshot files; " +
              "migrate them under batch_id=N dirs before resuming")
          names.filter(_.startsWith("batch_id="))
            .map(_.stripPrefix("batch_id=").toLong)
        }
      }
      // packStyle "chunk": GPT-style concat-and-chunk across the stream —
      // the final PARTIAL window threads through state/chunkcarry
      // snapshots (same batch_id=N overwrite + read-strictly-before
      // protocol as packbins), so a stream of small batches emits only
      // exactly-full windows with globally continuous seq_ids. With
      // monotone batch ids the emitted windows equal the batch operator's
      // (the PackingSpec law). packCarry is the BFD path's knob — the two
      // styles are mutually exclusive.
      require(Set("bins", "chunk")(cfg.packStyle),
        s"unknown packStyle '${cfg.packStyle}' (bins | chunk)")
      if (cfg.packStyle == "chunk") {
        require(cfg.packCarry.isEmpty,
          "packCarry applies to packStyle=bins (chunk carries its partial " +
            "window by design)")
        val ccDir = s"$outDir/state/chunkcarry"
        val prior = snapshotIdsOf(ccDir).filter(_ < batchId).sorted.lastOption
          .map(pb => spark.read.parquet(s"$ccDir/batch_id=$pb"))
        // packBuckets threads through like the bins path: it only shapes
        // task balance (offsets are exact either way), but silently
        // pinning the default 64 would ignore the user's knob at scale
        val (emitted, carryOut) = Packing.chunkCarryBatch(withIds, cfg.idCol,
          "_bpe_ids", prior, maxLen, cfg.packEodToken, cfg.packBuckets)
        writePacked(emitted)
        carryOut.write.mode(SaveMode.Overwrite)
          .parquet(s"$ccDir/batch_id=$batchId")
      } else cfg.packCarry match {
        case None =>
          writePacked(Packing.packSequences(withIds, cfg.idCol, "_bpe_ids",
            maxLen, cfg.packBuckets))
        case Some(carryB) =>
          // snapshots live under batch_id=N partition dirs, one OVERWRITTEN
          // dir per batch: the prior-state read below opens exactly ONE
          // snapshot (a directory-name listing picks it), so per-batch read
          // cost stays flat over the stream's lifetime instead of scanning
          // every snapshot ever written. spark.read over the root still
          // surfaces batch_id as a partition column for audits/specs.
          val binDir = s"$outDir/state/packbins"
          val snapshotIds: Seq[Long] = snapshotIdsOf(binDir)
          // seed from the latest snapshot STRICTLY BEFORE this batch (not
          // merely != current): a snapshot is point-in-time state, so a
          // replayed batch must re-pack from the bins as they stood when it
          // first ran
          val prior = snapshotIds.filter(_ < batchId).sorted.lastOption.map { pb =>
            spark.read.parquet(s"$binDir/batch_id=$pb")
              .filter(col("seq_id") >= 0)
          }
          val (emitted, stillOpen) = Packing.packCarryBatch(withIds, cfg.idCol,
            "_bpe_ids", prior, batchId, maxLen, cfg.packBuckets, carryB)
          writePacked(emitted)
          val sentinel = spark.range(1).select(
            lit(-1L).as("seq_id"), lit(-1).as("bucket"),
            lit(batchId).as("opened_batch"), lit(0).as("remaining"),
            expr("cast(array() as array<int>)").as("input_ids"),
            expr(s"cast(array() as ${Packing.spanSqlType})").as("doc_spans"))
          stillOpen.unionByName(sentinel).write.mode(SaveMode.Overwrite)
            .parquet(s"$binDir/batch_id=$batchId")
      }
    }

    cfg.annIndexDir.foreach { dir =>
      val emb = survivors.select(col(cfg.idCol), col(cfg.embeddingCol))
      val marker = builtByBatch(dir)
      def writeMarker(): Unit = {
        val fs = fsOf(dir)
        val tmp = new org.apache.hadoop.fs.Path(s"$dir/.built_by_batch.tmp")
        val out = fs.create(tmp, true)
        try out.write(batchId.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        fs.rename(tmp, new org.apache.hadoop.fs.Path(s"$dir/built_by_batch"))
        ()
      }
      def build(): Unit = {
        val n = emb.count()
        if (n > 0) {
          writeMarker()
          val nlist = math.max(4, (math.sqrt(n.toDouble) / 2).round.toInt)
          graft.ext.Similarity.buildIndex(emb, cfg.idCol, cfg.embeddingCol, dir,
            nlist = nlist, kmeansIters = 2)
        }
      }
      if (annReady(dir) && !marker.contains(batchId))
        AnnIndexStream.commitBatch(emb, batchId, dir, cfg.idCol, cfg.embeddingCol)
      else build()
    }
  }

  /**
   * Fold the accumulated SemDeDup label state (`state/semdedup`) into one
   * deduplicated snapshot — the state-side compaction story the other
   * standing artifacts already have (search-compact / ann-compact). The
   * state grows one row per doc ever seen BY DESIGN (stage 3.6's drop
   * rule compares each new doc against all earlier same-cluster rows),
   * but replayed batches append duplicate ROWS and every batch appends a
   * new FILE — this rewrites to distinct (doc_id, cluster_id, uv) rows in
   * ~one file per partition, count-checked and swapped in through
   * [[graft.sink.FsAtomic.replaceDir]].
   *
   * Compacted rows take `batch_id = -1`: prior-state reads exclude only
   * the CURRENT batch's id, and no future batch is −1, so the snapshot
   * stays visible to every later batch. OFFLINE maintenance op — run only
   * while the stream is stopped after a clean checkpoint commit (a replay
   * of an old batch after its rows were re-tagged would see its own rows
   * as prior state and double-drop). Returns (rows before, rows after).
   */
  def compactSemDedupState(spark: org.apache.spark.sql.SparkSession,
                           outDir: String): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$outDir/state/semdedup")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    graft.sink.FsAtomic.heal(fs, dir)
    if (!fs.exists(dir)) return (0L, 0L)
    val data = spark.read.parquet(dir.toString)
    val before = data.count()
    val snap = data.drop("batch_id").distinct()
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(-1L))
    val after = graft.sink.FsAtomic.replaceDir(fs, dir) { staging =>
      snap.write.parquet(staging.toString)
      val after = spark.read.parquet(staging.toString).count()
      val expect = data.drop("batch_id").distinct().count()
      if (after != expect) throw new IllegalStateException(
        s"semdedup state compaction aborted: " +
          s"snapshot has $after of $expect distinct rows; state left intact")
      after
    }
    (before, after)
  }
}
