package graft

import graft.pipeline.Hive2Es
import graft.pipeline.Hive2Es.GraftConfig

/**
 * CLI entry point (reference `ArgsParser.scala:31-128` surface, minus the
 * ES/ZK deployment flags that the bundle sink replaces).
 *
 * Usage:
 *   graft.Main --input <table-or-path> --out <dir> --index <name>
 *     [--num-shards N] [--where SQL] [--id COL] [--routing COL]
 *     [--partition-multiples N] [--repartition true|false]
 *     [--format json|parquet] [--compression gzip|zstd|...]
 *     [--mode generic|infer|append|stream|compact|validate|install|tokenize|pack|quality-train|quality-score|pipeline|stream-pipeline|multi|ann-build|ann-append|ann-query|ann-stream|ann-compact|ann-strip|ann-split|ann-maintain|ann-drift|ann-delete|search|search-batch|search-build|search-append|search-stream|search-compact|search-delete|semdedup|split]
 *     [--json-source]
 *   (stream modes watch --input as a DIRECTORY of arriving parquet files)
 */
object Main {
  private val KnownFlags = Set("input", "out", "index", "num-shards", "where",
    "id", "routing", "partition-multiples", "repartition", "json-source",
    "mapping", "index-hive-fields", "index-es-fields", "format",
    "infer-sample", "mode", "compression",
    "text-col", "bpe-merges", "bpe-max-words", "bpe-model",
    "type-name", "hive-input-fields", "index-col",
    "quality-min", "neardup-threshold", "neardup-method", "embedding-col",
    "embed-staged-passes",
    "redact-pii", "lm-min-score",
    "bulk-actions", "bulk-size", "alias", "final-index-setting",
    "install-compact", "poll-ms", "timeout-ms",
    "vec-col", "nlist", "nprobe", "pq-m", "pq-k", "opq-iters",
    "topk", "rerank-factor", "results", "cell-salt", "cell", "sub",
    "store-vectors", "rerank-corpus", "rerank-vec-col", "residual",
    "payload-cols", "filter", "filter-selectivity", "ann-index",
    "neardup-clusters",
    "strip-spans", "span-window", "span-min-docs",
    "decontaminate-bench", "decontaminate-text-col", "decontaminate-n",
    "decontaminate-min-hits", "pack-max-len", "pack-buckets", "pack-ranks",
    "pack-seed", "pack-carry", "mix-budget", "mix-temperature",
    "mix-source-col", "tokens-col", "negative", "quality-dim",
    "quality-model", "quality-min", "quality-prob-min",
    "quality-pareto-alpha", "quality-pareto-seed", "mix-cluster-k",
    "mix-cluster-centroids", "kmeans-iters", "pack-style", "pack-eod",
    "mix-phases", "pack-loader-cols",
    "query", "queries", "embeddings", "search-vec-id", "search-vec-id-col",
    "search-kcand", "search-index", "search-buckets", "search-positional",
    "split-by", "split-fractions", "split-seed", "semdedup-centroids",
    "facets", "facets-topn", "facets-missing", "highlight",
    "highlight-window",
    "phrase", "slop", "delete-ids", "semdedup-keep", "must", "should",
    "must-not",
    "histogram", "fields", "multi-mode", "min-should-match",
    "fuzziness", "prefix-match", "max-expansions",
    "wildcard", "phrase-prefix", "date-histogram", "range-agg",
    "cardinality", "significant-terms", "top-hits", "pipeline-aggs",
    "collapse", "rescore-phrase", "rescore-window", "rescore-weight",
    "query-weight", "field-factor", "gauss-decay", "boost-mode",
    "suggest-term", "suggest-prefix", "max-edits",
    "negative-query", "negative-boost",
    "span-near", "span-slop", "span-first", "geo-distance",
    "span-or", "span-not", "span-pre", "span-post",
    "terms-set", "msm-field",
    "stats", "extended-stats", "percentile-ranks",
    "parent-col", "score-mode", "min-children", "search-after",
    "regexp", "tie-breaker", "geo-box", "geo-polygon", "geohash-grid",
    "percentiles", "more-like", "mlt-text", "min-term-freq",
    "min-doc-freq", "max-query-terms")

  /** Reference ArgsParser spellings accepted verbatim (parity: a reference
    * user's command line works unchanged). */
  private val Aliases = Map(
    "hive-table" -> "input",
    "number-of-shards" -> "num-shards",
    "index-name" -> "index",
    "hdfs-work-dir" -> "out")

  /** Reference flags that configure the ES/ZK deployment half this engine
    * replaces with a bundle sink — accepted and ignored with a notice, so
    * existing invocations don't break. (--bulk-actions/--bulk-size map to
    * writer sizing and --alias/--final-index-setting to manifest fields —
    * only the truly deployment-bound flags remain ignored.) */
  private val DeploymentOnly = Set(
    "local-data-dir", "bulk-flush-interval", "zookeeper", "chroot")

  def parse(args: Array[String]): (GraftConfig, String) = {
    var m = Map[String, String]("mode" -> "infer")
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--json-source" => m += ("json-source" -> "true"); i += 1
        case flag if flag.startsWith("--") && i + 1 < args.length =>
          val key0 = flag.drop(2)
          val key = Aliases.getOrElse(key0, key0)
          if (DeploymentOnly(key)) {
            System.err.println(s"[graft] --$key0 configures the ES/ZK deployment " +
              "half; the bundle sink has no use for it — ignored")
            i += 2
          } else {
            // a typo'd flag silently running with defaults is a
            // placement-breaking misconfiguration — reject unknown keys
            if (!KnownFlags(key))
              throw new IllegalArgumentException(
                s"unknown flag --$key0 (known: ${(KnownFlags ++ Aliases.keys).toSeq.sorted.mkString(", ")})")
            m += (key -> args(i + 1)); i += 2
          }
        case other => throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    def req(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing required --$k"))
    // fail fast on malformed user mapping (otherwise it lands verbatim in
    // the bundle's mapping.json and breaks consumers much later)
    m.get("mapping").foreach { json =>
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"--mapping is not valid JSON: ${e.getMessage}")
      }
    }
    def listOf(k: String): Set[String] =
      m.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val cfg = GraftConfig(
      input = if (Set("compact", "validate", "ann-compact", "ann-drift",
                      "ann-split", "ann-maintain", "ann-strip",
                      "search-compact", "search-delete",
                      "ann-delete", "suggest")(m("mode")) ||
                  // an indexed search never touches the corpus
                  (Set("search", "search-batch")(m("mode")) &&
                    m.contains("search-index")))
                m.getOrElse("input", "")
              else req("input"),
      outDir = req("out"),
      indexName = m("mode") match {
        case "tokenize" => m.getOrElse("index", "tokens")
        // install never needs an index; multi derives per-row names from
        // --index-col; validate without one means "--out is a multi-index
        // bundle root" (per-index validation)
        case "install" | "validate" | "multi" | "pack" |
             "quality-train" | "quality-score" | "train-centroids" |
             "search" | "search-batch" | "semdedup" | "search-build" |
             "search-append" | "search-stream" | "search-compact" |
             "search-delete" | "split" | "suggest" =>
          m.getOrElse("index", "")
        // ann modes address an index DIRECTORY (--out), not a bundle name
        case "ann-build" | "ann-append" | "ann-query" | "ann-compact" |
             "ann-drift" | "ann-stream" | "ann-split" | "ann-maintain" |
             "ann-strip" | "ann-delete" =>
          m.getOrElse("index", "")
        case _          => req("index")
      },
      // "auto" = cost-based sizing, resolved against the (filtered) input
      // before the run — sentinel -1 until then
      numShards = m.getOrElse("num-shards", "3") match {
        case "auto" => -1
        case s => s.toInt
      },
      where = m.getOrElse("where", "1 = 1"),
      id = m.getOrElse("id", null),
      routing = m.getOrElse("routing", null),
      partitionMultiples = m.getOrElse("partition-multiples", "10").toInt,
      repartition = m.getOrElse("repartition", "false").toBoolean,
      jsonSource = m.contains("json-source"),
      mappingJson = m.get("mapping"),
      indexHiveFields = listOf("index-hive-fields"),
      indexEsFields = listOf("index-es-fields"),
      format = m.getOrElse("format", "json"),
      inferSampleFraction = m.getOrElse("infer-sample", "1.0").toDouble,
      compression = m.get("compression"),
      typeName = m.getOrElse("type-name", "doc"),
      hiveInputFields = m.get("hive-input-fields")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty),
      bulkActions = m.get("bulk-actions").map(_.toLong),
      bulkSizeMb = m.get("bulk-size").map(_.toLong), // reference unit: MB
      alias = m.get("alias"),
      // reference spelling: --final-index-setting k=v[,k=v...]
      finalSettings = m.get("final-index-setting").map(_.split(",").map(_.trim)
          .filter(_.contains("=")).map { kv =>
            val cut = kv.indexOf('=')
            kv.substring(0, cut) -> kv.substring(cut + 1)
          }.toMap).getOrElse(Map.empty))
    (cfg, m("mode"))
  }

  /** Raw flag map for modes with extra knobs (tokenize). */
  private[graft] def rawFlags(args: Array[String]): Map[String, String] = {
    var m = Map[String, String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--json-source" => m += ("json-source" -> "true"); i += 1
        case flag if flag.startsWith("--") && i + 1 < args.length =>
          m += (flag.drop(2) -> args(i + 1)); i += 2
        case _ => i += 1
      }
    }
    m
  }

  /** `--mix-phases "name:budget[:temperature],..."` — e.g.
    * `pretrain:40000:0.5,anneal:20000:0.7` (temperature defaults 0.5). */
  private[graft] def parseMixPhases(s: String): Seq[graft.ext.Mixing.MixPhase] =
    s.split(",").toIndexedSeq.filter(_.nonEmpty).map { p =>
      def bad(why: String) = throw new IllegalArgumentException(
        s"bad --mix-phases entry '$p' ($why; want name:budget[:temperature])")
      def num[A](what: String, v: String, f: String => A): A =
        try f(v.trim) catch { case _: NumberFormatException =>
          bad(s"non-numeric $what '$v'") }
      // split with limit -1: a trailing ':' must be an error, not a
      // silently-defaulted temperature
      p.split(":", -1) match {
        case Array(n, b) =>
          graft.ext.Mixing.MixPhase(n.trim, num("budget", b, _.toLong))
        case Array(n, b, t) =>
          graft.ext.Mixing.MixPhase(n.trim, num("budget", b, _.toLong),
            num("temperature", t, _.toDouble))
        case _ => bad("wrong field count")
      }
    }

  def main(args: Array[String]): Unit = {
    val (cfg0, mode) = parse(args)
    val spark = GraftSession.get("graft-hive2es")
    val cfg =
      if (cfg0.numShards == -1 && (mode == "generic" || mode == "infer")) {
        val d = graft.sink.ShardSizing.suggest(Hive2Es.read(spark, cfg0))
        println(s"auto shard sizing: numShards=${d.numShards} " +
          s"partitionMultiples=${d.partitionMultiples} " +
          s"(est ${d.estInputBytes} input bytes -> ${d.estDocBytes} doc bytes)")
        cfg0.copy(numShards = d.numShards, partitionMultiples = d.partitionMultiples)
      } else cfg0
    try {
      mode match {
        case "generic" | "infer" =>
          val result =
            if (mode == "generic") Hive2Es.runGeneric(spark, cfg)
            else Hive2Es.runInferred(spark, cfg)
          println(s"bundle written: ${result.outDir}")
          println(s"totalDocs=${result.totalDocs} shards=${result.numShards}")
          result.shardCounts.toSeq.sorted.foreach { case (s, n) => println(s"  shard $s: $n docs") }
        case "append" =>
          // incremental batch load into an EXISTING bundle (the connector
          // write path as a CLI verb): rows -> docs -> insertInto. Shard
          // count/format/codec come from the bundle's own manifest; only
          // the new rows are exchanged and written.
          val src = spark.read.parquet(cfg.input).where(cfg.where)
          val rawA = rawFlags(args)
          // --index-col: append into a MULTI-index bundle — the column
          // routes each row to its index (per-index manifest CAS inside)
          val docs = rawA.get("index-col") match {
            case Some(c) => graft.transform.DocTransform.docs(src,
                Option(cfg.id).getOrElse(src.columns.head), Option(cfg.routing),
                keepCols = Seq(c))
              .withColumnRenamed(c, "_index")
            case None => graft.transform.DocTransform.docs(src,
              Option(cfg.id).getOrElse(src.columns.head), Option(cfg.routing))
          }
          val result = graft.sink.BundleSink.insertInto(docs,
            s"${cfg.outDir}/${cfg.indexName}", overwrite = false)
          println(s"bundle appended: ${result.outDir}")
          println(s"totalDocs=${result.totalDocs} shards=${result.numShards}")
          result.shardCounts.toSeq.sorted.foreach { case (s, n) => println(s"  shard $s: $n docs") }
        case "stream" =>
          // incremental producer: watch a parquet directory of source rows,
          // shard each arriving batch into the bundle (drains then stops;
          // rerun with the same checkpoint to pick up only new files)
          val src = spark.read.parquet(cfg.input)
          val stream = spark.readStream.schema(src.schema).parquet(cfg.input)
          val docs = graft.transform.DocTransform.docs(stream,
            Option(cfg.id).getOrElse(src.columns.head), Option(cfg.routing))
          val out = s"${cfg.outDir}/${cfg.indexName}"
          val q = graft.streaming.BundleStreamWriter.start(
            docs, out, cfg.numShards, s"${cfg.outDir}/.ckpt_${cfg.indexName}")
          q.awaitTermination(600000)
          // seal: counts -> manifest state completed + shard_state, so the
          // drained bundle validates and installs like a batch-written one
          val res = graft.streaming.BundleStreamWriter.seal(spark, out,
            cfg.numShards, indexName = cfg.indexName)
          println(s"bundle written (streaming, sealed): $out")
          println(s"totalDocs=${res.totalDocs} shards=${cfg.numShards}")
          res.shardCounts.toSeq.sorted.foreach { case (s, n) => println(s"  shard $s: $n docs") }
        case "pipeline" =>
          // the training-data build: quality -> exact dedup -> near-dup
          // removal -> BPE tokenize -> columnar bundle
          val raw = rawFlags(args)
          val st = graft.pipeline.CorpusPipeline.run(spark, cfg.input, cfg.outDir,
            cfg.indexName,
            idCol = Option(cfg.id).getOrElse("doc_id"),
            textCol = raw.getOrElse("text-col", "text"),
            numShards = cfg.numShards, partitionMultiples = cfg.partitionMultiples,
            qualityMin = raw.getOrElse("quality-min", "0.5").toDouble,
            nearDupThreshold = raw.getOrElse("neardup-threshold", "0.9").toDouble,
            bpeMerges = raw.getOrElse("bpe-merges", "2000").toInt,
            bpeMaxWords = raw.getOrElse("bpe-max-words", "50000").toInt,
            redactPii = raw.get("redact-pii").exists(_.toBoolean),
            lmMinScore = raw.get("lm-min-score").map(_.toDouble),
            nearDupMethod = raw.getOrElse("neardup-method", "minhash"),
            embeddingCol = raw.getOrElse("embedding-col", "embedding"),
            // opt-in past the strict-LSH scale gate: staged table-group
            // passes bound the peak signature-exchange footprint
            embedStagedPasses = raw.get("embed-staged-passes").map(_.toInt),
            // standing ANN index for cross-run semantic dedup (embedding
            // method): prior-run near-dups drop, survivors get indexed
            annIndexDir = raw.get("ann-index"),
            // frozen centroid artifact for --neardup-method semantic
            semDedupCentroids = raw.get("semdedup-centroids"),
            // keep rule for the semantic pairs: first | low-similarity
            semDedupKeep = raw.getOrElse("semdedup-keep", "first"),
            // connected-components drop policy: one representative per
            // TRANSITIVE duplicate cluster (vs pairwise higher-id drop)
            clusterDrop = raw.get("neardup-clusters").exists(_.toBoolean),
            // cross-document boilerplate stripping before dedup
            stripSpans = raw.get("strip-spans").exists(_.toBoolean),
            spanK = raw.getOrElse("span-window", "10").toInt,
            spanMinDocs = raw.getOrElse("span-min-docs", "2").toInt,
            // benchmark decontamination: eval-set parquet -> broadcast
            // n-gram set; colliding docs dropped before dedup
            decontamBench = raw.get("decontaminate-bench"),
            decontamBenchTextCol = raw.getOrElse("decontaminate-text-col", "text"),
            decontamN = raw.getOrElse("decontaminate-n", "13").toInt,
            decontamMinHits = raw.getOrElse("decontaminate-min-hits", "1").toInt,
            // trainer-shape terminal artifact: survivors' token ids packed
            // into fixed-capacity sequences at <bundle>/packed/
            packMaxLen = raw.get("pack-max-len").map(_.toInt),
            packBuckets = raw.getOrElse("pack-buckets", "256").toInt,
            packRanks = raw.get("pack-ranks").map(_.toInt),
            packSeed = raw.getOrElse("pack-seed", "0").toLong,
            // --pack-style chunk: GPT-style concat-and-chunk export
            // (fill = 1, docs span boundaries; --pack-eod N terminates)
            packStyle = raw.getOrElse("pack-style", "bins"),
            packEodToken = raw.get("pack-eod").map(_.toInt),
            // --pack-loader-cols true: bake position_ids/doc_index into
            // the export (convention follows the style)
            packLoaderCols = raw.get("pack-loader-cols").exists(_.toBoolean),
            // trained quality gate (quality-train output), composed after
            // the heuristic one: P(doc ~ seed) >= --quality-prob-min
            qualityModel = raw.get("quality-model")
              .map(p => graft.ext.QualityClassifier.load(spark, p)),
            qualityProbMin = raw.getOrElse("quality-prob-min", "0.5").toDouble,
            // --quality-pareto-alpha A: GPT-3-style sampling gate instead
            // of the hard threshold (deterministic md5-seeded draws)
            qualityParetoAlpha = raw.get("quality-pareto-alpha").map(_.toDouble),
            qualityParetoSeed = raw.getOrElse("quality-pareto-seed", "0").toLong,
            // mixture weights after dedup (batch form of the streaming
            // stage); --mix-cluster-k K balances latent embedding topics
            // instead of the --mix-source-col provenance column
            mixBudget = raw.get("mix-budget").map(_.toLong),
            mixTemperature = raw.getOrElse("mix-temperature", "0.5").toDouble,
            mixSourceCol = raw.getOrElse("mix-source-col", "source"),
            mixClusterK = raw.get("mix-cluster-k").map(_.toInt),
            // frozen centroids (train-centroids artifact) beat in-run
            // k-means when set: batch re-runs and streams label identically
            mixClusterCentroids = raw.get("mix-cluster-centroids"),
            // --mix-phases "pretrain:40000:0.5,anneal:20000:0.7": phased
            // (annealing) schedule instead of the single budget
            mixPhases = raw.get("mix-phases").map(parseMixPhases)
              .getOrElse(Nil))
          println(s"corpus pipeline -> ${st.bundle.outDir}")
          println(s"  input docs:       ${st.input}")
          println(s"  after quality:    ${st.afterQuality}")
          if (st.afterModelQuality >= 0)
            println(s"  after model gate: ${st.afterModelQuality}")
          if (st.afterLm >= 0) println(s"  after LM filter:  ${st.afterLm}")
          if (st.afterDecontam >= 0)
            println(s"  after decontam:   ${st.afterDecontam}")
          println(s"  after exact dedup:${st.afterExact}")
          if (st.droppedVsIndex >= 0)
            println(s"  dropped vs index: ${st.droppedVsIndex}")
          println(s"  after near-dup:   ${st.afterNearDup}")
          if (st.afterMix >= 0)
            println(s"  after mix:        ${st.afterMix}")
          println(s"  total BPE tokens: ${st.totalTokens}")
          if (st.packedSeqs >= 0)
            println(s"  packed sequences: ${st.packedSeqs}")
          st.bundle.shardCounts.toSeq.sorted.foreach { case (s2, n) =>
            println(s"  shard $s2: $n docs") }
        case "stream-pipeline" =>
          // incremental corpus build: watch a parquet dir of documents,
          // dedup each arriving batch against everything accepted so far
          val raw = rawFlags(args)
          val src = spark.read.parquet(cfg.input)
          val stream = spark.readStream.schema(src.schema).parquet(cfg.input)
          val out = s"${cfg.outDir}/${cfg.indexName}"
          val q = graft.streaming.StreamingCorpus.start(stream, out,
            s"${cfg.outDir}/.ckpt_${cfg.indexName}",
            graft.streaming.StreamingCorpus.Config(
              idCol = Option(cfg.id).getOrElse("doc_id"),
              textCol = raw.getOrElse("text-col", "text"),
              numShards = cfg.numShards,
              qualityMin = raw.getOrElse("quality-min", "0.5").toDouble,
              // frozen trained quality model (like --bpe-model: a stream
              // scores against a pre-trained artifact, never retrains)
              qualityModelPath = raw.get("quality-model"),
              qualityProbMin = raw.getOrElse("quality-prob-min", "0.5").toDouble,
              qualityParetoAlpha = raw.get("quality-pareto-alpha").map(_.toDouble),
              qualityParetoSeed = raw.getOrElse("quality-pareto-seed", "0").toLong,
              nearDupThreshold = raw.getOrElse("neardup-threshold", "0.9").toDouble,
              annIndexDir = raw.get("ann-index"),
              embeddingCol = raw.getOrElse("embedding-col", "embedding"),
              // frozen centroid artifact: streaming SemDeDup stage (the
              // batch pipeline's --neardup-method semantic twin)
              semDedupCentroids = raw.get("semdedup-centroids"),
              stripSpans = raw.get("strip-spans").exists(_.toBoolean),
              spanK = raw.getOrElse("span-window", "10").toInt,
              spanMinDocs = raw.getOrElse("span-min-docs", "2").toInt,
              decontamBench = raw.get("decontaminate-bench"),
              decontamBenchTextCol = raw.getOrElse("decontaminate-text-col", "text"),
              decontamN = raw.getOrElse("decontaminate-n", "13").toInt,
              decontamMinHits = raw.getOrElse("decontaminate-min-hits", "1").toInt,
              // per-batch sequence packing with a FROZEN tokenizer (the
              // stream cannot train one; see StreamingCorpus.Config)
              // --pack-carry K: cross-batch open-bin carryover (bins get
              // K top-up batches before aging out; fixes small-batch
              // under-fill at a K-batch emission-latency cost)
              packCarry = raw.get("pack-carry").map(_.toInt),
              packMaxLen = raw.get("pack-max-len").map(_.toInt),
              bpeModelPath = raw.get("bpe-model"),
              packBuckets = raw.getOrElse("pack-buckets", "256").toInt,
              packRanks = raw.get("pack-ranks").map(_.toInt),
              packSeed = raw.getOrElse("pack-seed", "0").toLong,
              // --pack-style chunk: concat-and-chunk across the stream
              // (partial windows carry via state/chunkcarry snapshots)
              packStyle = raw.getOrElse("pack-style", "bins"),
              packEodToken = raw.get("pack-eod").map(_.toInt),
              packLoaderCols = raw.get("pack-loader-cols").exists(_.toBoolean),
              // accumulated-stream temperature mixing (state/mix):
              // budgets re-derived per batch from total mass seen so far
              mixBudget = raw.get("mix-budget").map(_.toLong),
              mixTemperature = raw.getOrElse("mix-temperature", "0.5").toDouble,
              mixSourceCol = raw.getOrElse("mix-source-col", "source"),
              // frozen-centroid topic balancing (--mode train-centroids
              // artifact, or an ANN index's centroids/): the mix state is
              // keyed by latent cluster_id instead of the provenance column
              mixClusterCentroids = raw.get("mix-cluster-centroids"),
              // phased (annealing) schedule over the stream:
              // --mix-phases "pretrain:40000:0.5,anneal:20000:0.7"
              // (name:budget[:temperature]); mutually exclusive with
              // --mix-budget. Emitted docs carry a `phase` column.
              mixPhases = raw.get("mix-phases").map(parseMixPhases)
                .getOrElse(Nil)))
          q.awaitTermination(600000)
          val accepted = spark.read
            .schema(graft.streaming.BundleStream.bundleSchema).json(s"$out/data").count()
          println(s"incremental corpus -> $out")
          println(s"accepted docs so far: $accepted")
        case "multi" =>
          // one scan -> N indices: rows routed by --index-col
          val raw = rawFlags(args)
          val indexCol = raw.getOrElse("index-col",
            throw new IllegalArgumentException("--mode multi requires --index-col"))
          val input = Hive2Es.read(spark, cfg)
          val docs = graft.transform.DocTransform.docs(input,
            Option(cfg.id).getOrElse(input.columns.head), Option(cfg.routing),
            keepCols = Seq(indexCol))
          // inferred mapping (shared: every index sees the same scan schema)
          val mapping = graft.transform.SchemaInfer.toMappingJson(
            graft.transform.SchemaInfer.infer(input, cfg.typeOverrides,
              cfg.indexHiveFields, cfg.indexEsFields, cfg.inferSampleFraction))
          // per-index alias: explicit --alias wins; otherwise derived from
          // the index name like the reference ({alias}_{dt},
          // PAHive2ES.scala:41-42)
          val aliasFor: String => Option[String] = idx =>
            cfg.alias.orElse {
              val (a, dt) = Hive2Es.aliasAndDt(idx)
              if (dt.nonEmpty) Some(a) else None
            }
          val results = graft.sink.BundleSink.writeMulti(docs, cfg.outDir, indexCol,
            cfg.numShards, cfg.partitionMultiples, cfg.repartition, cfg.format,
            cfg.typeName, cfg.compression, mappingJson = Some(mapping),
            bulkActions = cfg.bulkActions,
            bulkSizeBytes = cfg.bulkSizeMb.map(_ * 1024L * 1024L),
            aliasFor = aliasFor, finalSettings = cfg.finalSettings)
          println(s"multi-index bundles written under ${cfg.outDir} (one scan)")
          results.toSeq.sortBy(_._1).foreach { case (idx, r) =>
            println(s"  $idx: ${r.totalDocs} docs across ${r.numShards} shards")
          }
        case "tokenize" =>
          // tokenizer-as-asset: train (or reuse --bpe-model), tokenize the
          // corpus, persist model + tokenized parquet under --out
          val raw = rawFlags(args)
          val (model, totalTokens) = graft.ext.Bpe.runCli(spark, cfg.input,
            raw.getOrElse("text-col", "text"), s"${cfg.outDir}/${cfg.indexName}",
            numMerges = raw.getOrElse("bpe-merges", "2000").toInt,
            maxWords = raw.getOrElse("bpe-max-words", "50000").toInt,
            modelPath = raw.get("bpe-model"))
          println(s"tokenized: ${cfg.outDir}/${cfg.indexName}/tokenized")
          println(s"model: ${model.vocabSize} merges, totalTokens=$totalTokens")
        case "quality-train" =>
          // trained quality filter (GPT-3/CCNet-style): fit LR over hashed
          // n-grams separating --input (reference-quality seed) from
          // --negative (ordinary/noisy sample); model persists as a single
          // JSON artifact for map-only scoring anywhere
          val raw = rawFlags(args)
          val negPath = raw.getOrElse("negative", throw new
            IllegalArgumentException("--mode quality-train requires --negative <parquet>"))
          val textCol = raw.getOrElse("text-col", "text")
          val model = graft.ext.QualityClassifier.train(
            spark.read.parquet(cfg.input), spark.read.parquet(negPath), textCol,
            dim = raw.getOrElse("quality-dim", (1 << 16).toString).toInt)
          val mp = s"${cfg.outDir}/quality_model.json"
          graft.ext.QualityClassifier.save(spark, model, mp)
          println(s"quality model: ${model.indices.length} active weights -> $mp")
        case "quality-score" =>
          // map-only corpus scoring with a trained model; --quality-min T
          // additionally filters to survivors (the pipeline gate form)
          val raw = rawFlags(args)
          val modelPath = raw.getOrElse("quality-model", throw new
            IllegalArgumentException("--mode quality-score requires --quality-model"))
          val model = graft.ext.QualityClassifier.load(spark, modelPath)
          val textCol = raw.getOrElse("text-col", "text")
          val scored = graft.ext.QualityClassifier.score(
            spark.read.parquet(cfg.input), textCol, model)
          val kept = raw.get("quality-min") match {
            case Some(t) => scored.filter(
              org.apache.spark.sql.functions.col("quality_prob") >= t.toDouble)
            case None => scored
          }
          val outP = s"${cfg.outDir}/scored"
          kept.write.mode("overwrite").parquet(outP)
          val n = spark.read.parquet(outP).count()
          println(s"scored corpus: $n rows -> $outP")
        case "train-centroids" =>
          // frozen cluster-centroid artifact for topic-balanced mixing:
          // spherical k-means over --embedding-col (bounded driver sample +
          // deterministic init), persisted as (cent_id, centv) parquet —
          // the artifact a --mix-cluster-centroids stream labels against
          // (frozen ids keep the accumulated mix state stable across
          // batches; an ANN index's centroids/ dir works interchangeably)
          val raw = rawFlags(args)
          val k = raw.getOrElse("mix-cluster-k", throw new IllegalArgumentException(
            "--mode train-centroids requires --mix-cluster-k")).toInt
          val docs = spark.read.parquet(cfg.input)
          val outP = s"${cfg.outDir}/centroids"
          graft.ext.Similarity.trainClusterCentroids(docs,
            Option(cfg.id).getOrElse("doc_id"),
            raw.getOrElse("embedding-col", "embedding"), k,
            iters = raw.getOrElse("kmeans-iters", "4").toInt, path = outP)
          println(s"cluster centroids: k=$k -> $outP")
        case "pack" =>
          // trainer-shape export over an ALREADY-tokenized corpus (e.g.
          // --mode tokenize output): tokenize once, re-pack at any context
          // length / rank count / epoch seed without retokenizing. With
          // --pack-ranks the output is rank=K partition dirs whose
          // order_key column is the epoch's reproducible shuffle order.
          val raw = rawFlags(args)
          val maxLen = raw.getOrElse("pack-max-len", throw new
            IllegalArgumentException("--mode pack requires --pack-max-len")).toInt
          val tokensCol = raw.getOrElse("tokens-col", "bpe_token_ids")
          val docs = spark.read.parquet(cfg.input)
          require(docs.columns.contains(tokensCol),
            s"--mode pack: input has no '$tokensCol' column " +
              s"(have: ${docs.columns.mkString(", ")}; set --tokens-col)")
          // --pack-style bins (default): whole-doc BFD bin packing;
          // --pack-style chunk: GPT-style concat-and-chunk (id-ordered
          // stream cut into full windows, docs spanning boundaries;
          // --pack-eod N terminates every doc with token N first)
          val style = raw.getOrElse("pack-style", "bins")
          val packed0 = style match {
            case "chunk" => graft.ext.Packing.chunkSequences(docs,
              Option(cfg.id).getOrElse("doc_id"), tokensCol, maxLen,
              eodToken = raw.get("pack-eod").map(_.toInt),
              numBuckets = raw.getOrElse("pack-buckets", "64").toInt)
            case "bins" => graft.ext.Packing.packSequences(docs,
              Option(cfg.id).getOrElse("doc_id"), tokensCol, maxLen,
              raw.getOrElse("pack-buckets", "256").toInt)
            case other => throw new IllegalArgumentException(
              s"unknown --pack-style '$other' (bins | chunk)")
          }
          // --pack-loader-cols true: bake position_ids/doc_index into the
          // export (bins: true per-document positions incl. split
          // continuation offsets; chunk: plain window positions)
          val packed =
            if (raw.get("pack-loader-cols").exists(_.toBoolean))
              graft.ext.Packing.loaderColumnsFor(style, packed0, maxLen)
            else packed0
          val outP = s"${cfg.outDir}/packed"
          raw.get("pack-ranks").map(_.toInt) match {
            case Some(r) =>
              graft.ext.Packing.shardSequences(packed, "seq_id", r,
                  raw.getOrElse("pack-seed", "0").toLong)
                .repartition(org.apache.spark.sql.functions.col("rank"))
                .write.mode("overwrite").partitionBy("rank").parquet(outP)
            case None =>
              packed.write.mode("overwrite").parquet(outP)
          }
          val got = spark.read.parquet(outP)
          val stats = got.agg(
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.sum("n_tokens")).head()
          println(s"packed -> $outP")
          println(s"sequences=${stats.getLong(0)} tokens=${stats.getLong(1)} maxLen=$maxLen")
        case "validate" =>
          // install-time check: counts/files/bytes/placement vs manifest +
          // shard_state.json (reference server-side verify before install).
          // No --index -> --out is a multi-index bundle root: every index
          // checked against ITS manifest in one aggregated scan.
          def show(rep: graft.sink.BundleValidate.Report): Unit = {
            println(s"bundle ${rep.bundleDir}: ${rep.numShards} shards, " +
              s"${rep.shards.map(_.docs).sum} docs")
            rep.shards.foreach { s =>
              println(s"  shard ${s.shard}: docs ${s.docs}/${s.expectedDocs} " +
                s"files ${s.files}/${s.expectedFiles} bytes ${s.bytes}/${s.expectedBytes} " +
                s"misplaced ${s.misplaced} ${if (s.ok) "OK" else "FAIL"}")
            }
          }
          if (cfg.indexName.isEmpty) {
            val reps = graft.sink.BundleValidate.validateMulti(spark, cfg.outDir)
            reps.toSeq.sortBy(_._1).foreach { case (_, r) => show(r) }
            val problems = reps.toSeq.sortBy(_._1).flatMap { case (i, r) =>
              r.problems.map(p => s"[$i] $p") }
            if (problems.nonEmpty)
              throw new IllegalStateException(s"bundle INVALID: ${problems.mkString("; ")}")
          } else {
            val rep = graft.sink.BundleValidate.validate(spark,
              s"${cfg.outDir}/${cfg.indexName}")
            show(rep)
            if (!rep.ok)
              throw new IllegalStateException(
                s"bundle INVALID: ${rep.problems.mkString("; ")}")
          }
          println("bundle VALID")
        case "install" =>
          // server-daemon analog: poll --input for arriving bundles,
          // validate each, move valid ones into --out, mark done; stops on
          // --input/_COMPLETE (reference IndexBuilder poll/verify/install)
          val raw = rawFlags(args)
          val outcomes = graft.sink.BundleInstall.watch(spark,
            cfg.input, cfg.outDir,
            compact = raw.get("install-compact").exists(_.toBoolean),
            pollMs = raw.getOrElse("poll-ms", "10000").toLong,
            timeoutMs = raw.getOrElse("timeout-ms", "600000").toLong)
          outcomes.foreach {
            case graft.sink.BundleInstall.Installed(b, docs, c) =>
              println(s"installed $b: $docs docs${if (c) " (compacted)" else ""}")
            case graft.sink.BundleInstall.Invalid(b, problems) =>
              println(s"INVALID $b: ${problems.mkString("; ")}")
            case graft.sink.BundleInstall.Skipped(b, why) =>
              println(s"skipped $b: $why")
          }
          val bad = outcomes.collect { case i: graft.sink.BundleInstall.Invalid => i }
          if (bad.nonEmpty)
            throw new IllegalStateException(
              s"${bad.size} bundle(s) failed validation: ${bad.map(_.bundle).mkString(", ")}")
        case "ann-build" | "ann-append" | "ann-query" =>
          // persistable ANN index over an embedding table: build once
          // (IVF cells as parquet partitions + PQ codes + vectors), append
          // new rows without retraining, query with partition-pruned reads
          val raw = rawFlags(args)
          val vecCol = raw.getOrElse("vec-col", "embedding")
          val idCol = Option(cfg.id).getOrElse(throw new IllegalArgumentException(
            s"--id (vector id column) is required for --mode $mode"))
          val df = spark.read.parquet(cfg.input)
          mode match {
            case "ann-build" =>
              val n = df.count()
              val nlist = raw.get("nlist").map(_.toInt)
                .getOrElse(math.max(4, (math.sqrt(n.toDouble) / 2).round.toInt))
              graft.ext.Similarity.buildIndex(df, idCol, vecCol, cfg.outDir,
                nlist = nlist,
                m = raw.getOrElse("pq-m", "8").toInt,
                k = raw.getOrElse("pq-k", "16").toInt,
                opqIters = raw.getOrElse("opq-iters", "0").toInt,
                cellSalt = raw.getOrElse("cell-salt", "1").toInt,
                // false = codes-only index (tiny footprint; query with
                // --rerank-corpus for exact results)
                storeVectors = raw.getOrElse("store-vectors", "true").toBoolean,
                // true = full IVFADC: codes quantize per-cell residuals
                residual = raw.getOrElse("residual", "false").toBoolean,
                // attribute columns to store per row, enabling filtered
                // search (--filter on ann-query)
                payloadCols = raw.get("payload-cols")
                  .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
                  .getOrElse(Nil))
              println(s"ann index built: ${cfg.outDir} ($n vectors, nlist=$nlist)")
            case "ann-append" =>
              graft.ext.Similarity.appendToIndex(df, idCol, vecCol, cfg.outDir,
                cellSalt = raw.getOrElse("cell-salt", "1").toInt)
              println(s"appended ${cfg.input} into ${cfg.outDir}")
            case "ann-query" =>
              val res = graft.ext.Similarity.indexTopK(df, cfg.outDir, idCol, vecCol,
                k = raw.getOrElse("topk", "10").toInt,
                // default -1 -> sqrt(nlist) resolved from the index itself
                nprobe = raw.get("nprobe").map(_.toInt).getOrElse(-1),
                rerankFactor = raw.getOrElse("rerank-factor", "64").toInt,
                // codes-only index: exact re-rank against the source table
                // (--rerank-vec-col when its embedding column is named
                // differently from the query frame's --vec-col)
                rerankCorpus = raw.get("rerank-corpus").map(spark.read.parquet),
                rerankIdCol = idCol,
                rerankVecCol = raw.getOrElse("rerank-vec-col", ""),
                // attribute-filtered search: a SQL predicate over the
                // index's payload columns (e.g. --filter "lang = 'en'"),
                // with --filter-selectivity scaling the probe count
                filter = raw.get("filter")
                  .map(org.apache.spark.sql.functions.expr),
                filterSelectivity =
                  raw.getOrElse("filter-selectivity", "1.0").toDouble)
              raw.get("results") match {
                case Some(path) =>
                  res.write.mode("overwrite").parquet(path)
                  println(s"results written: $path")
                case None => res.show(20, truncate = false)
              }
          }
        case "ann-stream" =>
          // streaming index maintenance: watch --input as a DIRECTORY of
          // arriving parquet (id, vector) files and commit each micro-batch
          // into the standing index at --out (stored quantizer/codebooks,
          // replay-safe staging+rename — see AnnIndexStream)
          val raw = rawFlags(args)
          val idCol = Option(cfg.id).getOrElse(throw new IllegalArgumentException(
            s"--id (vector id column) is required for --mode $mode"))
          val vecCol = raw.getOrElse("vec-col", "embedding")
          val src = spark.read.parquet(cfg.input)
          val stream = spark.readStream.schema(src.schema).parquet(cfg.input)
          val q = graft.streaming.AnnIndexStream.start(stream, cfg.outDir,
            idCol, vecCol,
            checkpointDir = s"${cfg.outDir}/.ckpt_stream",
            cellSalt = raw.getOrElse("cell-salt", "1").toInt)
          q.awaitTermination(raw.getOrElse("timeout-ms", "600000").toLong)
          val rows = spark.read.parquet(s"${cfg.outDir}/cells").count()
          println(s"ann index maintained from stream: ${cfg.outDir} ($rows vectors)")
        case "ann-compact" =>
          // append/streaming maintenance leaves one file per (cell, batch);
          // rewrite back to ~cell-salt per cell (atomic swap, integrity-gated)
          val (before, after) = graft.ext.Similarity.compactIndex(spark, cfg.outDir,
            cellSalt = rawFlags(args).getOrElse("cell-salt", "1").toInt)
          println(s"ann index compacted: $before -> $after files")
        case "ann-strip" =>
          // footprint op: derive a codes-only twin (same centroids/model/
          // codes, cells without stored vectors) at --results from the
          // vectors-stored index at --out; query it with --rerank-corpus
          // for exact results
          val dst = rawFlags(args).getOrElse("results",
            throw new IllegalArgumentException(
              "--results <dstDir> is required for --mode ann-strip"))
          graft.ext.Similarity.stripVectors(spark, cfg.outDir, dst,
            cellSalt = rawFlags(args).getOrElse("cell-salt", "1").toInt)
          println(s"codes-only twin written: ${cfg.outDir} -> $dst")
        case "ann-split" =>
          // re-balance the skew ann-drift detects: split one hot cell in
          // place (sub-centroids over its own rows; PQ codes unchanged)
          // instead of rebuilding the whole index
          val raw = rawFlags(args)
          // codes-only indexes split on PQ reconstructions; supply
          // --rerank-corpus (+ --rerank-vec-col) to train/place the split
          // against the source table's exact vectors instead
          val newIds = graft.ext.Similarity.splitCell(spark, cfg.outDir,
            centId = raw.getOrElse("cell", "-1").toInt,
            sub = raw.getOrElse("sub", "2").toInt,
            rerankCorpus = raw.get("rerank-corpus").map(spark.read.parquet),
            rerankIdCol = Option(cfg.id).getOrElse(""),
            rerankVecCol = raw.getOrElse("rerank-vec-col",
              raw.getOrElse("vec-col", "embedding")))
          println(s"cell split: cent_id=${newIds.head} -> cells ${newIds.mkString(", ")}")
        case "ann-maintain" =>
          // detect -> act: split drift-detected skew in place; surface
          // what only a rebuild can fix
          import graft.ext.Similarity
          Similarity.maintainIndex(spark, cfg.outDir,
            sub = rawFlags(args).getOrElse("sub", "2").toInt) match {
            case Similarity.Healthy => println("index healthy, no action")
            case Similarity.Split(ids, b, a) =>
              println(f"split hot cell -> cells ${ids.mkString(", ")}; " +
                f"max cell share $b%.4f -> $a%.4f")
            case Similarity.RebuildAdvised =>
              println("RETRAIN ADVISED (quantizer no longer fits the data)")
              throw new IllegalStateException(
                "rebuild the index (--mode ann-build)")
          }
        case "suggest" =>
          // dictionary-backed suggesters (the ES suggest API): term
          // suggester (--suggest-term, typo corrections within
          // --max-edits) or completion suggester (--suggest-prefix,
          // top-df completions) — both answered ENTIRELY from a standing
          // postings index's term dictionary; no corpus, no --input
          val raw = rawFlags(args)
          val idxDir = raw.getOrElse("search-index", throw new
            IllegalArgumentException(
              "--mode suggest needs --search-index (the term dictionary)"))
          val n = raw.getOrElse("topk", "5").toInt
          val result = (raw.get("suggest-term"), raw.get("suggest-prefix")) match {
            case (Some(t), None) =>
              graft.ext.Search.termSuggest(spark, idxDir, t,
                maxEdits = raw.getOrElse("max-edits", "2").toInt, n = n)
            case (None, Some(p)) =>
              require(!raw.contains("max-edits"),
                "--max-edits applies to --suggest-term only")
              graft.ext.Search.completionSuggest(spark, idxDir, p, n = n)
            case _ => throw new IllegalArgumentException(
              "--mode suggest requires exactly one of --suggest-term | " +
                "--suggest-prefix")
          }
          val outP = s"${cfg.outDir}/suggest"
          result.write.mode("overwrite").parquet(outP)
          val rows = spark.read.parquet(outP).orderBy("rank").collect()
          println(s"suggestions: ${rows.length} rows -> $outP")
          rows.foreach(r => println(s"  $r"))

        case "search" =>
          // query-side relevance over a document corpus: BM25 top-k for
          // --query, exact adjacent-in-order match for --phrase; with
          // --embeddings + --search-vec-id it fuses the BM25 and cosine
          // candidate lists via reciprocal-rank fusion (the ES/OpenSearch
          // hybrid) — against the raw tables, or with --search-index AND
          // --ann-index against the two standing indexes (zero corpus
          // scans). Results -> --out/search + stdout.
          val raw = rawFlags(args)
          val queryOpt = raw.get("query")
          val phraseOpt = raw.get("phrase")
          val boolMode = Seq("must", "should", "must-not").exists(raw.contains)
          val spanNearOn = raw.contains("span-near")
          val spanFirstOn = raw.contains("span-first")
          val spanOrOn = raw.contains("span-or")
          val spanNotOn = raw.contains("span-not")
          val termsSetOn = raw.contains("terms-set")
          val geoOn = raw.contains("geo-distance")
          val geoBoxOn = raw.contains("geo-box")
          val geoPolyOn = raw.contains("geo-polygon")
          val ghGridOn = raw.contains("geohash-grid")
          val mltOn = raw.contains("more-like") || raw.contains("mlt-text")
          require(!(raw.contains("more-like") && raw.contains("mlt-text")),
            "--more-like (by doc id) and --mlt-text (free text) are " +
              "mutually exclusive")
          require(Seq(queryOpt.isDefined, phraseOpt.isDefined, boolMode,
              spanNearOn, spanFirstOn, spanOrOn, spanNotOn, termsSetOn,
              geoOn, geoBoxOn, geoPolyOn,
              ghGridOn, mltOn).count(identity) == 1,
            "--mode search requires exactly one of --query | --phrase | " +
              "bool clauses (--must/--should/--must-not) | --span-near | " +
              "--span-first | --span-or | --span-not | --terms-set | " +
              "--geo-distance | --geo-box | --geo-polygon | " +
              "--geohash-grid | --more-like/--mlt-text")
          require(!raw.contains("span-slop") ||
              spanNearOn || spanOrOn || spanNotOn,
            "--span-slop needs --span-near/--span-or/--span-not")
          require(!(raw.contains("span-pre") || raw.contains("span-post")) ||
              spanNotOn, "--span-pre/--span-post need --span-not")
          require(!raw.contains("msm-field") || termsSetOn,
            "--msm-field needs --terms-set")
          val textCol = raw.getOrElse("text-col", "text")
          val idCol = Option(cfg.id).getOrElse("doc_id")
          val k = raw.getOrElse("topk", "10").toInt
          val hybridIndexed =
            raw.contains("search-index") && raw.contains("ann-index")
          require(!(raw.contains("embeddings") && raw.contains("search-index"))
              || hybridIndexed,
            "--embeddings (hybrid) and --search-index are mutually " +
              "exclusive unless --ann-index makes it a standing-index " +
              "hybrid (the scan hybrid scores BM25 on the corpus: --input)")
          // a flag that would be silently ignored is a bug, not a default
          require(!raw.contains("min-should-match") ||
              (queryOpt.isDefined && !hybridIndexed &&
                !raw.contains("embeddings") && !raw.contains("fuzziness") &&
                !raw.get("prefix-match").exists(_.toBoolean)),
            "--min-should-match applies to plain --query term search " +
              "(corpus scan or --search-index) only")
          val fuzzyOn = raw.contains("fuzziness")
          val prefixOn = raw.get("prefix-match").exists(_.toBoolean)
          val wildOn = raw.get("wildcard").exists(_.toBoolean)
          val regexpOn = raw.get("regexp").exists(_.toBoolean)
          require(Seq(fuzzyOn, prefixOn, wildOn, regexpOn).count(identity) <= 1,
            "--fuzziness, --prefix-match, --wildcard and --regexp are " +
              "mutually exclusive (one relaxed-match mode per request)")
          require(!(fuzzyOn || prefixOn || wildOn || regexpOn) ||
              (queryOpt.isDefined && !hybridIndexed &&
                !raw.contains("embeddings") && !raw.contains("fields")),
            "--fuzziness/--prefix-match/--wildcard/--regexp apply to plain " +
              "--query search (corpus scan, or --search-index via the " +
              "term dictionary)")
          require(!raw.contains("min-should-match") || !wildOn,
            "--min-should-match is not supported with --wildcard")
          val phrasePrefixOn = raw.get("phrase-prefix").exists(_.toBoolean)
          require(!phrasePrefixOn || phraseOpt.isDefined,
            "--phrase-prefix needs --phrase (the last term matches as a " +
              "prefix)")
          require(!(phrasePrefixOn && raw.contains("slop")),
            "--slop applies to exact --phrase only (the phrase-prefix law " +
              "is adjacency-exact)")
          require(!raw.contains("max-expansions") ||
              ((fuzzyOn || prefixOn || wildOn || phrasePrefixOn) &&
                raw.contains("search-index")),
            "--max-expansions caps the term-dictionary expansion: it needs " +
              "--search-index with --fuzziness, --prefix-match, --wildcard " +
              "or --phrase-prefix")
          // score-reshaping request types: collapse / rescore /
          // function_score — plain --query corpus scans, one at a time
          val collapseOn = raw.contains("collapse")
          val rescoreOn = raw.contains("rescore-phrase")
          val fnScoreOn = raw.contains("field-factor") ||
            raw.contains("gauss-decay")
          val boostingOn = raw.contains("negative-query")
          require(!raw.contains("negative-boost") || boostingOn,
            "--negative-boost needs --negative-query")
          // has_child (ES parent-child): --parent-col turns a plain
          // --query into a parent ranking by child-score aggregate
          val hasChildOn = raw.contains("parent-col")
          require(Seq("score-mode", "min-children")
              .forall(f => !raw.contains(f) || hasChildOn),
            "--score-mode/--min-children need --parent-col (has_child)")
          require(!hasChildOn || (queryOpt.isDefined &&
              !raw.contains("search-index") && !raw.contains("embeddings") &&
              !raw.contains("fields") && !fuzzyOn && !prefixOn && !wildOn),
            "--parent-col (has_child) applies to a plain --query corpus scan")
          // search_after (ES keyset pagination): plain --query term search
          val searchAfterRaw = raw.get("search-after").map { spec =>
            val i = spec.lastIndexOf(':')
            require(i > 0 && i < spec.length - 1,
              s"--search-after expects <lastScore>:<lastDocId>, got '$spec'")
            (spec.substring(0, i).toDouble, spec.substring(i + 1))
          }
          // the cursor id parses to the id COLUMN's resolved type (read
          // from the corpus / index postings schema at the use site): a
          // string-vs-numeric comparison in Spark promotes BOTH sides to
          // DOUBLE, so a string cursor against a long id column loses
          // integer precision past 2^53 and can skip/duplicate rows at a
          // page boundary. An eager toLong without looking at the schema
          // would be the mirror bug on string-id corpora.
          def typedCursor(idType: org.apache.spark.sql.types.DataType)
          : Option[(Double, Any)] = searchAfterRaw.map { case (s, id) =>
            import org.apache.spark.sql.types._
            val typed: Any = idType match {
              case LongType => id.toLong
              case IntegerType => id.toInt
              case ShortType => id.toShort
              case ByteType => id.toByte
              case _: DecimalType => new java.math.BigDecimal(id)
              case FloatType => id.toFloat
              case DoubleType => id.toDouble
              case _ => id // strings (and exotica) compare as-is
            }
            (s, typed)
          }
          val searchAfterOpt: Option[(Double, Any)] =
            searchAfterRaw.map { case (s, id) => (s, id: Any) }
          require(searchAfterOpt.isEmpty || (queryOpt.isDefined &&
              !hybridIndexed && !raw.contains("embeddings") &&
              !raw.contains("fields") && !fuzzyOn && !prefixOn && !wildOn &&
              !hasChildOn && !collapseOn && !rescoreOn && !fnScoreOn &&
              !boostingOn),
            "--search-after paginates plain --query term search (corpus " +
              "scan or --search-index)")
          require(Seq(collapseOn, rescoreOn, fnScoreOn, boostingOn, hasChildOn)
              .count(identity) <= 1,
            "--collapse, --rescore-phrase, --negative-query, --parent-col " +
              "and --field-factor/--gauss-decay are mutually exclusive " +
              "(one request type per search)")
          require(!(collapseOn || rescoreOn || fnScoreOn || boostingOn) ||
              (queryOpt.isDefined && !hybridIndexed &&
                !raw.contains("search-index") && !raw.contains("embeddings") &&
                !raw.contains("fields") && !fuzzyOn && !prefixOn && !wildOn &&
                !raw.contains("min-should-match")),
            "--collapse/--rescore-phrase/--field-factor/--gauss-decay/" +
              "--negative-query apply to a plain --query corpus scan only")
          require(Seq("rescore-window", "rescore-weight", "query-weight")
              .forall(f => !raw.contains(f) || rescoreOn),
            "--rescore-window/--rescore-weight/--query-weight need " +
              "--rescore-phrase")
          require(!raw.contains("boost-mode") || fnScoreOn,
            "--boost-mode needs --field-factor or --gauss-decay")
          lazy val docs = spark.read.parquet(cfg.input)
          def queryVec(): Seq[Double] = {
            val embPath = raw.getOrElse("embeddings", throw new
              IllegalArgumentException("hybrid search requires --embeddings"))
            val emb = spark.read.parquet(embPath)
            val vecCol = raw.getOrElse("vec-col", "embedding")
            val vecIdCol = raw.getOrElse("search-vec-id-col", idCol)
            val qvId = raw.getOrElse("search-vec-id", throw new
              IllegalArgumentException(
                "hybrid search requires --search-vec-id"))
            emb.filter(org.apache.spark.sql.functions.col(vecIdCol) === qvId.toLong)
              .select(org.apache.spark.sql.functions.col(vecCol)
                .cast("array<double>"))
              .head().getSeq[Double](0).toSeq
          }
          val result = if (spanNearOn) {
            // ES span_near (in_order): single-term clauses in order within
            // a width budget — scan or positional index
            val clauses = raw("span-near").split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq
            val sl = raw.getOrElse("span-slop", "0").toInt
            raw.get("search-index") match {
              case Some(idxDir) =>
                graft.ext.Search.indexedSpanNearTopK(spark, idxDir, clauses,
                  sl, k)
              case None =>
                graft.ext.Search.spanNearTopK(docs, idCol, textCol, clauses,
                  sl, k)
            }
          } else if (spanFirstOn) {
            // ES span_first: occurrences within the first <end> positions
            val parts = raw("span-first").split(":")
            require(parts.length == 2,
              s"--span-first expects <term>:<end>, got '${raw("span-first")}'")
            raw.get("search-index") match {
              case Some(idxDir) =>
                graft.ext.Search.indexedSpanFirstTopK(spark, idxDir,
                  parts(0), parts(1).toInt, k)
              case None =>
                graft.ext.Search.spanFirstTopK(docs, idCol, textCol,
                  parts(0), parts(1).toInt, k)
            }
          } else if (spanOrOn) {
            // ES span_or (standalone or inside span_near): clauses
            // comma-separated, alternatives pipe-separated —
            // --span-or "spark,window|merge" [--span-slop N]
            val clauses = raw("span-or").split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq
              .map(_.split("\\|").map(_.trim).filter(_.nonEmpty).toSeq)
            val sl = raw.getOrElse("span-slop", "0").toInt
            raw.get("search-index") match {
              case Some(idxDir) =>
                graft.ext.Search.indexedSpanOrNearTopK(spark, idxDir,
                  clauses, sl, k)
              case None =>
                graft.ext.Search.spanOrNearTopK(docs, idCol, textCol,
                  clauses, sl, k)
            }
          } else if (spanNotOn) {
            // ES span_not: --span-not "<inc1,inc2>:<exc1,exc2>"
            // [--span-slop N --span-pre N --span-post N]
            val parts = raw("span-not").split(":")
            require(parts.length == 2, "--span-not expects " +
              s"<include terms>:<exclude terms>, got '${raw("span-not")}'")
            val inc = parts(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val exc = parts(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val sl = raw.getOrElse("span-slop", "0").toInt
            val pre = raw.getOrElse("span-pre", "0").toInt
            val post = raw.getOrElse("span-post", "0").toInt
            raw.get("search-index") match {
              case Some(idxDir) =>
                graft.ext.Search.indexedSpanNotTopK(spark, idxDir, inc, sl,
                  exc, pre, post, k)
              case None =>
                graft.ext.Search.spanNotTopK(docs, idCol, textCol, inc, sl,
                  exc, pre, post, k)
            }
          } else if (termsSetOn) {
            // ES terms_set: --terms-set "a,b,c" --msm-field <numeric col
            // or integer literal> (default 1 = plain OR)
            require(cfg.input.nonEmpty, "--terms-set needs --input")
            val ts = raw("terms-set").split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq
            val msmSpec = raw.getOrElse("msm-field", "1")
            val msm =
              if (msmSpec.matches("-?\\d+"))
                org.apache.spark.sql.functions.lit(msmSpec.toInt)
              else org.apache.spark.sql.functions.col(msmSpec)
            graft.ext.Search.termsSetTopK(docs, idCol, textCol, ts, msm, k)
          } else if (geoOn) {
            // ES geo_distance: nearest rows within a radius of the point
            val p = raw("geo-distance").split(":")
            require(p.length == 5, "--geo-distance expects " +
              s"<latCol>:<lonCol>:<lat>:<lon>:<radiusKm>, got " +
              s"'${raw("geo-distance")}'")
            require(cfg.input.nonEmpty, "--geo-distance needs --input")
            graft.ext.Search.geoDistanceTopK(docs, idCol, p(0), p(1),
              p(2).toDouble, p(3).toDouble, p(4).toDouble, k)
          } else if (geoBoxOn) {
            // ES geo_bounding_box: inclusive box filter; left > right
            // crosses the antimeridian. First k hits by id (the filter
            // form has no score — id order is the deterministic page).
            val p = raw("geo-box").split(":")
            require(p.length == 6, "--geo-box expects " +
              s"<latCol>:<lonCol>:<top>:<left>:<bottom>:<right>, got " +
              s"'${raw("geo-box")}'")
            require(cfg.input.nonEmpty, "--geo-box needs --input")
            val hits = graft.ext.Search.geoBoundingBox(docs, idCol, p(0),
                p(1), p(2).toDouble, p(3).toDouble, p(4).toDouble,
                p(5).toDouble)
              .orderBy("doc_id").limit(k)
            hits.withColumn("rank", org.apache.spark.sql.functions
              .row_number().over(org.apache.spark.sql.expressions.Window
                .orderBy("doc_id")))
          } else if (geoPolyOn) {
            // ES geo_polygon: even-odd raycast filter; vertices as
            // lat,lon;lat,lon;... — first k hits by id
            val p = raw("geo-polygon").split(":")
            require(p.length == 3, "--geo-polygon expects " +
              s"<latCol>:<lonCol>:<lat,lon;lat,lon;...>, got " +
              s"'${raw("geo-polygon")}'")
            require(cfg.input.nonEmpty, "--geo-polygon needs --input")
            val verts = p(2).split(";").toSeq.map { v =>
              val xy = v.split(",")
              require(xy.length == 2, s"bad polygon vertex '$v'")
              (xy(0).toDouble, xy(1).toDouble)
            }
            val hits = graft.ext.Search.geoPolygon(docs, idCol, p(0), p(1),
                verts)
              .orderBy("doc_id").limit(k)
            hits.withColumn("rank", org.apache.spark.sql.functions
              .row_number().over(org.apache.spark.sql.expressions.Window
                .orderBy("doc_id")))
          } else if (ghGridOn) {
            // ES geohash_grid aggregation: top cells by doc count
            val p = raw("geohash-grid").split(":")
            require(p.length == 3, "--geohash-grid expects " +
              s"<latCol>:<lonCol>:<precision>, got '${raw("geohash-grid")}'")
            require(cfg.input.nonEmpty, "--geohash-grid needs --input")
            graft.ext.Search.geohashGridFacet(docs, p(0), p(1),
              precision = p(2).toInt, topN = k)
          } else if (mltOn) {
            // ES more_like_this: by doc id (--more-like, corpus scan,
            // like doc excluded) or free text (--mlt-text, scan or
            // --search-index via the term dictionary)
            require(cfg.input.nonEmpty || raw.contains("search-index"),
              "--more-like/--mlt-text need --input (or --search-index " +
                "for the free-text indexed form)")
            val maxQ = raw.getOrElse("max-query-terms", "25").toInt
            val minTf = raw.getOrElse("min-term-freq", "2").toInt
            val minDf = raw.getOrElse("min-doc-freq", "5").toInt
            (raw.get("more-like"), raw.get("mlt-text"),
              raw.get("search-index")) match {
              case (Some(id), _, None) =>
                // parse the like id to the id COLUMN's type (the
                // search_after lesson: string-vs-long promotes to double)
                val typed: Any = docs.schema(idCol).dataType match {
                  case org.apache.spark.sql.types.LongType => id.toLong
                  case org.apache.spark.sql.types.IntegerType => id.toInt
                  case _ => id
                }
                graft.ext.Search.moreLikeThisTopK(docs, idCol, textCol,
                  likeId = typed, k = k, maxQueryTerms = maxQ,
                  minTermFreq = minTf, minDocFreq = minDf)
              case (None, Some(text), Some(idxDir)) =>
                graft.ext.Search.indexedMoreLikeThisTopK(spark, idxDir,
                  text, k, maxQueryTerms = maxQ, minTermFreq = minTf,
                  minDocFreq = minDf)
              case (None, Some(text), None) =>
                graft.ext.Search.moreLikeThisTextTopK(docs, idCol, textCol,
                  text, k, maxQueryTerms = maxQ, minTermFreq = minTf,
                  minDocFreq = minDf)
              case _ => throw new IllegalArgumentException(
                "--more-like is a corpus-scan form (no --search-index); " +
                  "use --mlt-text with --search-index for the indexed form")
            }
          } else if (hasChildOn) {
            // ES has_child: parents ranked by child-score aggregate.
            // --score-mode defaults to "max" — a DELIBERATE deviation
            // from ES's default of "none" (constant score); pass
            // --score-mode none for ES-default parity.
            graft.ext.Search.hasChildTopK(docs, raw("parent-col"), textCol,
              queryOpt.get, k,
              scoreMode = raw.getOrElse("score-mode", "max"),
              minChildren = raw.getOrElse("min-children", "1").toInt)
          } else if (boolMode) {
            // the ES bool request: must/should/must_not clauses — scan or
            // pruned postings index
            val m = raw.getOrElse("must", "")
            val sh = raw.getOrElse("should", "")
            val n = raw.getOrElse("must-not", "")
            raw.get("search-index") match {
              case Some(idxDir) =>
                graft.ext.Search.indexedBoolTopK(spark, idxDir, m, sh, n, k)
              case None =>
                graft.ext.Search.boolTopK(docs, idCol, textCol, m, sh, n, k)
            }
          } else (phraseOpt, raw.get("search-index")) match {
            // phrase: positional adjacency — scan or positional index;
            // --slop relaxes per the position-window law; --phrase-prefix
            // = ES match_phrase_prefix (last term matches as a prefix)
            case (Some(p), Some(idxDir)) if phrasePrefixOn =>
              graft.ext.Search.indexedPhrasePrefixTopK(spark, idxDir, p, k,
                maxExpansions = raw.getOrElse("max-expansions", "50").toInt)
            case (Some(p), None) if phrasePrefixOn =>
              graft.ext.Search.phrasePrefixTopK(docs, idCol, textCol, p, k)
            case (Some(p), Some(idxDir)) =>
              graft.ext.Search.indexedPhraseTopK(spark, idxDir, p, k,
                slop = raw.getOrElse("slop", "0").toInt)
            case (Some(p), None) =>
              graft.ext.Search.phraseTopK(docs, idCol, textCol, p, k,
                slop = raw.getOrElse("slop", "0").toInt)
            case (None, _) =>
              val query = queryOpt.get
              if (hybridIndexed)
                // serving-loop hybrid: postings buckets + probed ANN cells
                graft.ext.Search.hybridTopKIndexed(spark,
                  raw("search-index"), raw("ann-index"), query, queryVec(),
                  k, kCand = raw.getOrElse("search-kcand", "50").toInt)
              else raw.get("embeddings") match {
                case Some(embPath) =>
                  val emb = spark.read.parquet(embPath)
                  val vecCol = raw.getOrElse("vec-col", "embedding")
                  val vecIdCol = raw.getOrElse("search-vec-id-col", idCol)
                  graft.ext.Search.hybridTopK(docs, idCol, textCol, emb,
                    vecIdCol, vecCol, query, queryVec(), k,
                    kCand = raw.getOrElse("search-kcand", "50").toInt)
                case None => (raw.get("fields"), raw.get("search-index")) match {
                  // multi-field (ES multi_match): --fields f1:boost,f2:boost
                  // [--multi-mode most_fields|best_fields] — a corpus-scan
                  // operator: needs --input and conflicts with the index
                  case (Some(spec), idx) =>
                    require(idx.isEmpty,
                      "--fields scans the corpus; it cannot combine with " +
                        "--search-index (drop one)")
                    require(cfg.input.nonEmpty,
                      "--fields needs --input (the corpus)")
                    require(!raw.contains("min-should-match"),
                      "--min-should-match is not supported with --fields")
                    val fs = spec.split(",").map(_.trim).filter(_.nonEmpty)
                      .map { p =>
                        val parts = p.split(":")
                        require(parts.length == 2 && parts(0).nonEmpty,
                          s"--fields expects comma-separated field:boost " +
                            s"pairs (e.g. title:2.0,body:1.0); got '$p'")
                        val b = parts(1).toDoubleOption.getOrElse(
                          throw new IllegalArgumentException(
                            s"--fields boost must be numeric; got '$p'"))
                        (parts(0), b)
                      }.toSeq
                    // --tie-breaker: the dis_max knob (best_fields only)
                    graft.ext.Search.multiFieldTopK(docs, idCol, fs, query, k,
                      mode = raw.getOrElse("multi-mode", "most_fields"),
                      tieBreaker =
                        raw.getOrElse("tie-breaker", "0.0").toDouble)
                  // a persisted postings index (--mode search-build
                  // output): identical results to the corpus scan,
                  // pruned-bucket cost — --min-should-match honored;
                  // --fuzziness / --prefix-match route through the term
                  // dictionary (--max-expansions caps the expansion)
                  // --max-expansions defaults to ES's 50 (the expansion is
                  // a driver-side collect; unlimited on a large vocabulary
                  // is a serving hazard) — 0 is the explicit opt-in
                  case (None, Some(idxDir)) if regexpOn =>
                    graft.ext.Search.indexedRegexpTopK(spark, idxDir,
                      query, k, maxExpansions =
                        raw.getOrElse("max-expansions", "50").toInt)
                  case (None, Some(idxDir)) if wildOn =>
                    graft.ext.Search.indexedWildcardTopK(spark, idxDir,
                      query, k, maxExpansions =
                        raw.getOrElse("max-expansions", "50").toInt)
                  case (None, Some(idxDir)) if raw.contains("fuzziness") =>
                    graft.ext.Search.indexedFuzzyTopK(spark, idxDir, query, k,
                      fuzziness = raw("fuzziness").toInt,
                      maxExpansions =
                        raw.getOrElse("max-expansions", "50").toInt)
                  case (None, Some(idxDir)) if raw.get("prefix-match")
                      .exists(_.toBoolean) =>
                    graft.ext.Search.indexedPrefixTopK(spark, idxDir, query, k,
                      maxExpansions =
                        raw.getOrElse("max-expansions", "50").toInt)
                  case (None, Some(idxDir)) =>
                    graft.ext.Search.indexedBm25TopK(spark, idxDir, query, k,
                      minShouldMatch =
                        raw.getOrElse("min-should-match", "1").toInt,
                      searchAfter = typedCursor(spark.read
                        .parquet(s"$idxDir/postings")
                        .schema("doc_id").dataType))
                  case (None, None) if boostingOn =>
                    // ES `boosting` query: negative terms demote
                    graft.ext.Search.boostingTopK(docs, idCol, textCol,
                      query, raw("negative-query"), k,
                      negativeBoost =
                        raw.getOrElse("negative-boost", "0.5").toDouble)
                  case (None, None) if collapseOn =>
                    // ES `collapse`: one representative per field value
                    graft.ext.Search.collapseTopK(docs, idCol, textCol,
                      query, raw("collapse"), k)
                  case (None, None) if rescoreOn =>
                    // ES `rescore`: phrase-rescored primary window
                    graft.ext.Search.rescoreTopK(docs, idCol, textCol,
                      query, raw("rescore-phrase"), k,
                      windowSize = raw.getOrElse("rescore-window", "50").toInt,
                      queryWeight = raw.getOrElse("query-weight", "1.0").toDouble,
                      rescoreWeight =
                        raw.getOrElse("rescore-weight", "1.0").toDouble)
                  case (None, None) if fnScoreOn =>
                    // ES `function_score`: field-value-factor (ln1p) ×
                    // gauss decay, combined per --boost-mode
                    val ff = raw.get("field-factor").map { spec =>
                      val parts = spec.split(":")
                      require(parts.length == 2,
                        s"--field-factor expects <col>:<factor>, got '$spec'")
                      (parts(0), parts(1).toDouble)
                    }
                    val gd = raw.get("gauss-decay").map { spec =>
                      val parts = spec.split(":")
                      require(parts.length == 4,
                        "--gauss-decay expects " +
                          s"<col>:<origin>:<scale>:<decay>, got '$spec'")
                      (parts(0), parts(1).toDouble, parts(2).toDouble,
                        parts(3).toDouble)
                    }
                    graft.ext.Search.functionScoreTopK(docs, idCol, textCol,
                      query, k, fieldFactor = ff, gaussDecay = gd,
                      boostMode = raw.getOrElse("boost-mode", "multiply"))
                  case (None, None) if regexpOn =>
                    // ES `regexp` query: whole-token anchored regex
                    graft.ext.Search.regexpTopK(docs, idCol, textCol,
                      query, k)
                  case (None, None) if wildOn =>
                    // ES `wildcard` query: * / ? token patterns
                    graft.ext.Search.wildcardTopK(docs, idCol, textCol,
                      query, k)
                  case (None, None) if raw.contains("fuzziness") =>
                    // ES `fuzzy` query: typo-tolerant term match
                    graft.ext.Search.fuzzyTopK(docs, idCol, textCol, query, k,
                      fuzziness = raw("fuzziness").toInt)
                  case (None, None) if raw.get("prefix-match")
                      .exists(_.toBoolean) =>
                    // ES `prefix` query: terms are token prefixes
                    graft.ext.Search.prefixTopK(docs, idCol, textCol, query, k)
                  case (None, None) =>
                    graft.ext.Search.bm25TopK(docs, idCol, textCol, query, k,
                      minShouldMatch =
                        raw.getOrElse("min-should-match", "1").toInt,
                      searchAfter = typedCursor(docs.schema(idCol).dataType))
                }
              }
          }
          val outP = s"${cfg.outDir}/search"
          result.write.mode("overwrite").parquet(outP)
          val top = spark.read.parquet(outP).orderBy("rank").collect()
          println(s"search results: ${top.length} rows -> $outP")
          top.take(10).foreach(r => println(s"  $r"))
          // serving-side companions (both need the corpus text: --input)
          raw.get("facets").foreach { fcols =>
            require(cfg.input.nonEmpty, "--facets needs --input (the corpus)")
            require(queryOpt.isDefined, "--facets needs --query (term match)")
            val f = graft.ext.Search.facets(docs, textCol, queryOpt.get,
              fcols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
              topN = raw.getOrElse("facets-topn", "10").toInt,
              missing = raw.get("facets-missing")) // ES `missing` bucket
            f.write.mode("overwrite").parquet(s"${cfg.outDir}/facets")
            println(s"facets -> ${cfg.outDir}/facets")
            f.orderBy("facet", "rank").collect()
              .foreach(r => println(s"  $r"))
          }
          raw.get("percentiles").foreach { spec =>
            // --percentiles <numCol>:<p1,p2,...> — the ES percentiles
            // aggregation (exact form) over the matched set
            require(cfg.input.nonEmpty,
              "--percentiles needs --input (the corpus)")
            require(queryOpt.isDefined,
              "--percentiles needs --query (term match)")
            val parts = spec.split(":")
            require(parts.length == 2,
              s"--percentiles expects <col>:<p1,p2,...>, got '$spec'")
            val pdf = graft.ext.Search.percentilesFacet(docs, textCol,
              queryOpt.get, parts(0),
              parts(1).split(",").map(_.trim.toDouble).toSeq)
            pdf.write.mode("overwrite").parquet(s"${cfg.outDir}/percentiles")
            println(s"percentiles -> ${cfg.outDir}/percentiles")
            pdf.orderBy("percent").collect().foreach(r => println(s"  $r"))
          }
          raw.get("stats").foreach { numCol =>
            // --stats <numCol> — the ES stats aggregation over the
            // matched set (count/min/max/avg/sum)
            require(cfg.input.nonEmpty, "--stats needs --input (the corpus)")
            require(queryOpt.isDefined, "--stats needs --query (term match)")
            val sdf = graft.ext.Search.statsFacet(docs, textCol,
              queryOpt.get, numCol)
            sdf.write.mode("overwrite").parquet(s"${cfg.outDir}/stats")
            println(s"stats -> ${cfg.outDir}/stats")
            sdf.collect().foreach(r => println(s"  $r"))
          }
          raw.get("extended-stats").foreach { spec =>
            // --extended-stats <numCol>[:<sigma>] — the ES extended_stats
            // aggregation (adds sum_of_squares/variance/std/±sigma bounds)
            require(cfg.input.nonEmpty,
              "--extended-stats needs --input (the corpus)")
            require(queryOpt.isDefined,
              "--extended-stats needs --query (term match)")
            val parts = spec.split(":")
            require(parts.length <= 2,
              s"--extended-stats expects <col>[:<sigma>], got '$spec'")
            val sigma = if (parts.length == 2) parts(1).toDouble else 2.0
            val edf = graft.ext.Search.extendedStatsFacet(docs, textCol,
              queryOpt.get, parts(0), sigma)
            edf.write.mode("overwrite").parquet(s"${cfg.outDir}/extended_stats")
            println(s"extended_stats -> ${cfg.outDir}/extended_stats")
            edf.collect().foreach(r => println(s"  $r"))
          }
          raw.get("percentile-ranks").foreach { spec =>
            // --percentile-ranks <numCol>:<v1,v2,...> — the inverse of
            // --percentiles: percent of matched observations <= each value
            require(cfg.input.nonEmpty,
              "--percentile-ranks needs --input (the corpus)")
            require(queryOpt.isDefined,
              "--percentile-ranks needs --query (term match)")
            val parts = spec.split(":")
            require(parts.length == 2,
              s"--percentile-ranks expects <col>:<v1,v2,...>, got '$spec'")
            val rdf = graft.ext.Search.percentileRanksFacet(docs, textCol,
              queryOpt.get, parts(0),
              parts(1).split(",").map(_.trim.toDouble).toSeq)
            rdf.write.mode("overwrite")
              .parquet(s"${cfg.outDir}/percentile_ranks")
            println(s"percentile_ranks -> ${cfg.outDir}/percentile_ranks")
            rdf.orderBy("value").collect().foreach(r => println(s"  $r"))
          }
          raw.get("histogram").foreach { spec =>
            // --histogram <numCol>:<interval> — ES histogram aggregation
            require(cfg.input.nonEmpty, "--histogram needs --input (the corpus)")
            require(queryOpt.isDefined, "--histogram needs --query (term match)")
            val parts = spec.split(":")
            require(parts.length == 2,
              s"--histogram expects <col>:<interval>, got '$spec'")
            val hdf = graft.ext.Search.histogramFacet(docs, textCol,
              queryOpt.get, parts(0), parts(1).toDouble)
            hdf.write.mode("overwrite").parquet(s"${cfg.outDir}/histogram")
            println(s"histogram -> ${cfg.outDir}/histogram")
            hdf.orderBy("bucket").collect().foreach(r => println(s"  $r"))
          }
          require(!raw.contains("pipeline-aggs") ||
              raw.contains("date-histogram"),
            "--pipeline-aggs runs over the --date-histogram buckets")
          raw.get("date-histogram").foreach { spec =>
            // --date-histogram <tsCol>:<calendarInterval> — ES
            // date_histogram aggregation over the matched set;
            // --pipeline-aggs <window> adds cumulative_sum / derivative /
            // trailing moving average over the buckets
            require(cfg.input.nonEmpty,
              "--date-histogram needs --input (the corpus)")
            require(queryOpt.isDefined,
              "--date-histogram needs --query (term match)")
            val parts = spec.split(":")
            require(parts.length == 2,
              s"--date-histogram expects <tsCol>:<interval>, got '$spec'")
            val hist = graft.ext.Search.dateHistogramFacet(docs, textCol,
              queryOpt.get, parts(0), parts(1))
            val dh = raw.get("pipeline-aggs")
              .map(w => graft.ext.Search.pipelineAggs(hist, w.toInt))
              .getOrElse(hist)
            dh.write.mode("overwrite").parquet(s"${cfg.outDir}/date_histogram")
            println(s"date_histogram -> ${cfg.outDir}/date_histogram")
            dh.orderBy("bucket").collect().foreach(r => println(s"  $r"))
          }
          raw.get("significant-terms").foreach { topN =>
            // --significant-terms <topN> — the ES significant_terms
            // aggregation (JLH) over the matched set
            require(cfg.input.nonEmpty,
              "--significant-terms needs --input (the corpus)")
            require(queryOpt.isDefined,
              "--significant-terms needs --query (term match)")
            val st = graft.ext.Search.significantTermsFacet(docs, textCol,
              queryOpt.get, topN = topN.toInt)
            st.write.mode("overwrite")
              .parquet(s"${cfg.outDir}/significant_terms")
            println(s"significant_terms -> ${cfg.outDir}/significant_terms")
            st.orderBy("rank").collect().foreach(r => println(s"  $r"))
          }
          raw.get("top-hits").foreach { spec =>
            // --top-hits <facetCol>:<k> — the ES top_hits sub-aggregation
            // under a terms bucket
            require(cfg.input.nonEmpty, "--top-hits needs --input (the corpus)")
            require(queryOpt.isDefined, "--top-hits needs --query (term match)")
            val parts = spec.split(":")
            require(parts.length == 2,
              s"--top-hits expects <facetCol>:<k>, got '$spec'")
            val th = graft.ext.Search.topHitsFacet(docs, textCol,
              queryOpt.get, idCol, parts(0), parts(1).toInt)
            th.write.mode("overwrite").parquet(s"${cfg.outDir}/top_hits")
            println(s"top_hits -> ${cfg.outDir}/top_hits")
            th.orderBy("value", "rank").collect().foreach(r => println(s"  $r"))
          }
          raw.get("range-agg").foreach { spec =>
            // --range-agg <numCol>:<from>-<to>[,...] with * for an open
            // end (e.g. value:*-10,10-50,100-*) — the ES range aggregation
            // over the matched set; ranges may overlap
            require(cfg.input.nonEmpty, "--range-agg needs --input (the corpus)")
            require(queryOpt.isDefined, "--range-agg needs --query (term match)")
            val (colName, rest) = spec.span(_ != ':')
            require(rest.nonEmpty && colName.nonEmpty,
              s"--range-agg expects <numCol>:<ranges>, got '$spec'")
            def bound(s: String): Option[Double] =
              if (s == "*") None
              else Some(s.toDoubleOption.getOrElse(throw new
                IllegalArgumentException(
                  s"--range-agg bound must be numeric or *, got '$s'")))
            val ranges = rest.drop(1).split(",").map(_.trim)
              .filter(_.nonEmpty).map { r =>
                // split on the LAST '-' so negative from-bounds parse
                val i = r.lastIndexOf('-')
                require(i > 0 && i < r.length - 1,
                  s"--range-agg range expects <from>-<to>, got '$r'")
                (bound(r.substring(0, i)), bound(r.substring(i + 1)))
              }.toSeq
            val rf = graft.ext.Search.rangeFacet(docs, textCol,
              queryOpt.get, colName, ranges)
            rf.write.mode("overwrite").parquet(s"${cfg.outDir}/range_agg")
            println(s"range_agg -> ${cfg.outDir}/range_agg")
            rf.collect().foreach(r => println(s"  $r"))
          }
          raw.get("cardinality").foreach { fieldsSpec =>
            // --cardinality f1,f2 — the ES cardinality aggregation (exact
            // form) over the matched set
            require(cfg.input.nonEmpty,
              "--cardinality needs --input (the corpus)")
            require(queryOpt.isDefined,
              "--cardinality needs --query (term match)")
            val cf = graft.ext.Search.cardinalityFacet(docs, textCol,
              queryOpt.get,
              fieldsSpec.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            cf.write.mode("overwrite").parquet(s"${cfg.outDir}/cardinality")
            println(s"cardinality -> ${cfg.outDir}/cardinality")
            cf.collect().foreach(r => println(s"  $r"))
          }
          if (raw.get("highlight").exists(_.toBoolean)) {
            require(cfg.input.nonEmpty, "--highlight needs --input (the corpus)")
            // filter to the top-k ids BEFORE highlighting: the snippet
            // arithmetic then touches k docs, not the corpus
            val topIds = spark.read.parquet(outP).select("doc_id")
            val kDocs = docs.join(
              org.apache.spark.sql.functions.broadcast(topIds),
              docs(idCol) === topIds("doc_id"), "left_semi")
            // phrase mode highlights its member terms (every occurrence);
            // bool mode highlights the must+should union
            val hq = queryOpt.orElse(phraseOpt).getOrElse(
              (raw.getOrElse("must", "") + " " +
                raw.getOrElse("should", "")).trim)
            val h = graft.ext.Search.highlights(kDocs, idCol, textCol, hq,
                window = raw.getOrElse("highlight-window", "3").toInt)
            h.write.mode("overwrite").parquet(s"${cfg.outDir}/highlights")
            val hs = spark.read.parquet(s"${cfg.outDir}/highlights")
              .orderBy("doc_id", "term", "pos").collect()
            println(s"highlights: ${hs.length} rows -> ${cfg.outDir}/highlights")
            hs.take(10).foreach(r => println(s"  $r"))
          }
        case "split" =>
          // exact stratified train/val/test split: fold k gets EXACTLY
          // floor-of-cumsum ranks within each stratum (portable md5
          // order); output partitioned by fold for per-fold consumption
          val raw = rawFlags(args)
          val idCol = Option(cfg.id).getOrElse("doc_id")
          val strataCol = raw.getOrElse("split-by", "source")
          val fracs = raw.getOrElse("split-fractions", "0.8,0.1,0.1")
            .split(",").map(_.trim.toDouble).toSeq
          val seed = raw.getOrElse("split-seed", "42").toLong
          val docs = spark.read.parquet(cfg.input)
          val outP = s"${cfg.outDir}/split"
          graft.ext.Mixing.stratifiedSplit(docs, idCol, strataCol, fracs,
              seed)
            .write.mode("overwrite").partitionBy("fold").parquet(outP)
          val sizes = spark.read.parquet(outP).groupBy("fold").count()
            .orderBy("fold").collect().map(r => s"${r.get(0)}:${r.getLong(1)}")
          println(s"stratified split by $strataCol -> $outP " +
            s"(${sizes.mkString(", ")})")
        case "search-stream" =>
          // streaming postings maintenance: watch --input as a DIRECTORY
          // of arriving parquet (id, text) files and commit each
          // micro-batch into the standing postings index at --out
          // (exactly-once staging+rename + idempotent stats deltas)
          val raw = rawFlags(args)
          val idCol = Option(cfg.id).getOrElse("doc_id")
          val textCol = raw.getOrElse("text-col", "text")
          val src = spark.read.parquet(cfg.input)
          val stream = spark.readStream.schema(src.schema).parquet(cfg.input)
          val q = graft.streaming.PostingsIndexStream.start(stream,
            cfg.outDir, idCol, textCol,
            checkpointDir = s"${cfg.outDir}/.ckpt_stream")
          q.awaitTermination(raw.getOrElse("timeout-ms", "600000").toLong)
          val n = spark.read.parquet(s"${cfg.outDir}/postings").count()
          println(s"postings index maintained from stream: ${cfg.outDir} " +
            s"($n postings)")
        case "search-batch" =>
          // batched BM25 (the ES _msearch analog): --queries = a parquet
          // of (query_id, query_text); with --search-index the whole
          // batch rides ONE pruned postings read (indexedBm25TopKBatch),
          // otherwise the corpus-scan batch path. One row per
          // (query_id, doc_id) in each query's top-k.
          val raw = rawFlags(args)
          val k = raw.getOrElse("topk", "10").toInt
          val qPath = raw.getOrElse("queries", throw new
            IllegalArgumentException("--mode search-batch requires " +
              "--queries <parquet with (query_id, query_text)>"))
          val queries = spark.read.parquet(qPath)
          val res = raw.get("search-index") match {
            case Some(idxDir) =>
              graft.ext.Search.indexedBm25TopKBatch(spark, idxDir, queries, k)
            case None =>
              require(cfg.input.nonEmpty,
                "--mode search-batch needs --input (the corpus) or " +
                  "--search-index (a postings index)")
              val idCol = Option(cfg.id).getOrElse("doc_id")
              val textCol = raw.getOrElse("text-col", "text")
              graft.ext.Search.bm25TopKBatch(spark.read.parquet(cfg.input),
                idCol, textCol, queries, k)
          }
          res.write.mode("overwrite").parquet(s"${cfg.outDir}/results")
          val nQ = queries.count()
          println(s"batch search: $nQ queries, top-$k each -> " +
            s"${cfg.outDir}/results")
        case "search-compact" =>
          // streaming/append maintenance leaves one file per (bucket,
          // batch); rewrite to ~one per bucket, fold the stream's stats
          // deltas into the base record, and physically remove tombstoned
          // docs (atomic swap, count-gated)
          val (before, after) =
            graft.ext.Search.compactPostingsIndex(spark, cfg.outDir)
          println(s"postings index compacted: $before -> $after files")
        case "search-delete" | "ann-delete" =>
          // tombstone documents/vectors out of a standing index: queries
          // exclude them immediately, the next compact removes them
          // physically (--delete-ids = a parquet of ids; --id names its
          // column, default doc_id / nid)
          val raw = rawFlags(args)
          val idsPath = raw.getOrElse("delete-ids", throw new
            IllegalArgumentException(s"--mode $mode requires --delete-ids " +
              "<parquet of ids to remove>"))
          val ids = spark.read.parquet(idsPath)
          if (mode == "search-delete") {
            val idCol = Option(cfg.id).getOrElse("doc_id")
            graft.ext.Search.deleteFromPostingsIndex(spark, cfg.outDir,
              ids, idCol)
            val (n, t, _) = graft.ext.Search.readStats(spark, cfg.outDir)
            println(s"postings tombstones recorded; effective corpus now " +
              s"$n docs / $t tokens (compact to remove physically)")
          } else {
            val idCol = Option(cfg.id).getOrElse("nid")
            graft.ext.Similarity.deleteFromIndex(spark, cfg.outDir, ids, idCol)
            val n = spark.read.parquet(s"${cfg.outDir}/deletes/ids").count()
            println(s"ann tombstones recorded ($n ids pending; compact to " +
              "remove physically)")
          }
        case "search-build" | "search-append" =>
          // persisted BM25 postings index lifecycle (the ann-build/append
          // twin for full text): --out is the index DIRECTORY
          val raw = rawFlags(args)
          val idCol = Option(cfg.id).getOrElse("doc_id")
          val textCol = raw.getOrElse("text-col", "text")
          val docs = spark.read.parquet(cfg.input)
          if (mode == "search-build")
            // --search-positional false = BM25-only postings (~half the
            // build cost and bytes; phrase queries refuse loudly)
            graft.ext.Search.buildPostingsIndex(docs, idCol, textCol,
              cfg.outDir, buckets = raw.getOrElse("search-buckets", "64").toInt,
              positional =
                raw.getOrElse("search-positional", "true").toBoolean)
          else
            // append conforms to the index's own flavor
            graft.ext.Search.appendToPostingsIndex(docs, idCol, textCol,
              cfg.outDir)
          val (n, t, b) = graft.ext.Search.readBaseStats(spark, cfg.outDir)
          println(s"postings index at ${cfg.outDir}: $n docs, $t tokens, " +
            s"$b buckets")
        case "semdedup" =>
          // semantic dedup against a frozen centroid artifact (--mode
          // train-centroids output or an ANN index's centroids/): label,
          // prune within-cluster cosine dups keep-first, write survivors
          val raw = rawFlags(args)
          val centPath = raw.getOrElse("mix-cluster-centroids", throw new
            IllegalArgumentException(
              "--mode semdedup requires --mix-cluster-centroids <artifact>"))
          val idCol = Option(cfg.id).getOrElse("doc_id")
          val vecCol = raw.getOrElse("vec-col", "embedding")
          val tau = raw.getOrElse("neardup-threshold", "0.9").toDouble
          // keep policy: "first" (min id) | "low-similarity" (the paper's
          // farthest-from-centroid representative)
          val keep = raw.getOrElse("semdedup-keep", "first")
          val docs = spark.read.parquet(cfg.input)
          val cents = graft.ext.Similarity.loadClusterCentroids(spark, centPath)
          val kept = graft.ext.Dedup.semDedup(docs, idCol, vecCol, cents, tau,
            keep = keep)
          val outP = s"${cfg.outDir}/semdedup"
          kept.write.mode("overwrite").parquet(outP)
          val nIn = docs.count(); val nOut = spark.read.parquet(outP).count()
          println(s"semdedup: $nIn -> $nOut rows (threshold $tau, keep " +
            s"$keep, ${cents.length} clusters) -> $outP")
        case "ann-drift" =>
          // quantizer health: sampled vector->centroid cosine + cell skew
          // vs the stats the index recorded at build time
          val d = graft.ext.Similarity.indexDriftReport(spark, cfg.outDir)
          println(s"rows: ${d.builtRows} built -> ${d.rowsNow} now")
          println(f"avg cos to centroid: ${d.builtAvgCos}%.4f built -> ${d.avgCosNow}%.4f now")
          println(f"max cell share: ${d.builtMaxCellFrac}%.4f built -> ${d.maxCellFracNow}%.4f now")
          println(if (d.retrainAdvised) "RETRAIN ADVISED (quantizer drift)" else "index healthy")
          if (d.retrainAdvised) throw new IllegalStateException(
            "quantizer drift detected; rebuild the index (--mode ann-build)")
        case "compact" =>
          // forceMerge analog: rewrite each shard's many small files
          val r = graft.sink.BundleCompact.compact(spark,
            s"${cfg.outDir}/${cfg.indexName}", filesPerShard = 1)
          println(s"compacted ${cfg.indexName}: ${r.filesBefore} -> ${r.filesAfter} files, " +
            s"${r.docs} docs across ${r.shards} shards")
        case other => throw new IllegalArgumentException(s"unknown --mode $other")
      }
    } finally spark.stop()
  }
}
