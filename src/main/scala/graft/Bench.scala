package graft

import graft.queries.Queries
import graft.sink.BundleSink
import graft.transform.DocTransform

/**
 * Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and the
 * end-to-end bundle pipeline, printing ONE JSON line. Queries are fully
 * materialized through the noop sink (count() would let Catalyst skip
 * computing projected columns, understating work).
 */
object Bench {
  def main(args: Array[String]): Unit = {
    // arg beats env: `sbt --client runMain` executes in the sbt server JVM,
    // which keeps the env it was STARTED with — an env var set on the client
    // invocation silently doesn't arrive
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.get("graft-bench")

    // shuffle/spill accounting across the whole run: the scale signals that
    // wall-clock alone hides (a query can stay "fast" at sf0.1 while its
    // shuffle volume quietly doubles — which is what kills it at 100 TB)
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val spilled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      try f catch { case e: Throwable =>
        System.err.println(s"[bench] failed: ${e.getMessage}"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // temp-dir hygiene (round-13 finding: 12 createTempDirectory sites,
    // zero deletions — a disk-full truncated an r12 capture, and the
    // residue's page-cache/disk pressure polluted entries downstream of
    // the 10M tier). Every bench temp dir registers here; `drainTmp()`
    // runs between sections (an index dir can outlive its creating lambda
    // — annCurve's top1 re-reads it — so per-section draining is the
    // earliest safe point), and the end-of-main finally guarantees zero
    // graft-bench-* residue even on a crash.
    val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    def newTmp(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toString
      tmpDirs += d
      d
    }
    def rmrf(path: String): Unit = try {
      import java.nio.file.{Files, Paths, Path}
      val root = Paths.get(path)
      if (Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(p => Files.deleteIfExists(p))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] cleanup failed for $path: ${e.getMessage}") }
    def drainTmp(): Unit = {
      tmpDirs.foreach(rmrf); tmpDirs.clear()
      // the query suite's in-query index lifecycles scratch here
      graft.queries.Queries.sweepScratch()
    }
    sys.addShutdownHook(drainTmp())

    // per-entry GC + JIT accounting (BASELINE.md round 7: the 1M tier swings
    // 2-4x run-to-run and the fixed-heap experiment disproved the
    // heap-growth hypothesis — so instead of re-running configurations
    // blind, every entry now carries the GC and compilation milliseconds
    // that elapsed inside its timed block; an outlier entry whose gc_ms
    // explains the delta is a measurement artifact, one whose gc_ms is flat
    // is a real regression). local[32] runs executors in this JVM, so the
    // driver-side MXBeans see ALL collection/compile work.
    val diag = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    def gcMsNow(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ > 0).sum
    }
    def jitMsNow(): Long = {
      val c = java.lang.management.ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported)
        c.getTotalCompilationTime else 0L
    }
    def recordDiag[T](name: String)(f: => T): T = {
      val g0 = gcMsNow(); val j0 = jitMsNow()
      val out = f
      val prev = diag.getOrElse(name, (0L, 0L))
      diag(name) = (prev._1 + gcMsNow() - g0, prev._2 + jitMsNow() - j0)
      out
    }
    def timed(name: String)(f: => Unit): Double = recordDiag(name)(time(f))

    // warmup: JIT + codegen + parquet footer caches, so the first measured
    // query isn't charged the whole session's startup cost
    time {
      spark.range(1000000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()
      Tables.load(spark, sfDir, "lineitem").limit(10000)
        .write.mode("overwrite").format("noop").save()
    }

    // tier (arg 2) — the suite grew past what a single capture window
    // fits (958 -> 1685 s in round 13; round 15's everything-tier hit
    // ~58-60 min and the driver's wall budget killed it mid-write,
    // rc=124, leaving BENCH_r15.json empty). The DEFAULT tier must
    // finish well inside the driver's budget, so the 10M decade entries
    // live in their OWN tier, captured and committed separately by the
    // closing protocol:
    //   full  (default; the driver's official BENCH_r{N} capture):
    //          query suite + sink + scans + curves + ALL 1M tiers —
    //          NO 10M entries (the r14 equivalent ran 33 min rc=0)
    //   10m  : JUST the 10M decade — sink_10m, pipeline_full_10m,
    //          search_index_10m (absolute last; r14 pollution rule).
    //          The staged strict-embed entry stays OUT: it is the one
    //          documented superlinear point (~4,200 s measured, carried
    //          in BASELINE.md) — re-measure via 10membed only when
    //          Similarity's LSH code changes.
    //   10membed: 10m + embed_neardup_10m (the staged strict point)
    //   all  : everything — the old round-15 "full"; local use only
    //   quick : query suite + sink + scans only (< 10 min) — no ANN
    //           curves, no neardup, no 1M/10M tiers
    //   skip1m: queries + curves + neardup, no 1M/10M tiers
    //   no10m : alias of full (kept for muscle memory)
    //   only1m: JUST the 1M scale tiers — the fixed-heap experiment
    //           (BASELINE.md round 7) showed -Xms=-Xmx+AlwaysPreTouch
    //           stabilizes the 1M entries but evicts the page cache under
    //           the query suite; this mode gets stable ANN numbers without
    //           that tax:
    //   java -Xms64g -Xmx64g -XX:+AlwaysPreTouch ... graft.Bench <sf> only1m
    //   only10mpipe: pipeline_full_10m + staged embed (the round-15
    //           capture shape, kept for cross-round comparability)
    val tier = args.lift(1).getOrElse("full")
    require(Set("full", "quick", "skip1m", "no10m", "only1m", "only10mpipe",
      "10m", "10membed", "all")(tier),
      s"unknown bench tier '$tier' " +
        "(full|quick|skip1m|no10m|only1m|only10mpipe|10m|10membed|all)")
    // scale-only tiers skip the query suite + sink + scan sections
    val tenMOnly = Set("10m", "10membed")(tier)
    val only1m = tier == "only1m" || tier == "only10mpipe" || tenMOnly
    // curve/neardup sections (10k-40k rows): everything but quick/only-*
    val runCurves = !only1m && tier != "quick"
    val results =
      if (only1m) Seq.empty
      else Queries.all.map { q =>
        q.name -> timed(q.name) {
          q.build(spark, sfDir).write.mode("overwrite").format("noop").save()
        }
      }

    // end-to-end sink pipeline (scan -> docs -> es_shard -> bundle write),
    // measured for both bundle formats
    val sinkDir = newTmp("graft-bench-sink")
    def sinkDocsDf = DocTransform.docs(Tables.load(spark, sfDir, "lineitem")
      .withColumn("li_id", org.apache.spark.sql.functions.concat_ws("-",
        org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_linenumber"))), "li_id", None)
    var sinkDocs = 0L
    val sinkSec = if (only1m) -1.0 else timed("sink_bundle") {
      sinkDocs = BundleSink.write(sinkDocsDf, s"$sinkDir/bench_idx", numShards = 8,
        partitionMultiples = 4, repartition = true).totalDocs
    }
    val sinkParquetSec = if (only1m) -1.0 else timed("sink_bundle_parquet") {
      BundleSink.write(sinkDocsDf, s"$sinkDir/bench_idx_pq", numShards = 8,
        partitionMultiples = 4, repartition = true, format = "parquet")
    }
    // columnar bundles: typed doc fields -> write cost vs the JSON-string
    // formats, then the consumer-side payoff: one doc field read from the
    // whole bundle (columnar prunes to 1 column; json parses every doc)
    def columnarDocsDf = graft.transform.DocTransform.docsColumnar(
      Tables.load(spark, sfDir, "lineitem")
        .withColumn("li_id", org.apache.spark.sql.functions.concat_ws("-",
          org.apache.spark.sql.functions.col("l_orderkey"),
          org.apache.spark.sql.functions.col("l_linenumber"))), "li_id", None)
    val sinkColumnarSec = if (only1m) -1.0 else timed("sink_bundle_columnar") {
      BundleSink.write(columnarDocsDf, s"$sinkDir/bench_idx_col", numShards = 8,
        partitionMultiples = 4, repartition = true, format = "columnar")
    }
    // connector append (round 7): orders docs appended to the standing
    // parquet lineitem bundle (NOT the json one — scan_docfield_json reads
    // that and must stay comparable across rounds) — staged write +
    // rename-in commit + manifest refresh from carried counts. The cost
    // model the entry guards: one exchange over the NEW rows only; the
    // existing bundle is never read or listed beyond numShards shard-dir
    // listStatus calls.
    val sinkInsertAppendSec = if (only1m) -1.0 else timed("sink_insert_append") {
      graft.sink.BundleSink.insertInto(
        DocTransform.docs(Tables.load(spark, sfDir, "orders"),
          "o_orderkey", Some("o_custkey")),
        s"$sinkDir/bench_idx_pq", overwrite = false)
    }
    import org.apache.spark.sql.functions.{col, get_json_object, sum => fsum}
    // medians of 3, like the 1M tiers: these scans are short enough that a
    // single sample is dominated by first-touch JIT of the gzip+jackson
    // path in the fresh bench JVM (measured 1.9-4.4 s first run vs 0.68 s
    // steady under Spark 4.1.2 — the r6 "scan regression" was this, not
    // the scan), and steady-state is the number that scales to a 100 TB
    // scan where warmup amortizes to nothing
    def median3(name: String)(f: => Unit): Double = recordDiag(name) {
      val xs = (1 to 3).map(_ => time(f)).sorted
      xs(1)
    }
    val scanJsonSec = if (only1m) -1.0 else median3("scan_docfield_json") {
      spark.read.schema(graft.streaming.BundleStream.bundleSchema)
        .json(s"$sinkDir/bench_idx/data")
        .select(get_json_object(col("doc"), "$.l_extendedprice").cast("double").as("v"))
        .agg(fsum("v")).write.mode("overwrite").format("noop").save()
    }
    val scanColumnarSec = if (only1m) -1.0 else median3("scan_docfield_columnar") {
      spark.read.parquet(s"$sinkDir/bench_idx_col/data")
        .agg(fsum("l_extendedprice")).write.mode("overwrite").format("noop").save()
    }

    drainTmp() // sink bundle dirs: last read by the scan entries above

    // ANN recall/latency curves: every method's top-1 against brute-force
    // ground truth. Two corpora: "uniform" = the testdata embeddings (iid
    // vectors — ANN-adversarial, a floor), "clustered" = deterministic
    // synthetic clusters (what real embedding corpora look like, and where
    // the methods actually separate). Reported separately from `total` so
    // headline timings stay comparable across rounds.
    def annCurve(emb0: org.apache.spark.sql.DataFrame,
                 querySel: org.apache.spark.sql.Column,
                 methods: Set[String] = Set.empty,
                 extra: Seq[(String, (org.apache.spark.sql.DataFrame,
                   org.apache.spark.sql.DataFrame, Int, Int) =>
                   org.apache.spark.sql.DataFrame)] = Seq.empty,
                 repeats: Int = 1,
                 tag: String = "",
                 onTruth: Map[Long, Long] => Unit = _ => ())
        : Seq[(String, Double, Double)] = try {
      import graft.ext.Similarity
      import org.apache.spark.sql.functions.{col, size}
      val emb = emb0.cache()
      val n = emb.count()
      val queries = emb.filter(querySel)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      // data-driven knobs: ~64 corpus vectors per LSH bucket, ~sqrt(n)/2
      // IVF cells probed at sqrt(nlist) — the quarter-of-nlist probing used
      // through round 3 scanned a constant 25% of the corpus per query
      // regardless of size (pruning that never compounds); sqrt probing
      // shrinks the probed fraction as n grows: at the 1M tier nprobe
      // 125 -> 22 halved ivf_kmeans latency (18 -> 9 s) at recall 1.000
      // (the first loss, 0.995, appeared at nprobe=8)
      val bits = math.max(4, (math.log(n / 64.0) / math.log(2)).round.toInt)
      val nlist = math.max(4, (math.sqrt(n.toDouble) / 2).round.toInt)
      val nprobe = math.max(4, math.sqrt(nlist.toDouble).round.toInt)
      def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.filter(col("rank") === 1).select("qid", "nid").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      var truth: Map[Long, Long] = Map.empty
      val configs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        ("brute", () => Similarity.bruteForceTopK(queries, emb, "vec_id", "vec_id", "embedding", k = 1)),
        ("lsh", () => Similarity.annTopK(queries, emb, "vec_id", "vec_id", "embedding", dim, k = 1, tables = 8, bits = bits)),
        ("lsh_multiprobe", () => Similarity.annTopK(queries, emb, "vec_id", "vec_id", "embedding", dim, k = 1, tables = 8, bits = bits, multiprobe = true, probeBits = 4)),
        ("ivf", () => Similarity.ivfTopK(queries, emb, "vec_id", "vec_id", "embedding", k = 1, nlist = nlist, nprobe = nprobe)),
        ("ivf_kmeans", () => Similarity.ivfTopK(queries, emb, "vec_id", "vec_id", "embedding", k = 1, nlist = nlist, nprobe = nprobe, kmeansIters = 2)),
        ("pq_rerank", () => { // train + encode + compressed scan + exact re-rank
          val model = Similarity.pqTrain(emb, "embedding", dim, m = 8, k = 16)
          Similarity.pqTopKRerank(queries, emb,
            Similarity.pqEncode(emb, "vec_id", "embedding", model),
            "vec_id", "vec_id", "embedding", model, k = 1)
        }),
        ("ivf_pq", () => { // cell pruning + compressed in-cell scoring + re-rank
          val model = Similarity.pqTrain(emb, "embedding", dim, m = 8, k = 16)
          Similarity.ivfPqTopK(queries, emb, "vec_id", "vec_id", "embedding",
            model, k = 1, nlist = nlist, nprobe = nprobe)
        })) ++ extra.map { case (name, f) =>
          (name, () => f(queries, emb, nlist, nprobe))
        }
      val out = configs.filter { case (name, _) =>
        methods.isEmpty || methods(name) || name == "brute" // brute = truth
      }.map { case (name, f) =>
        // repeats > 1: median wall time across identical runs. The 1M tier
        // swings 2-4x run-to-run on GC/JIT (small tiers hold within ~15%);
        // a single sample there is noise, the median is a measurement.
        val runs = recordDiag(if (tag.isEmpty) name else s"$tag:$name") {
          (1 to math.max(1, repeats)).map { _ =>
            val t0 = System.nanoTime()
            val got = top1(f())
            ((System.nanoTime() - t0) / 1e9, got)
          }
        }
        val sec = runs.map(_._1).sorted.apply(runs.size / 2)
        val got = runs.head._2
        if (name == "brute") { truth = got; onTruth(got) }
        val recall =
          if (truth.isEmpty) 0.0
          else truth.count { case (k, v) => got.get(k).contains(v) }.toDouble / truth.size
        (name, sec, recall)
      }
      emb.unpersist()
      out
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ann curve failed: ${e.getMessage}"); Seq.empty
    }
    import org.apache.spark.sql.functions.col
    val uniformCurve =
      if (!runCurves) Seq.empty[(String, Double, Double)]
      else annCurve(Tables.load(spark, sfDir, "embeddings"), col("vec_id") % 20 === 0,
        tag = "uniform")
    // deterministic clustered corpus: 10k vectors, 64-dim, 100 centers,
    // seeded driver-side generation (cheap: ~5 MB)
    val clusteredEmb = {
      val rnd = new scala.util.Random(42)
      val dim = 64
      val centers = Array.fill(100)(Array.fill(dim)(rnd.nextGaussian()))
      val rows = (0 until 10000).map { i =>
        val c = centers(i % 100)
        (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
      }
      import spark.implicits._
      rows.toDF("vec_id", "embedding").repartition(32)
    }
    // ids 0..99 hit clusters 0..99 (cluster = id % 100): one query per
    // cluster. The round-1 selector (% 100 < 1) put every query in
    // cluster 0 — recall became a single-cluster coin flip and the PQ
    // entries swung 1.0 <-> 0.48 across otherwise-equivalent code layouts.
    val clusteredCurve =
      if (!runCurves) Seq.empty[(String, Double, Double)]
      else annCurve(clusteredEmb, col("vec_id") < 100, tag = "clustered")
    // attribute-filtered ANN on a persisted index, fixed 0.5 selectivity:
    // the filtered path pushes the predicate into the probed cell scan and
    // scales nprobe by 1/selectivity, so its cost and recall tradeoff vs
    // the unfiltered query gets a round-over-round number here. Recall is
    // vs brute truth over the MATCHING subset (the filtered contract:
    // equal to post-filtering an unbounded search). label = (id/100)%2
    // splits every cluster 50/50 — geometry-INDEPENDENT, so the number
    // isolates the filtered path (id%2 would make whole clusters
    // single-label, turning the metric into a cross-cluster probe test).
    val annFilteredJson: String = if (!runCurves) "{}" else recordDiag("ann_index_filtered") { try {
      import graft.ext.Similarity
      val emb = clusteredEmb
        .withColumn("label", ((col("vec_id") / 100) % 2).cast("int")).cache()
      emb.count()
      val dir = newTmp("graft-bench-annidx-filtered")
      val t0 = System.nanoTime()
      Similarity.buildIndex(emb, "vec_id", "embedding", dir,
        nlist = 50, kmeansIters = 2, m = 8, k = 16, payloadCols = Seq("label"))
      val buildSec = (System.nanoTime() - t0) / 1e9
      val queries = emb.filter(col("vec_id") < 100)
        .select("vec_id", "embedding")
      def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.filter(col("rank") === 1).select("qid", "nid").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val t1 = System.nanoTime()
      val plain = top1(Similarity.indexTopK(queries, dir, "vec_id",
        "embedding", k = 1))
      val plainSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val filtered = top1(Similarity.indexTopK(queries, dir, "vec_id",
        "embedding", k = 1,
        filter = Some(col("label") === 1), filterSelectivity = 0.5))
      val filteredSec = (System.nanoTime() - t2) / 1e9
      val truthPlain = top1(Similarity.bruteForceTopK(queries, emb,
        "vec_id", "vec_id", "embedding", k = 1))
      val truthFiltered = top1(Similarity.bruteForceTopK(queries,
        emb.filter(col("label") === 1), "vec_id", "vec_id", "embedding", k = 1))
      def recall(got: Map[Long, Long], truth: Map[Long, Long]): Double =
        if (truth.isEmpty) 0.0
        else truth.count { case (q, n) => got.get(q).contains(n) }.toDouble / truth.size
      emb.unpersist()
      f"""{"rows":10000,"selectivity":0.5,"build_sec":$buildSec%.3f,"query_sec":$plainSec%.3f,"filtered_query_sec":$filteredSec%.3f,"recall":${recall(plain, truthPlain)}%.3f,"filtered_recall":${recall(filtered, truthFiltered)}%.3f}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] filtered ann failed: ${e.getMessage}"); "{}" } }
    drainTmp() // filtered-ann index dir

    // embedding near-dup at scale: all-pairs brute vs LSH prefilter + exact
    // verify on the same clustered corpus (10k rows -> brute is 50M pairs;
    // LSH joins only bucket collisions). recall = |lsh| / |brute| since the
    // exact-verify stage admits no false positives.
    // two sizes: 10k shares the ann-curve corpus; 40k (800 clusters)
    // demonstrates the brute/LSH crossover — brute is O(n^2) in dots while
    // LSH candidates grow ~linearly at fixed cluster density (measured:
    // brute 2.0 s @10k -> 5.0 s @20k -> ~20 s @40k; LSH 3.8 -> 5.7 -> ~8)
    def neardupAt(label: String)(df0: org.apache.spark.sql.DataFrame): String = recordDiag(label) { try {
      import graft.ext.Similarity
      val df = df0.cache(); val n = df.count()
      var bruteCnt = 0L; var lshCnt = 0L
      val tB = time { bruteCnt = Similarity.cosineNearDups(
        df, "vec_id", "embedding", threshold = 0.9, maxRows = n).count() }
      val tL = time { lshCnt = Similarity.cosineNearDupsLsh(
        df, "vec_id", "embedding", threshold = 0.9, dim = 64).count() }
      val rec = if (bruteCnt > 0) lshCnt.toDouble / bruteCnt else 0.0
      df.unpersist()
      f"""{"rows":$n,"brute_sec":$tB%.3f,"lsh_sec":$tL%.3f,"brute_pairs":$bruteCnt,"lsh_pairs":$lshCnt,"recall":$rec%.3f}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] neardup failed: ${e.getMessage}"); "{}" } }
    val neardupJson = if (!runCurves) "{}" else neardupAt("neardup")(clusteredEmb)
    val neardupBigJson = if (!runCurves) "{}" else {
      val rnd = new scala.util.Random(43)
      val dim = 64
      val centers = Array.fill(800)(Array.fill(dim)(rnd.nextGaussian()))
      val rows = (0 until 40000).map { i =>
        val c = centers(i % 800)
        (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
      }
      import spark.implicits._
      neardupAt("neardup_big")(rows.toDF("vec_id", "embedding").repartition(32))
    }
    def curveJson(c: Seq[(String, Double, Double)]): String = c.map { case (n, s, r) =>
      "\"" + n + "\":{\"sec\":" + f"$s%.3f" + ",\"recall\":" + f"$r%.3f" + "}"
    }.mkString("{", ",", "}")

    // ===== 1M-row scale tier (pass "skip1m" as arg 2 to omit locally) =====
    // Generation is DISTRIBUTED and deterministic: spark.range -> per-id
    // seeded vectors inside a UDF (generation only; never on a query path).
    // No driver-side materialization — the same shape generates 1e9 rows on
    // a real cluster. Reported separately from `total` like the other
    // recall sections.
    val run1m = Set("full", "no10m", "only1m", "all")(tier)
    // 10M decade entries: ONLY in the explicit 10M tiers (and "all") —
    // the round-16 budget split that keeps the driver's default capture
    // inside its wall clock
    val run10m = Set("10m", "10membed", "all")(tier)
    val run10mPipe = run10m || tier == "only10mpipe"
    val runEmbed10m = Set("10membed", "only10mpipe", "all")(tier)
    val runSink10m = Set("10m", "10membed", "all")(tier)
    // contention-aware 10M protocol (round-15): the 10M build swung
    // 244/352/683 s across same-code captures — any real regression would
    // hide inside that spread. Every timed 10M-tier phase now (a) runs
    // behind a recorded disk-sync quiesce (flush dirty pages so the
    // PREVIOUS phase's multi-GB writeback doesn't bill this phase's wall)
    // and (b) reports the median of 3 runs.
    def quiesce(): Unit = try {
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      Thread.sleep(2000)
    } catch { case _: Throwable => () }
    import org.apache.spark.sql.functions.udf
    val dim1m = 64
    // clustered ANN corpus: cluster = id % 20k (50 rows/cluster), center
    // re-derived from the cluster seed per row (64 gaussians — cheaper than
    // shuffling a centers table around)
    val clusterGen = udf { (id: Long) =>
      val rc = new scala.util.Random(id % 20000L * 104729L + 7L)
      val rj = new scala.util.Random(id * 31L + 1L)
      Array.fill(dim1m)((rc.nextGaussian() + 0.15 * rj.nextGaussian()).toFloat)
    }
    // persisted-index tier entry: build once (IVF cells as parquet
    // partitions + PQ codes), then query through partition-pruned reads —
    // the curve's sec = build + query; the split is reported separately so
    // the amortization story is visible (every OTHER method re-trains and
    // re-encodes per call; the index pays build once per corpus)
    val idxBuildSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val idxQuerySecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val leanBuildSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val leanQuerySecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var idxCellsBytes = -1L
    var leanCellsBytes = -1L
    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (!f.exists) 0L
      else if (f.isFile) f.length
      else f.listFiles.map(c => dirBytes(c.getPath)).sum
    }
    // brute-force top-1 truth over the 1M corpus's 200 queries, captured
    // from the curve's own brute pass so the shortlist entry below doesn't
    // pay a second 2e8-dot scan
    var truth1m: Map[Long, Long] = Map.empty
    val ann1mCurve: Seq[(String, Double, Double)] =
      if (!run1m) Seq.empty
      else annCurve(
        spark.range(1000000L).select(col("id").as("vec_id"),
          clusterGen(col("id")).as("embedding")).repartition(64),
        // 200 queries: enough for brute's O(|Q|·|C|) pair cost to cross the
        // bucketed methods' fixed corpus-side cost (train + assignment scans
        // amortize across queries; at 50 queries brute still wins at 1M)
        col("vec_id") < 200,
        // the three methods whose story changes with scale: LSH lookup,
        // IVF pruning, IVF-PQ compressed scan (brute rides along as truth)
        methods = Set("lsh", "ivf_kmeans", "ivf_pq", "ivf_pq_index",
          "ivf_pq_index_lean"),
        tag = "clustered_1m",
        onTruth = t => truth1m = t,
        extra = Seq("ivf_pq_index" -> { (queries, emb, nlist, nprobe) =>
          val dir = newTmp("graft-bench-annidx")
          val t0 = System.nanoTime()
          graft.ext.Similarity.buildIndex(emb, "vec_id", "embedding", dir,
            nlist = nlist, kmeansIters = 2, m = 8, k = 16)
          idxBuildSecs += (System.nanoTime() - t0) / 1e9
          idxCellsBytes = dirBytes(s"$dir/cells")
          val t1 = System.nanoTime()
          val out = graft.ext.Similarity.indexTopK(queries, dir, "vec_id",
            "embedding", k = 1, nprobe = nprobe)
          out.write.mode("overwrite").format("noop").save() // materialize query cost
          idxQuerySecs += (System.nanoTime() - t1) / 1e9
          out
        },
        // codes-only index + exact re-rank against the source corpus: the
        // footprint path (cells are PQ codes, no vectors) — same results as
        // the full index, cells bytes reported alongside for the contrast
        "ivf_pq_index_lean" -> { (queries, emb, nlist, nprobe) =>
          val dir = newTmp("graft-bench-annidx-lean")
          val t0 = System.nanoTime()
          graft.ext.Similarity.buildIndex(emb, "vec_id", "embedding", dir,
            nlist = nlist, kmeansIters = 2, m = 8, k = 16, storeVectors = false)
          leanBuildSecs += (System.nanoTime() - t0) / 1e9
          leanCellsBytes = dirBytes(s"$dir/cells")
          val t1 = System.nanoTime()
          val out = graft.ext.Similarity.indexTopK(queries, dir, "vec_id",
            "embedding", k = 1, nprobe = nprobe,
            rerankCorpus = Some(emb), rerankIdCol = "vec_id")
          out.write.mode("overwrite").format("noop").save()
          leanQuerySecs += (System.nanoTime() - t1) / 1e9
          out
        }),
        // NOTE: an ADC-only entry (codes-only + residual, no exact stage)
        // was measured once and removed: top-1-vs-brute is the wrong metric
        // for it. At 50-row clusters the within-cluster sim gaps sit below
        // the m=8/k=16 quantization noise, so exact-top-1 recall is ~chance
        // (measured 0.01) even though the shortlist it produces is what a
        // re-rank stage needs — which is precisely the ivf_pq_index_lean
        // entry above. The residual ADC ordering improvement is pinned
        // where it is resolvable (SimilaritySpec: twin top-1 7/8 vs 3/8).
        repeats = 3)
    drainTmp() // the 1M curve's six ivf_pq_index(+lean) dirs (3 repeats each)

    // near-dup at 1M: brute all-pairs is 5e11 dots — physically off the
    // table, which is the point. Ground truth comes from PLANTED clones
    // instead: ids with id%20==19 are jittered copies of id-1 (cosine
    // ~0.9999; unrelated uniform 64-dim pairs sit at |cos| ~ 0.12 sigma, so
    // threshold 0.9 admits planted pairs only) -> recall is exact without a
    // brute pass.
    val neardup1mJson: String =
      if (!run1m) "{}"
      else recordDiag("neardup_1m") { try {
        import graft.ext.Similarity
        val cloneGen = udf { (id: Long) =>
          val base = if (id % 20L == 19L) id - 1L else id
          val r = new scala.util.Random(base * 2654435761L + 13L)
          val v = Array.fill(dim1m)(r.nextGaussian().toFloat)
          if (base != id) {
            val rj = new scala.util.Random(id * 7L + 3L)
            v.map(x => (x + 0.01 * rj.nextGaussian()).toFloat)
          } else v
        }
        val df = spark.range(1000000L).select(col("id").as("vec_id"),
          cloneGen(col("id")).as("embedding")).repartition(64).cache()
        val planted = df.count() / 20L // 50k planted (id-1, id) pairs
        // median of 3 like the ANN 1M entries: this tier swings 2-4x on
        // GC/JIT run-to-run (r4 recorded 16.7 s, the closing isolated run
        // 62.1 s — same jar), so a single sample is noise, not a number
        var found = 0L
        var plantedFound = 0L
        val secs = (1 to 3).map { _ =>
          var pairs: org.apache.spark.sql.DataFrame = null
          val t = time {
            pairs = Similarity.cosineNearDupsLsh(df, "vec_id", "embedding",
              threshold = 0.9, dim = dim1m, bits = 16).cache()
            found = pairs.count()
          }
          plantedFound = pairs.filter(col("id_b") === col("id_a") + 1 &&
            col("id_b") % 20 === 19).count()
          pairs.unpersist()
          t
        }
        val tL = secs.sorted.apply(secs.size / 2)
        val rec = plantedFound.toDouble / planted
        df.unpersist()
        f"""{"rows":1000000,"lsh_sec":$tL%.3f,"planted_pairs":$planted,"found_pairs":$found,"planted_recall":$rec%.4f,"runs":3}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] neardup 1m failed: ${e.getMessage}"); "{}" } }

    // hierarchical coarse quantizer at the big-nlist point (4096 engages
    // the two-level trainer): the flat path would collect nlist*32 = 131k
    // sample vectors (~67 MB at dim 64 — ~1 GB at dim 1024) and run an
    // O(sample * nlist) init on the driver; the two-level trainer's driver
    // traffic is the nlist x dim result itself. Median of 3.
    val hierJson: String =
      if (!run1m) "{}"
      else recordDiag("hier_quantizer_1m") { try {
        val emb = spark.range(1000000L).select(col("id").as("vec_id"),
          clusterGen(col("id")).as("embedding")).repartition(64).cache()
        emb.count()
        val hnlist = 4096
        var got = 0
        val secs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val cents = graft.ext.Similarity.hierarchicalCentroids(
            emb, "vec_id", "embedding", nlist = hnlist, iters = 2)
          got = cents.length
          (System.nanoTime() - t0) / 1e9
        }
        emb.unpersist()
        val tM = secs.sorted.apply(secs.size / 2)
        val resultBytes = got.toLong * dim1m * 8
        val flatSampleBytes = hnlist.toLong * 32 * dim1m * 8
        f"""{"rows":1000000,"nlist":$hnlist,"train_sec":$tM%.3f,"centroids":$got,"driver_result_bytes":$resultBytes,"flat_sample_bytes_avoided":$flatSampleBytes,"runs":3}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] hier quantizer failed: ${e.getMessage}"); "{}" } }


    // residual-vs-raw ADC shortlist recall at 1M (the residual-as-default
    // decision entry, ROADMAP round-7 item (a) follow-up). Exact top-1 was
    // the wrong metric for ADC-only codes at 50-row clusters (within-cluster
    // sim gaps sit below m=8/k=16 quantization noise — measured ~0.01
    // recall, see the NOTE on the curve above); what an ADC scan actually
    // feeds a re-rank stage is its SHORTLIST, so the resolvable question is:
    // does the true top-1 survive into the top-64 ADC candidates (the
    // k=1 x rerankFactor=64 default cut)? Both layouts are built codes-only
    // at equal knobs on the same corpus; recall is against the brute truth
    // captured from the curve's own 1M pass.
    val pqShortlist1mJson: String =
      if (!run1m || truth1m.isEmpty) "{}"
      else recordDiag("pq_shortlist_1m") { try {
        val emb = spark.range(1000000L).select(col("id").as("vec_id"),
          clusterGen(col("id")).as("embedding")).repartition(64).cache()
        emb.count()
        val queries = emb.filter(col("vec_id") < 200)
        val nlist1m = math.max(4, (math.sqrt(1000000.0) / 2).round.toInt)
        val shortlist = 64
        def layout(residual: Boolean): (Double, Double, Double) = {
          val dir = newTmp(
            s"graft-bench-shortlist-${if (residual) "res" else "raw"}")
          val t0 = System.nanoTime()
          graft.ext.Similarity.buildIndex(emb, "vec_id", "embedding", dir,
            nlist = nlist1m, kmeansIters = 2, m = 8, k = 16,
            storeVectors = false, residual = residual)
          val buildSec = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          // k = shortlist, rerankFactor = 1: the two-level cut nominates the
          // same k*rerankFactor = 64 candidates a (k=1, rerankFactor=64)
          // exact stage would see, and with no rerankCorpus the ADC ranking
          // comes back as-is
          val got = graft.ext.Similarity.indexTopK(queries, dir, "vec_id",
              "embedding", k = shortlist, rerankFactor = 1)
            .select("qid", "nid").collect()
            .groupBy(_.getLong(0)).map { case (q, rs) =>
              q -> rs.map(_.getLong(1)).toSet }
          val querySec = (System.nanoTime() - t1) / 1e9
          val rec = truth1m.count { case (q, n) =>
            got.getOrElse(q, Set.empty[Long]).contains(n) }.toDouble / truth1m.size
          (buildSec, querySec, rec)
        }
        val (rawB, rawQ, rawRec) = layout(residual = false)
        val (resB, resQ, resRec) = layout(residual = true)
        emb.unpersist()
        f"""{"rows":1000000,"shortlist":$shortlist,"raw":{"build_sec":$rawB%.3f,"query_sec":$rawQ%.3f,"shortlist_recall":$rawRec%.3f},"residual":{"build_sec":$resB%.3f,"query_sec":$resQ%.3f,"shortlist_recall":$resRec%.3f}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pq shortlist 1m failed: ${e.getMessage}"); "{}" } }


    drainTmp() // shortlist raw/res index dirs

    // trainer-export tier at 1M docs: packing's counts-only assignment and
    // the temperature mix's two-phase prefix cap, both on deterministic
    // synthetic corpora (generation is distributed; the same shape runs at
    // 1e9 on a cluster). Medians of 3 like the other 1M entries.
    import org.apache.spark.sql.functions.lit
    val pack1mJson: String =
      if (!run1m) "{}"
      else recordDiag("pack_1m") { try {
        val maxLen = 2048
        val docs = spark.range(1000000L).select(col("id").as("doc_id"),
          (lit(64) + org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(col("id")), lit(1900)))
            .cast("int").as("ntok")).repartition(64).cache()
        val totalTok = docs.agg(fsum("ntok")).head().getLong(0)
        var seqs = 0L
        val secs = (1 to 3).map { _ =>
          time {
            seqs = graft.ext.Packing.packAssignments(docs, "doc_id", "ntok",
                maxLen, numBuckets = 1000)
              .select("seq_id").distinct().count()
          }
        }
        docs.unpersist()
        val med = secs.sorted.apply(secs.size / 2)
        val fill = totalTok.toDouble / (seqs * maxLen)
        f"""{"rows":1000000,"max_len":$maxLen,"sec":$med%.3f,"seqs":$seqs,"fill":$fill%.4f,"runs":3}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pack 1m failed: ${e.getMessage}"); "{}" } }
    val mix1mJson: String =
      if (!run1m) "{}"
      else recordDiag("mix_1m") { try {
        val docs = spark.range(1000000L).select(col("id").as("doc_id"),
          org.apache.spark.sql.functions.concat(lit("src"),
            org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.xxhash64(col("id"), lit(1)),
              lit(20))).as("source"),
          (lit(50) + org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(col("id"), lit(2)),
            lit(150))).cast("long").as("cost")).repartition(64).cache()
        val total = docs.agg(fsum("cost")).head().getLong(0)
        var kept = 0L
        val secs = (1 to 3).map { _ =>
          time {
            kept = graft.ext.Mixing.temperatureMix(docs, "source", "doc_id",
              col("cost"), total * 2 / 5, temperature = 0.5).count()
          }
        }
        docs.unpersist()
        val med = secs.sorted.apply(secs.size / 2)
        f"""{"rows":1000000,"sec":$med%.3f,"kept":$kept,"runs":3}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] mix 1m failed: ${e.getMessage}"); "{}" } }

    // BM25 search at the 1M tier: literal 3-term query over 1M synthetic
    // docs (~100 words each from a 100-word vocab => ~100M token scan).
    // The literal-query path is two map-only passes (stats agg + score/
    // TakeOrdered) — the entry pins that a full-text top-k over the corpus
    // costs scan time, not postings-build time. Median of 3.
    val bm251mJson: String =
      if (!run1m) "{}"
      else recordDiag("bm25_1m") { try {
        import org.apache.spark.sql.functions.expr
        val docs = spark.range(1000000L).select(col("id").as("doc_id"),
          expr("""array_join(transform(
                    sequence(1, cast(50 + pmod(xxhash64(id), 100) as int)),
                    i -> concat('w', pmod(xxhash64(id, i), 100))), ' ')""")
            .as("text")).repartition(64).cache()
        docs.count() // materialize generation outside the timed region
        var top = Array.empty[(Long, Double)]
        val secs = (1 to 3).map { _ =>
          time {
            top = graft.ext.Search.bm25TopK(docs, "doc_id", "text",
                "w3 w17 w42", k = 10)
              .collect().map(r => (r.getLong(0), r.getDouble(2)))
          }
        }
        docs.unpersist()
        val med = secs.sorted.apply(secs.size / 2)
        f"""{"rows":1000000,"sec":$med%.3f,"k":10,"top1_doc":${top.head._1},"top1_score":${top.head._2}%.4f,"runs":3}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] bm25 1m failed: ${e.getMessage}"); "{}" } }

    // persisted postings index at the 1M tier: one-time build cost over
    // the same synthetic corpus, then the indexed-query latency — the
    // pruned-bucket read should be 10-100x below the scan path's
    // (bm25_1m), pinning the standing-index story's payoff. Median of 3.
    val bm25Index1mJson: String =
      if (!run1m) "{}"
      else recordDiag("bm25_index_1m") { try {
        import org.apache.spark.sql.functions.expr
        val docs = spark.range(1000000L).select(col("id").as("doc_id"),
          expr("""array_join(transform(
                    sequence(1, cast(50 + pmod(xxhash64(id), 100) as int)),
                    i -> concat('w', pmod(xxhash64(id, i), 100))), ' ')""")
            .as("text")).repartition(64).cache()
        docs.count()
        val dir = newTmp("graft-bench-bm25idx")
        val buildSec = time {
          graft.ext.Search.buildPostingsIndex(docs, "doc_id", "text", dir,
            buckets = 64)
        }
        // the positional-off knob: a BM25-only corpus reclaims the ~2x
        // positional build tax (same corpus, positions skipped)
        val dirNopos = newTmp("graft-bench-bm25nopos")
        val buildNoposSec = time {
          graft.ext.Search.buildPostingsIndex(docs, "doc_id", "text",
            dirNopos, buckets = 64, positional = false)
        }
        docs.unpersist()
        var top = Array.empty[(Long, Double)]
        val qsecs = (1 to 3).map { _ =>
          time {
            top = graft.ext.Search.indexedBm25TopK(spark, dir,
                "w3 w17 w42", k = 10)
              .collect().map(r => (r.getLong(0), r.getDouble(2)))
          }
        }
        val qMed = qsecs.sorted.apply(qsecs.size / 2)
        // serving-loop batching: 8 queries as ONE pruned-read batch vs the
        // per-query loop (the indexedBm25TopKBatch payoff under test).
        // FAIRNESS: warm BOTH paths untimed first — the batch run touches
        // the same postings buckets the loop then reads, so timing the
        // loop right after an un-warmed batch hands it a page-cache
        // subsidy (and vice versa); after one untimed pass of each, both
        // timed runs read warm caches and compare like for like.
        import spark.implicits._
        val batchQueries = (1 to 8).map(i =>
          (i.toLong, s"w${i * 3} w${i * 7 + 1} w${i * 11 + 2}"))
        val batchDf = batchQueries.toDF("query_id", "query_text")
        graft.ext.Search.indexedBm25TopKBatch(spark, dir, batchDf, k = 10)
          .count()
        batchQueries.foreach { case (_, q) =>
          graft.ext.Search.indexedBm25TopK(spark, dir, q, k = 10).count()
        }
        val batchSec = time {
          graft.ext.Search.indexedBm25TopKBatch(spark, dir, batchDf, k = 10)
            .count()
        }
        val perQuerySec = time {
          batchQueries.foreach { case (_, q) =>
            graft.ext.Search.indexedBm25TopK(spark, dir, q, k = 10).count()
          }
        }
        f"""{"rows":1000000,"build_sec":$buildSec%.3f,"build_nopos_sec":$buildNoposSec%.3f,"query_sec":$qMed%.3f,"batch8_sec":$batchSec%.3f,"perquery8_sec":$perQuerySec%.3f,"k":10,"top1_doc":${top.head._1},"top1_score":${top.head._2}%.4f,"runs":3}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] bm25 index 1m failed: ${e.getMessage}"); "{}" } }

    drainTmp() // bm25idx + bm25nopos dirs

    // indexed fuzzy at the 1M tier: the term-dictionary payoff — a
    // typo-tolerant query answered from vocabulary expansion + pruned
    // postings vs the two-full-scan relaxed path. Realistic vocab
    // (~5000 distinct words, ~50-token docs), fuzziness 1, 2 query terms.
    val fuzzyIndex1mJson: String =
      if (!run1m) "{}"
      else recordDiag("fuzzy_index_1m") { try {
        import org.apache.spark.sql.functions.expr
        val docs = spark.range(1000000L).select(col("id").as("doc_id"),
          expr("""array_join(transform(
                    sequence(1, cast(30 + pmod(xxhash64(id), 40) as int)),
                    i -> concat('w', pmod(xxhash64(id, i), 5000))), ' ')""")
            .as("text")).repartition(64).cache()
        docs.count()
        val dir = newTmp("graft-bench-fuzzyidx")
        val buildSec = time {
          graft.ext.Search.buildPostingsIndex(docs, "doc_id", "text", dir,
            buckets = 64)
        }
        var scanTop = Array.empty[(Long, Double)]
        val scanSec = time {
          scanTop = graft.ext.Search.fuzzyTopK(docs, "doc_id", "text",
              "w123 w4567", k = 10, fuzziness = 1)
            .collect().map(r => (r.getLong(0), r.getDouble(2)))
        }
        docs.unpersist()
        var idxTop = Array.empty[(Long, Double)]
        val idxSecs = (1 to 3).map { _ =>
          time {
            // maxExpansions = 0: this entry MEASURES the full-expansion
            // cost and asserts scan identity (the serving default of 50
            // would silently shrink both)
            idxTop = graft.ext.Search.indexedFuzzyTopK(spark, dir,
                "w123 w4567", k = 10, fuzziness = 1, maxExpansions = 0)
              .collect().map(r => (r.getLong(0), r.getDouble(2)))
          }
        }
        val idxMed = idxSecs.sorted.apply(idxSecs.size / 2)
        val agree = scanTop.sameElements(idxTop)
        f"""{"rows":1000000,"build_sec":$buildSec%.3f,"scan_sec":$scanSec%.3f,"index_sec":$idxMed%.3f,"scan_index_identical":$agree,"k":10,"runs":3}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] fuzzy index 1m failed: ${e.getMessage}"); "{}" } }


    drainTmp() // fuzzyidx dir

    // standing-index HYBRID search at the 1M tier (the serving-loop
    // shape): postings index + ANN index over the same corpus, then the
    // fused BM25+vector RRF query from the two indexes vs the scan-path
    // hybrid over raw tables. The claim under measurement: an indexed
    // hybrid query costs ~(indexed BM25 + probed ANN), not corpus-scan
    // seconds — the payoff of building both indexes once.
    val hybridIndex1mJson: String =
      if (!run1m) "{}"
      else recordDiag("hybrid_index_1m") { try {
        import org.apache.spark.sql.functions.expr
        val docs = spark.range(1000000L).select(col("id").as("doc_id"),
          expr("""array_join(transform(
                    sequence(1, cast(50 + pmod(xxhash64(id), 100) as int)),
                    i -> concat('w', pmod(xxhash64(id, i), 100))), ' ')""")
            .as("text"),
          expr("""transform(sequence(1, 32), j ->
                    cast(pmod(xxhash64(id, j + 300), 2001) - 1000 as double)
                    / 1000.0)""").as("embedding"))
          .repartition(64).cache()
        docs.count()
        val root = newTmp("graft-bench-hybrid")
        val bmBuildSec = time {
          graft.ext.Search.buildPostingsIndex(docs, "doc_id", "text",
            s"$root/bm25", buckets = 64)
        }
        val annBuildSec = time {
          graft.ext.Similarity.buildIndex(docs, "doc_id", "embedding",
            s"$root/ann", nlist = 256, kmeansIters = 2)
        }
        val qv = docs.filter(col("doc_id") === 7)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toSeq
        // scan path once: the corpus-scan cost the indexes avoid
        var scanTop = Array.empty[Long]
        val scanSec = time {
          scanTop = graft.ext.Search.hybridTopK(docs, "doc_id", "text",
              docs, "doc_id", "embedding", "w3 w17 w42", qv, k = 10)
            .collect().map(_.getLong(0))
        }
        docs.unpersist()
        var top = Array.empty[Long]
        val qsecs = (1 to 3).map { _ =>
          time {
            top = graft.ext.Search.hybridTopKIndexed(spark, s"$root/bm25",
                s"$root/ann", "w3 w17 w42", qv, k = 10)
              .collect().map(_.getLong(0))
          }
        }
        val qMed = qsecs.sorted.apply(qsecs.size / 2)
        val agree = top.toSet.intersect(scanTop.toSet).size
        f"""{"rows":1000000,"bm25_build_sec":$bmBuildSec%.3f,"ann_build_sec":$annBuildSec%.3f,"query_sec":$qMed%.3f,"scan_sec":$scanSec%.3f,"k":10,"top10_overlap_vs_scan":$agree,"runs":3}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] hybrid index 1m failed: ${e.getMessage}"); "{}" } }

    drainTmp() // hybrid bm25+ann root

    // streaming carry-packing at the 1M tier: the same corpus arrives as 4
    // micro-batches of 250k docs (REAL token arrays this time — the carry
    // path's cost includes merging carried input_ids, so benching counts
    // only would flatter it); open bins thread batch-to-batch through a
    // materialized state frame, like the stream's packbins snapshots.
    // Reported: per-batch seconds, fill of EMITTED sequences, and the
    // batch path's fill on the identical corpus as the comparison point.
    val packCarry1mJson: String =
      if (!run1m) "{}"
      else recordDiag("pack_carry_1m") { try {
        import org.apache.spark.sql.functions.{coalesce, count => fcount, expr, lit, size => fsize}
        val maxLen = 512
        val nBatches = 4
        val per = 250000L
        def batchDocs(b: Int) =
          spark.range(b * per, (b + 1) * per).select(col("id").as("doc_id"),
            // 16..479 tokens/doc (avg ~247): arrays are the honest payload
            expr("sequence(1, cast(16 + pmod(xxhash64(id), 464) as int))")
              .as("toks")).repartition(32)
        var carried: Option[org.apache.spark.sql.DataFrame] = None
        var emittedSeqs = 0L
        var emittedTok = 0L
        val batchSecs = (0 until nBatches).map { b =>
          val docs = batchDocs(b)
          time {
            val (emitted, open) = graft.ext.Packing.packCarryBatch(docs,
              "doc_id", "toks", carried, b.toLong, maxLen,
              numBuckets = 250, carryBatches = 1)
            val agg = emitted.agg(fcount(lit(1)),
              coalesce(fsum("n_tokens"), lit(0L))).head()
            emittedSeqs += agg.getLong(0); emittedTok += agg.getLong(1)
            // materialize the carried state like a real stream's snapshot.
            // The superseded snapshot's blocks are intentionally NOT freed
            // here: Dataset.unpersist cannot release localCheckpoint RDD
            // blocks (it only evicts cacheManager entries), they are
            // bounded anyway (open bins <= numBuckets rows), and the
            // ContextCleaner reclaims them once the frame is unreachable.
            carried = Some(open.localCheckpoint())
          }
        }
        val pendingTok = carried.map(_.agg(
          coalesce(fsum(fsize(col("input_ids"))), lit(0L))).head().getLong(0))
          .getOrElse(0L)
        val fillEmitted = emittedTok.toDouble / (emittedSeqs * maxLen)
        // comparison: one global batch-path packing of the same corpus
        // (counts only — same number as pack_1m's fill law, same maxLen)
        val allCounts = spark.range(nBatches * per).select(col("id").as("doc_id"),
          expr("cast(16 + pmod(xxhash64(id), 464) as int)").as("ntok"))
        val batchSeqs = graft.ext.Packing.packAssignments(allCounts, "doc_id",
          "ntok", maxLen, numBuckets = 250).select("seq_id").distinct().count()
        val totalTok = allCounts.agg(fsum("ntok")).head().getLong(0)
        val fillBatch = totalTok.toDouble / (batchSeqs * maxLen)
        val secsJson = batchSecs.map(s => f"$s%.3f").mkString("[", ",", "]")
        f"""{"rows":${nBatches * per},"batches":$nBatches,"max_len":$maxLen,"batch_secs":$secsJson,"emitted_seqs":$emittedSeqs,"fill_emitted":$fillEmitted%.4f,"fill_batch_path":$fillBatch%.4f,"pending_tokens":$pendingTok}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pack carry 1m failed: ${e.getMessage}"); "{}" } }

    // concat-and-chunk packing at 1M docs with REAL token arrays (the
    // honest payload: the operator's cost is the two token-bearing
    // shuffles — offsets join + window assembly). fill is 1.0 by
    // construction up to the final partial window; the entry pins the
    // throughput of re-chunking ~250M tokens.
    val chunk1mJson: String =
      if (!run1m) "{}"
      else recordDiag("chunk_1m") { try {
        import org.apache.spark.sql.functions.{count => fcount, expr}
        val maxLen = 2048
        val docs = spark.range(1000000L).select(col("id").as("doc_id"),
          expr("sequence(1, cast(16 + pmod(xxhash64(id), 464) as int))")
            .as("toks")).repartition(64)
        var seqs = 0L; var toks = 0L
        val sec = time {
          val agg = graft.ext.Packing
            .chunkSequences(docs, "doc_id", "toks", maxLen)
            .agg(fcount(lit(1)), fsum("n_tokens")).head()
          seqs = agg.getLong(0); toks = agg.getLong(1)
        }
        val fill = toks.toDouble / (seqs * maxLen)
        f"""{"rows":1000000,"max_len":$maxLen,"sec":$sec%.3f,"seqs":$seqs,"tokens":$toks,"fill":$fill%.4f}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] chunk 1m failed: ${e.getMessage}"); "{}" } }

    // end-to-end corpus pipeline at the 1M tier: quality -> exact dedup ->
    // MinHash near-dup -> temperature mix -> BPE tokenize -> columnar
    // bundle, composed through CorpusPipeline.run — the component stages
    // each have a 1M number above; this entry pins what the COMPOSITION
    // costs (stage-count plumbing included: counts ride observe() metrics
    // on the two localCheckpoint materializations, not per-stage count()
    // re-executions). Median of 3 like the other 1M entries: single
    // captures of this entry spread 28.6-66 s across rounds (stage counts
    // byte-identical — environment swing, not nondeterminism), too wide to
    // detect a 1.5x regression from one sample. Plants: 50k exact
    // duplicates (ids 950k+ repeat ids 0..50k) and 50k near-duplicates
    // (ids 900k..950k add a 3-word suffix), so both drop paths do real work.
    val pipeline1mJson: String =
      if (!run1m) "{}"
      else recordDiag("pipeline_1m") { try {
        import org.apache.spark.sql.functions.{concat, expr, length => flength, pmod, when, xxhash64}
        val n = 1000000L
        val pipeRoot = newTmp("graft-bench-pipe")
        val textGen = expr(
          "concat_ws(' ', transform(sequence(1, cast(30 + pmod(xxhash64(b), 40) as int)), " +
            "j -> CASE WHEN pmod(xxhash64(b, j), 2) = 0 " +
            "THEN element_at(array('the','of','and','to','a','in','is','for'), " +
            "cast(pmod(xxhash64(b, j + 100), 8) + 1 as int)) " +
            "ELSE concat('w', pmod(xxhash64(b, j + 200), 5000)) END))")
        val gen = spark.range(n).select(col("id"),
            when(col("id") >= 950000L, col("id") - 950000L)
              .when(col("id") >= 900000L, col("id") - 900000L)
              .otherwise(col("id")).as("b"),
            (col("id") >= 900000L && col("id") < 950000L).as("nd"))
          .select(col("id").as("doc_id"),
            concat(lit("src"), pmod(xxhash64(col("id"), lit(1)), lit(20)))
              .as("source"),
            when(col("nd"), concat(textGen, lit(" zzz qqq www")))
              .otherwise(textGen).as("text"))
        val inDir = s"$pipeRoot/in"
        gen.repartition(64).write.parquet(inDir)
        val totalChars = spark.read.parquet(inDir)
          .agg(fsum(flength(col("text")))).head().getLong(0)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(pipeRoot), spark.sparkContext.hadoopConfiguration)
        var st: graft.pipeline.CorpusPipeline.Stats = null
        val secs = (1 to 3).map { _ =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$pipeRoot/out"), true)
          time {
            st = graft.pipeline.CorpusPipeline.run(spark, inDir,
              s"$pipeRoot/out", "corpus", numShards = 4,
              qualityMin = 0.2, nearDupThreshold = 0.9,
              bpeMerges = 30, bpeMaxWords = 50000,
              mixBudget = Some(totalChars * 2 / 5), mixTemperature = 0.5)
          }
        }
        fs.delete(new org.apache.hadoop.fs.Path(pipeRoot), true)
        val med = secs.sorted.apply(secs.size / 2)
        f"""{"rows":$n,"sec":$med%.3f,"after_quality":${st.afterQuality},"after_model_gate":${st.afterModelQuality},"after_exact":${st.afterExact},"after_neardup":${st.afterNearDup},"after_mix":${st.afterMix},"total_tokens":${st.totalTokens},"bundle_docs":${st.bundle.totalDocs},"runs":3}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pipeline 1m failed: ${e.getMessage}"); "{}" } }

    // FULL-stage composed pipeline at the 1M tier: every curation stage on
    // in one run — PII redaction, surface quality, char-ngram LM filter,
    // repeated-span stripping, benchmark decontamination, exact dedup,
    // EMBEDDING near-dup (LSH + standing ANN index build/append +
    // maintenance), temperature mix, BPE tokenize, columnar bundle, and
    // BFD sequence packing. pipeline_1m above isolates the common path;
    // each stage has an isolated 1M number elsewhere; this entry pins what
    // the COMPLETE path costs when composed (stage interleaving, the two
    // localCheckpoint boundaries, the index append after the write).
    // Single run: minutes-scale, variance carried by the per-stage entries.
    // Plants: the same 50k exact + 50k near dups (near dups share their
    // base's EMBEDDING exactly — the embedding path must drop them), a
    // 2k-doc benchmark file copied verbatim from the corpus (decontam does
    // real work), spanMinDocs=5 so the span pass pays full df-count cost
    // without mass-stripping the planted duplicate families.
    val pipelineFull1mJson: String =
      if (!run1m) "{}"
      else recordDiag("pipeline_full_1m") { try {
        import org.apache.spark.sql.functions.{concat, expr, length => flength, pmod, when, xxhash64}
        val n = 1000000L
        val pipeRoot = newTmp("graft-bench-pipefull")
        val textGen = expr(
          "concat_ws(' ', transform(sequence(1, cast(30 + pmod(xxhash64(b), 40) as int)), " +
            "j -> CASE WHEN pmod(xxhash64(b, j), 2) = 0 " +
            "THEN element_at(array('the','of','and','to','a','in','is','for'), " +
            "cast(pmod(xxhash64(b, j + 100), 8) + 1 as int)) " +
            "ELSE concat('w', pmod(xxhash64(b, j + 200), 5000)) END))")
        // 32-dim embedding derived from the BASE id b: an exact/near dup
        // carries its base's exact vector, so cosine 1.0 >= threshold.
        // 32 dims, not fewer: at 1M random vectors a 16-dim space has
        // hundreds of thousands of SPURIOUS cosine>=0.9 pairs (measured
        // 355k drops vs 50k planted — P(cos>=t) ~ (1-t^2)^((d-1)/2) puts
        // ~2e6 expected pairs at d=16 but ~5 at d=32), which both
        // distorts the stage semantics and inflates the LSH bucket joins;
        // 64 dims would only double the vector math for the same zero
        val embGen = expr(
          "transform(sequence(1, 32), j -> " +
            "cast(pmod(xxhash64(b, j + 300), 2001) - 1000 as double) / 1000.0)")
        val gen = spark.range(n).select(col("id"),
            when(col("id") >= 950000L, col("id") - 950000L)
              .when(col("id") >= 900000L, col("id") - 900000L)
              .otherwise(col("id")).as("b"),
            (col("id") >= 900000L && col("id") < 950000L).as("nd"))
          .select(col("id").as("doc_id"),
            concat(lit("src"), pmod(xxhash64(col("id"), lit(1)), lit(20)))
              .as("source"),
            when(col("nd"), concat(textGen, lit(" zzz qqq www")))
              .otherwise(textGen).as("text"),
            embGen.as("embedding"))
        val inDir = s"$pipeRoot/in"
        gen.repartition(64).write.parquet(inDir)
        // benchmark set = 2k corpus docs verbatim (their 13-grams collide)
        spark.read.parquet(inDir).filter(col("doc_id") < 2000)
          .select("text").write.parquet(s"$pipeRoot/bench")
        val totalChars = spark.read.parquet(inDir)
          .agg(fsum(flength(col("text")))).head().getLong(0)
        var st: graft.pipeline.CorpusPipeline.Stats = null
        val sec = time {
          st = graft.pipeline.CorpusPipeline.run(spark, inDir,
            s"$pipeRoot/out", "corpus", numShards = 4,
            qualityMin = 0.2, nearDupThreshold = 0.9,
            bpeMerges = 30, bpeMaxWords = 50000,
            redactPii = true,
            lmMinScore = Some(-10.0), // loose: pins the train+score cost
            nearDupMethod = "embedding",
            annIndexDir = Some(s"$pipeRoot/annidx"),
            stripSpans = true, spanK = 10, spanMinDocs = 5,
            decontamBench = Some(s"$pipeRoot/bench"),
            packMaxLen = Some(1024),
            mixBudget = Some(totalChars * 2 / 5), mixTemperature = 0.5)
        }
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(pipeRoot), spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(pipeRoot), true)
        val stageJson = st.stageSecs.map { case (k, v) =>
          f""""$k":$v%.3f""" }.mkString("{", ",", "}")
        f"""{"rows":$n,"sec":$sec%.3f,"after_quality":${st.afterQuality},"after_lm":${st.afterLm},"after_decontam":${st.afterDecontam},"after_exact":${st.afterExact},"dropped_vs_index":${st.droppedVsIndex},"after_neardup":${st.afterNearDup},"after_mix":${st.afterMix},"total_tokens":${st.totalTokens},"packed_seqs":${st.packedSeqs},"bundle_docs":${st.bundle.totalDocs},"stage_secs":$stageJson}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pipeline full 1m failed: ${e.getMessage}"); "{}" } }

    // ===== 10M sink decade (round 16) =====
    // THE reference-parity operator (the per-shard bundle sink) at 10M
    // docs — its largest prior measurement was the sf0.1 suite entry
    // (~600k docs). Scan-shaped synthetic rows -> DocTransform.docs ->
    // es_shard fan-out -> per-shard json bundles, median-of-3 behind the
    // quiesce protocol, then ONE validate pass that must come back clean
    // (0 misplaced docs, counts == manifest == shard_state listing).
    // 32 shards x 4 multiples = 128 write tasks — the local[32] stand-in
    // for a production shard count. docs/s is the headline; the suite's
    // 8-shard sf0.1 band (148-201k docs/s) is NOT directly comparable
    // (different doc shape + shard count) — this entry starts its own.
    val sink10mJson: String =
      if (!runSink10m) "{}"
      else recordDiag("sink_10m") { try {
        import org.apache.spark.sql.functions.{col, concat, lit, pmod, xxhash64}
        val n = 10000000L
        val gen = spark.range(n).select(
          col("id").as("doc_id"),
          concat(lit("cust"), pmod(xxhash64(col("id"), lit(7)), lit(100000L)))
            .as("route"),
          pmod(col("id"), lit(997L)).cast("int").as("f_int"),
          (pmod(xxhash64(col("id"), lit(11)), lit(100000L)) / 100.0)
            .as("f_double"),
          concat(lit("cat-"), pmod(xxhash64(col("id"), lit(13)), lit(5000L)))
            .as("category"),
          concat(lit("synthetic doc body "), col("id").cast("string"),
            lit(" lorem ipsum dolor sit amet consectetur adipiscing elit"))
            .as("body"))
        val docsDf = DocTransform.docs(gen, "doc_id", Some("route"))
        val root = newTmp("graft-bench-sink10m")
        var written = 0L
        val secs = (1 to 3).map { i =>
          quiesce()
          time {
            written = BundleSink.write(docsDf, s"$root/idx_$i",
              numShards = 32, partitionMultiples = 4,
              repartition = true).totalDocs
          }
        }.sorted
        require(written == n, s"sink_10m wrote $written docs, expected $n")
        // validate the LAST written bundle: placement (es_shard(_routing)
        // == _shard for every doc), per-shard counts vs manifest,
        // file/byte listing vs shard_state — the `--mode validate` pass
        val vSec = time {
          val rep = graft.sink.BundleValidate.validate(spark, s"$root/idx_3")
          require(rep.ok,
            s"sink_10m validate failed: ${rep.problems.mkString("; ")}")
          require(rep.totalDocs == n,
            s"sink_10m validate totalDocs ${rep.totalDocs} != $n")
        }
        // the COLUMNAR decade point (one quiesced run): typed doc fields
        // instead of json strings — the scale-path format (prunes to one
        // column on the consumer side); docsColumnar keeps the same
        // es_shard fan-out, so placement semantics are identical
        val colDf = graft.transform.DocTransform.docsColumnar(
          gen, "doc_id", Some("route"))
        quiesce()
        val colSec = time {
          BundleSink.write(colDf, s"$root/idx_col", numShards = 32,
            partitionMultiples = 4, repartition = true, format = "columnar")
        }
        rmrf(root); tmpDirs -= root // multi-GB: free before the pipeline tier
        val med = secs(1)
        f"""{"rows":$n,"num_shards":32,"write_secs":[${secs.map(s => f"$s%.3f").mkString(",")}],"write_med3_sec":$med%.3f,"docs_per_sec":${(n / med).round},"columnar_write_sec":$colSec%.3f,"columnar_docs_per_sec":${(n / colSec).round},"validate_sec":$vSec%.3f,"validate_ok":true,"misplaced":0,"runs":3,"quiesce":"sync+2s before every timed run"}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sink 10m failed: ${e.getMessage}"); "{}" } }

    // ===== 10M curation-pipeline tier (round 15) =====
    // The scale decade for the CURATION path, the way search_index_10m is
    // the decade for the serving path. The full stage stack — surface
    // quality -> char-ngram LM filter -> benchmark decontamination ->
    // exact dedup -> MinHash-LSH near-dup -> temperature mix -> BPE
    // train/encode -> columnar bundle -> BFD pack — over 10M synthetic
    // docs, the 1M pipeline tiers' generator and plants 10x: 500k exact
    // duplicates (ids 9.5M+ repeat base ids 0..500k — identical text, so
    // a plant's quality/LM/decontam outcome matches its base's and it
    // either dedups away or drops with the base: ZERO exact plants can
    // survive the exact stage, asserted on the snapshot) and 500k
    // near-duplicates (ids 9.0M..9.5M append a 3-word suffix: shingle
    // Jaccard ~0.93-0.96 >= the 0.9 threshold, so each plant whose base
    // reaches the near-dup stage must drop — the expected drop count is
    // computed from the snapshot and compared). The pipeline runs ONCE
    // (stage_secs splits the wall); the near-dup stage gets the
    // median-of-3 protocol: sample 1 = the in-pipeline staged("neardup")
    // materialization, samples 2-3 = quiesced isolated replays over the
    // persisted post-exact snapshot (same rows, same knobs, same
    // pairs + pairwise-drop anti-join work).
    // Near-dup method here is minhash (surface dups — the Gopher/
    // RefinedWeb-style text path, and the pipeline_1m/neardup_1m decade
    // twin); the EMBEDDING LSH decade point is its own entry below:
    // at 10M x 32 dims the strict-recall knob law picks (tables=35,
    // bits=16), whose float64 signature exchange is ~98 GB — past this
    // box's ~80 GB free disk — so that entry opts into the float32
    // carry and runs once, not thrice (wall ~= the measured 1M stage
    // x ~10-35: it exists to MEASURE the superlinear candidate-join
    // floor, which is the honest scale finding; a 100 TB deployment
    // shards this stage by cluster blocks — semDedup's bounded pair
    // cost — or uses the minhash path for surface dups).
    // Ordering: 10M tiers last; search_index_10m stays ABSOLUTE last
    // (r14 pollution adjudication).
    val pipelineFull10mJson: String =
      if (!run10mPipe) "{}"
      else recordDiag("pipeline_full_10m") { try {
        import org.apache.spark.sql.functions.{concat, expr, length => flength, pmod, when, xxhash64}
        val n = 10000000L
        val pipeRoot = newTmp("graft-bench-pipefull10m")
        val textGen = expr(
          "concat_ws(' ', transform(sequence(1, cast(30 + pmod(xxhash64(b), 40) as int)), " +
            "j -> CASE WHEN pmod(xxhash64(b, j), 2) = 0 " +
            "THEN element_at(array('the','of','and','to','a','in','is','for'), " +
            "cast(pmod(xxhash64(b, j + 100), 8) + 1 as int)) " +
            "ELSE concat('w', pmod(xxhash64(b, j + 200), 5000)) END))")
        val gen = spark.range(n).select(col("id"),
            when(col("id") >= 9500000L, col("id") - 9500000L)
              .when(col("id") >= 9000000L, col("id") - 9000000L)
              .otherwise(col("id")).as("b"),
            (col("id") >= 9000000L && col("id") < 9500000L).as("nd"))
          .select(col("id").as("doc_id"),
            concat(lit("src"), pmod(xxhash64(col("id"), lit(1)), lit(20)))
              .as("source"),
            when(col("nd"), concat(textGen, lit(" zzz qqq www")))
              .otherwise(textGen).as("text"))
        val inDir = s"$pipeRoot/in"
        gen.repartition(256).write.parquet(inDir)
        // benchmark set = 20k corpus docs verbatim (13-gram collisions)
        spark.read.parquet(inDir).filter(col("doc_id") < 20000)
          .select("text").write.parquet(s"$pipeRoot/bench")
        val totalChars = spark.read.parquet(inDir)
          .agg(fsum(flength(col("text")))).head().getLong(0)
        val snapDir = s"$pipeRoot/exact_snap"
        var st: graft.pipeline.CorpusPipeline.Stats = null
        quiesce()
        val sec = time {
          st = graft.pipeline.CorpusPipeline.run(spark, inDir,
            s"$pipeRoot/out", "corpus", numShards = 8,
            qualityMin = 0.2, nearDupThreshold = 0.9,
            bpeMerges = 30, bpeMaxWords = 50000,
            lmMinScore = Some(-10.0),
            decontamBench = Some(s"$pipeRoot/bench"),
            packMaxLen = Some(1024),
            exactSnapshotDir = Some(snapDir),
            mixBudget = Some(totalChars * 2 / 5), mixTemperature = 0.5)
        }
        // plant conservation, checked on the snapshot:
        //  (a) no exact plant survives exact dedup;
        //  (b) near-dup drops == plants whose base also reached the stage
        //      (+ spurious pairs, which the generator makes ~zero)
        val snap = spark.read.parquet(snapDir).cache()
        val exactPlantsAlive = snap.filter(col("doc_id") >= 9500000L).count()
        val plantsInSnap = snap.filter(
          col("doc_id") >= 9000000L && col("doc_id") < 9500000L)
          .select((col("doc_id") - 9000000L).as("bid"))
        val expectedNdDrops = plantsInSnap.join(
          snap.select(col("doc_id").as("bid")), Seq("bid"), "left_semi").count()
        val ndDrops = st.afterExact - st.afterNearDup
        val inPipeNeardup = st.stageSecs.collectFirst {
          case ("neardup", v) => v }
        val replays = (1 to 2).map { _ =>
          quiesce()
          time {
            val pairs = graft.ext.Dedup.minhashNearDups(snap, "doc_id",
              "text", threshold = 0.9)
            val drops = pairs.select(col("id_b").as("doc_id")).distinct()
            snap.join(drops, Seq("doc_id"), "left_anti")
              .write.mode("overwrite").format("noop").save()
          }
        }
        snap.unpersist()
        // a missing in-pipeline stage timing is DROPPED, not fed as a -1
        // sentinel (median of [-1, r1, r2] would be min(r1, r2) — a
        // silently flattering number)
        val ndSamples = inPipeNeardup.toSeq ++ replays
        val ndMed = ndSamples.sorted.apply(ndSamples.size / 2)
        def arrP(xs: Seq[Double]): String =
          xs.map(x => f"$x%.3f").mkString("[", ",", "]")
        // the strict knob law across the decades, recorded analytically
        // (free): what the EMBEDDING near-dup path would size to here
        val knobLaw = Seq(1000000L, 10000000L, 100000000L, 1000000000L)
          .map { m =>
            val (tb, bt) = graft.ext.Similarity.autoLshKnobs(m, 0.9, strict = true)
            s""""${m / 1000000}m":{"tables":$tb,"bits":$bt}"""
          }.mkString("{", ",", "}")
        rmrf(pipeRoot); tmpDirs -= pipeRoot // multi-GB: free before 10M search
        val stageJson = st.stageSecs.map { case (k, v) =>
          f""""$k":$v%.3f""" }.mkString("{", ",", "}")
        f"""{"rows":$n,"sec":$sec%.3f,"planted_exact":500000,"planted_near":500000,"after_quality":${st.afterQuality},"after_lm":${st.afterLm},"after_decontam":${st.afterDecontam},"after_exact":${st.afterExact},"after_neardup":${st.afterNearDup},"after_mix":${st.afterMix},"total_tokens":${st.totalTokens},"packed_seqs":${st.packedSeqs},"bundle_docs":${st.bundle.totalDocs},"neardup_method":"minhash","neardup_med3_sec":$ndMed%.3f,"neardup_samples":${arrP(ndSamples)},"neardup_drops":$ndDrops,"expected_neardup_drops":$expectedNdDrops,"exact_plants_surviving":$exactPlantsAlive,"quiesce":"sync+2s before every timed run","stage_secs":$stageJson,"strict_lsh_knob_law_t0.9":$knobLaw}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pipeline full 10m failed: ${e.getMessage}"); "{}" } }

    // embedding-LSH near-dup at the 10M decade: ONE quiesced run of the
    // strict-recall auto-knobbed stage over 10M x 32-dim vectors with
    // 500k planted exact-clone pairs (id % 20 == 19 clones id-1, cosine
    // 1.0 — collides in every table at any knobs, so planted recall must
    // be 1.0). STAGED in 6 sequential table-group passes with the float32
    // signature carry: the single-pass float64 exchange at the strict
    // knobs (tables=35, bits=16) is ~98 GB and even the float32 one
    // (~50 GB) plus its SMJ spill overflows this box's ~80 GB scratch —
    // measured, not hypothesized: the single-pass probe died on ENOSPC.
    // cosineNearDupsLsh(passes = p) divides the peak footprint by the pass
    // count at unchanged total work/recall. Gated OUT of full AND the
    // plain 10m tier (its 2.7e10 candidate dots are a ~70 min single
    // run — the committed only10mpipe capture + BASELINE.md carry the
    // number); runs only in 10membed/only10mpipe/all.
    val embedNeardup10mJson: String =
      if (!runEmbed10m) "{}"
      else recordDiag("embed_neardup_10m") { try {
        val n10 = 10000000L
        val dimE = 32
        val cloneGen10 = udf { (id: Long) =>
          val base = if (id % 20L == 19L) id - 1L else id
          val r = new scala.util.Random(base * 2654435761L + 13L)
          Array.fill(dimE)(r.nextGaussian().toFloat)
        }
        val df10 = spark.range(n10).select(col("id").as("vec_id"),
          cloneGen10(col("id")).as("embedding")).repartition(128).cache()
        val planted10 = df10.count() / 20L
        val (kt, kb) = graft.ext.Similarity.autoLshKnobs(n10, 0.9, strict = true)
        var found10 = 0L
        var plantedFound10 = 0L
        quiesce()
        val sec = time {
          val pairs = graft.ext.Similarity.cosineNearDupsLsh(df10,
            "vec_id", "embedding", threshold = 0.9, dim = dimE, tables = 0,
            bits = 0, strictRecall = true, shuffleFloat32 = true,
            passes = 6).cache()
          found10 = pairs.count()
          plantedFound10 = pairs.filter(col("id_b") === col("id_a") + 1 &&
            col("id_b") % 20 === 19).count()
          pairs.unpersist()
        }
        df10.unpersist()
        val rec10 = plantedFound10.toDouble / planted10
        f"""{"rows":$n10,"dim":$dimE,"lsh_sec":$sec%.3f,"tables":$kt,"bits":$kb,"passes":6,"planted_pairs":$planted10,"found_pairs":$found10,"planted_recall":$rec10%.4f,"runs":1,"shuffle_float32":true,"quiesce":"sync+2s"}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] embed neardup 10m failed: ${e.getMessage}"); "{}" } }
    drainTmp()

    // the 10M decade: indexed BM25 + fuzzy query times at 10M rows vs a
    // 1M twin with the SAME per-term posting-list profile (vocabulary
    // scales with the corpus — 5k terms at 1M, 50k at 10M — so a query
    // term's df is ~10k docs at BOTH tiers). The claim under measurement,
    // now measured rather than argued: indexed query cost scales with the
    // POSTINGS TOUCHED (Σ df of the query terms + a vocabulary-sized
    // dictionary pass for fuzzy), not with corpus size — query times must
    // be flat across the decade while the corpus (and build) are 10×.
    // positional = false on both: bm25/fuzzy never read positions and the
    // build halves (the knob bm25_index_1m carries as build_nopos_sec).
    // Runs LAST in the suite (round-13 finding: its ~10× index IO ran
    // mid-suite and deterministically polluted hybrid_index_1m's build —
    // 27.9 s band -> 98.5 s in both captures — via page-cache/disk
    // pressure; no entry reads the caches it dirties when it runs last).
    // Incremental maintenance across the decade rides here too: append
    // the last 1M docs to a 9M index vs the full 10M rebuild — the
    // append path re-reads NO existing postings (new-rows shuffle + terms
    // delta + stats merge), so append_1m_sec must track the 1M build,
    // not the 10M one.
    val searchIndex10mJson: String =
      if (!run10m) "{}"
      else recordDiag("search_index_10m") { try {
        import org.apache.spark.sql.functions.expr
        def corpus(n: Long, vocab: Int) =
          spark.range(n).select(col("id").as("doc_id"),
            expr(s"""array_join(transform(
                      sequence(1, cast(30 + pmod(xxhash64(id), 40) as int)),
                      i -> concat('w', pmod(xxhash64(id, i), $vocab))), ' ')""")
              .as("text")).repartition(64)
        // per-phase median of 3 (round-15 protocol): each build runs 3×
        // into a fresh dir behind a disk-sync quiesce; the LAST build is
        // kept for the query/append phases, the earlier two are deleted
        // immediately (disk headroom: two extra 10M indexes would
        // otherwise coexist mid-tier).
        def buildAt(n: Long, vocab: Int, tag: String): (String, Seq[Double]) = {
          val docs = corpus(n, vocab).cache(); docs.count()
          var dir: String = null
          val secs = (1 to 3).map { _ =>
            quiesce()
            if (dir != null) { rmrf(dir); tmpDirs -= dir }
            dir = newTmp(s"graft-bench-sidx$tag")
            time {
              graft.ext.Search.buildPostingsIndex(docs, "doc_id", "text", dir,
                buckets = 64, positional = false)
            }
          }
          docs.unpersist()
          (dir, secs)
        }
        def medOf(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
        def arr(xs: Seq[Double]): String =
          xs.map(x => f"$x%.3f").mkString("[", ",", "]")
        val (dir1m, build1mSamples) = buildAt(1000000L, 5000, "1m")
        val (dir10m, build10mSamples) = buildAt(10000000L, 50000, "10m")
        val build1mSec = medOf(build1mSamples)
        val build10mSec = medOf(build10mSamples)
        def med3(f: => Unit): Double = {
          val secs = (1 to 3).map { _ => quiesce(); time(f) }
          secs.sorted.apply(1)
        }
        // same df profile at both tiers: each term ~ n/vocab · avg tf
        val bm1m = med3 { graft.ext.Search
          .indexedBm25TopK(spark, dir1m, "w123 w4567", k = 10).count(); () }
        val bm10m = med3 { graft.ext.Search
          .indexedBm25TopK(spark, dir10m, "w123 w4567", k = 10).count(); () }
        // fuzzy pays the vocabulary-sized dictionary pass on top: 10× the
        // vocabulary — the entry records how much of the query is
        // dictionary-bound vs postings-bound across the decade
        val fz1m = med3 { graft.ext.Search
          .indexedFuzzyTopK(spark, dir1m, "w123", k = 10, fuzziness = 1)
          .count(); () }
        val fz10m = med3 { graft.ext.Search
          .indexedFuzzyTopK(spark, dir10m, "w123", k = 10, fuzziness = 1)
          .count(); () }
        // incremental build: 9M base + 1M append == the 10M corpus (same
        // generator ids, same 50k vocabulary => identical postings modulo
        // file layout). The append exercises the terms-first crash
        // ordering at this size; the query identity check pins that the
        // incrementally-built index serves the same top-k.
        // 9M build + 1M append, per-phase median of 3: each append runs
        // onto its OWN fresh 9M build (an append mutates the index, so
        // repeat runs need independent fixtures — the 3 builds double as
        // the 9M-build median samples), the last appended index serves
        // the identity check below.
        val appendDocs = spark.range(9000000L, 10000000L)
          .select(col("id").as("doc_id"),
            expr(s"""array_join(transform(
                      sequence(1, cast(30 + pmod(xxhash64(id), 40) as int)),
                      i -> concat('w', pmod(xxhash64(id, i), 50000))), ' ')""")
              .as("text")).repartition(64).cache()
        appendDocs.count()
        val docs9m = corpus(9000000L, 50000).cache(); docs9m.count()
        var dir9m: String = null
        val build9mSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
        val append1mSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
        (1 to 3).foreach { _ =>
          quiesce()
          if (dir9m != null) { rmrf(dir9m); tmpDirs -= dir9m }
          dir9m = newTmp("graft-bench-sidx9m")
          build9mSamples += time {
            graft.ext.Search.buildPostingsIndex(docs9m, "doc_id", "text",
              dir9m, buckets = 64, positional = false)
          }
          quiesce()
          append1mSamples += time {
            graft.ext.Search.appendToPostingsIndex(appendDocs, "doc_id",
              "text", dir9m)
          }
        }
        docs9m.unpersist()
        appendDocs.unpersist()
        val build9mSec = medOf(build9mSamples.toSeq)
        val append1mSec = medOf(append1mSamples.toSeq)
        val appendTop = graft.ext.Search
          .indexedBm25TopK(spark, dir9m, "w123 w4567", k = 10)
          .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
        val rebuildTop = graft.ext.Search
          .indexedBm25TopK(spark, dir10m, "w123 w4567", k = 10)
          .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
        val appendIdentical = appendTop == rebuildTop
        f"""{"rows_small":1000000,"rows_big":10000000,"build_1m_sec":$build1mSec%.3f,"build_10m_sec":$build10mSec%.3f,"bm25_q_1m_sec":$bm1m%.3f,"bm25_q_10m_sec":$bm10m%.3f,"fuzzy_q_1m_sec":$fz1m%.3f,"fuzzy_q_10m_sec":$fz10m%.3f,"build_9m_sec":$build9mSec%.3f,"append_1m_sec":$append1mSec%.3f,"append_equals_rebuild":$appendIdentical,"k":10,"runs":3,"quiesce":"sync+2s before every timed run","build_1m_samples":${arr(build1mSamples)},"build_10m_samples":${arr(build10mSamples)},"build_9m_samples":${arr(build9mSamples.toSeq)},"append_1m_samples":${arr(append1mSamples.toSeq)}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] search index 10m failed: ${e.getMessage}"); "{}" } }

    drainTmp()

    val annJson = s"""{"uniform":${curveJson(uniformCurve)},"clustered":${curveJson(clusteredCurve)},"clustered_1m":${curveJson(ann1mCurve)}}"""

    val all = results :+ ("sink_bundle" -> sinkSec) :+
      ("sink_bundle_parquet" -> sinkParquetSec) :+
      ("sink_bundle_columnar" -> sinkColumnarSec) :+
      ("sink_insert_append" -> sinkInsertAppendSec) :+
      ("scan_docfield_json" -> scanJsonSec) :+
      ("scan_docfield_columnar" -> scanColumnarSec)
    val qs = all.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = all.map(_._2).filter(_ >= 0).sum
    val docsPerSec = if (sinkSec > 0) (sinkDocs / sinkSec).round else -1
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.size / 2)
    val annIndexJson = f"""{"build_sec":${median(idxBuildSecs.toSeq)}%.3f,"query_sec":${median(idxQuerySecs.toSeq)}%.3f,"cells_bytes":$idxCellsBytes,"lean_build_sec":${median(leanBuildSecs.toSeq)}%.3f,"lean_query_sec":${median(leanQuerySecs.toSeq)}%.3f,"lean_cells_bytes":$leanCellsBytes}"""
    val diagJson = diag.map { case (k, (g, j)) =>
      "\"" + k + "\":{\"gc_ms\":" + g + ",\"jit_ms\":" + j + "}"
    }.mkString("{", ",", "}")
    // provenance: the closing-bench protocol's adjudication rule is "no
    // closing number may predate the last code commit" — stamp the run
    // with the commit it measured and when, so the artifact carries its
    // own evidence instead of relying on file mtimes
    val gitHead: String = try {
      val repo = new java.io.File(".git")
      if (!repo.exists) "unknown"
      else {
        val head = java.nio.file.Files.readString(
          java.nio.file.Paths.get(".git/HEAD")).trim
        if (head.startsWith("ref: ")) {
          val refPath = java.nio.file.Paths.get(".git", head.drop(5))
          if (java.nio.file.Files.exists(refPath))
            java.nio.file.Files.readString(refPath).trim.take(12)
          else "unknown"
        } else head.take(12)
      }
    } catch { case _: Throwable => "unknown" }
    val stamp = java.time.Instant.now().toString
    val json = s"""{"metric":"total","git_head":"$gitHead","generated_at":"$stamp","tier":"$tier","value":$total,"unit":"sec","queries":$qs,"sink_docs_per_sec":$docsPerSec,"ann_curve":$annJson,"ann_index_1m":$annIndexJson,"ann_index_filtered":$annFilteredJson,"hier_quantizer_1m":$hierJson,"neardup":$neardupJson,"neardup_big":$neardupBigJson,"neardup_1m":$neardup1mJson,"pq_shortlist_1m":$pqShortlist1mJson,"pack_1m":$pack1mJson,"pack_carry_1m":$packCarry1mJson,"chunk_1m":$chunk1mJson,"mix_1m":$mix1mJson,"bm25_1m":$bm251mJson,"bm25_index_1m":$bm25Index1mJson,"fuzzy_index_1m":$fuzzyIndex1mJson,"search_index_10m":$searchIndex10mJson,"sink_10m":$sink10mJson,"hybrid_index_1m":$hybridIndex1mJson,"pipeline_1m":$pipeline1mJson,"pipeline_full_1m":$pipelineFull1mJson,"pipeline_full_10m":$pipelineFull10mJson,"embed_neardup_10m":$embedNeardup10mJson,"diag":$diagJson,"shuffle_read_bytes":${shuffleRead.get},"shuffle_write_bytes":${shuffleWrite.get},"disk_spill_bytes":${spilled.get},"sf":"$sfDir"}"""
    // file copy first (survives any stdout interleaving — round 1's driver
    // parse came back null), then the bare JSON as the program's LAST line,
    // after spark.stop() so no shutdown logging can split it
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), json + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    println(json)
  }
}
