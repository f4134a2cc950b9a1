package perfbench

import graft.pipeline.CorpusPipeline
import org.apache.spark.sql.functions._

/**
 * `curate` — the curation pipeline with every stage on, scaled down: PII
 * redaction, the quality gate, the n-gram LM filter, repeated-span
 * stripping, benchmark decontamination, exact dedup, embedding near-dup
 * with a standing ANN index (built and maintained), temperature mix, BPE,
 * packing, and the columnar bundle. The corpus carries planted junk,
 * exact and near duplicates and a copied benchmark set, so each drop stage
 * has a count the seed fixes. Chosen because `graft.ext` and
 * `graft.pipeline` do the work here while install and lookups are not
 * used at all.
 */
object Curate extends Workload {
  final case class Plants(n: Int, junk: Int, bench: Int, exact: Int, near: Int)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val p = if (ctx.smoke) Plants(400, 8, 8, 20, 20) else Plants(1000, 20, 20, 50, 50)
    val input = ctx.generate("corpus")(dir => generate(ctx, p, dir))
    val bench = ctx.setup("bench_set") {
      val b = ctx.dir("bench")
      spark.read.parquet(input).filter(col("doc_id").between(p.exact + p.near,
        p.exact + p.near + p.bench - 1)).select("text").write.parquet(b)
      b
    }
    val totalChars = spark.read.parquet(input).agg(sum(length(col("text")))).head().getLong(0)
    var runNo = 0

    def curate(): CorpusPipeline.Stats = Trace.op("curate") {
      runNo += 1
      val out = ctx.dir(s"out-$runNo")
      val ann = ctx.dir(s"ann-$runNo")
      try Probe.layer(spark, "pipeline")(CorpusPipeline.run(spark, input, out, "corpus",
        numShards = 4, qualityMin = 0.2, nearDupThreshold = 0.9,
        bpeMerges = 30, bpeMaxWords = 50000, redactPii = true,
        lmMinScore = Some(-10.0), nearDupMethod = "embedding",
        annIndexDir = Some(ann), stripSpans = true, spanK = 10, spanMinDocs = 5,
        decontamBench = Some(bench), packMaxLen = Some(1024),
        mixBudget = Some(totalChars * 2 / 5), mixTemperature = 0.5))
      finally Seq(out, ann).foreach(d => ctx.deleteRecursively(java.nio.file.Paths.get(d)))
    }

    var first: Option[CorpusPipeline.Stats] = None
    def checked(st: CorpusPipeline.Stats): Unit = {
      val kept = p.n - p.junk
      ctx.check(s"input ${st.input} = ${p.n}", st.input == p.n)
      ctx.check(s"after quality ${st.afterQuality} = $kept", st.afterQuality == kept)
      ctx.check(s"after lm ${st.afterLm} = $kept", st.afterLm == kept)
      ctx.check(s"after decontam ${st.afterDecontam}", st.afterDecontam == kept - p.bench)
      ctx.check(s"after exact ${st.afterExact}", st.afterExact == kept - p.bench - p.exact)
      // a fresh ANN index per run: nothing to drop against (-1 = stage off)
      ctx.check(s"dropped vs index ${st.droppedVsIndex}", st.droppedVsIndex == -1)
      ctx.check(s"after neardup ${st.afterNearDup}",
        st.afterNearDup == kept - p.bench - p.exact - p.near)
      ctx.check(s"bundle docs ${st.bundle.totalDocs} = after mix ${st.afterMix}",
        st.bundle.totalDocs == st.afterMix && st.afterMix > 0)
      val counts = (s: CorpusPipeline.Stats) =>
        (s.afterMix, s.totalTokens, s.packedSeqs, s.bundle.shardCounts)
      first match {
        case None => first = Some(st)
        case Some(f) => ctx.check("stage counts repeat across runs", counts(f) == counts(st))
      }
    }

    // the measured run is the JVM's first pipeline run, as every CLI
    // invocation pays it; a traced run warms up first so that its untraced
    // and traced passes compare
    if (ctx.traced) ctx.setup("warmup")(checked(curate()))
    val stats = scala.collection.mutable.ArrayBuffer.empty[CorpusPipeline.Stats]
    def pass(): Seq[Double] = ctx.loop(ctx.seconds, 1) {
      ctx.attempt("curate run")(curate()).foreach { st => checked(st); stats += st }
    }
    val secs = pass()
    ctx.e2e("docs_per_s", p.n / Stats.median(secs), "docs/s")
    ctx.ops(secs.map(_ * 1e3))
    ctx.info("curate_samples") = secs.size.toString
    if (ctx.traced) {
      stats.clear()
      val tSecs = ctx.tracedPass(pass())
      stats.flatMap(_.stageSecs).groupBy(_._1).foreach { case (stage, xs) =>
        ctx.layer(s"pipeline.stage.${stage}_s", Stats.median(xs.map(_._2).toSeq), "s")
      }
      val st = stats.head
      ctx.layer("pipeline.kept_frac", st.bundle.totalDocs.toDouble / st.input, "frac")
      ctx.layer("pipeline.tokens", st.totalTokens.toDouble, "count")
      ctx.layer("pipeline.packed_seqs", st.packedSeqs.toDouble, "count")
      ctx.layer("trace.overhead_frac", Stats.median(tSecs) / Stats.median(secs) - 1, "frac")
    }
  }

  /** Ids [0, exact) are copied verbatim at the end of the corpus, ids
    * [exact, exact + near) get a near copy (3 extra words, same
    * embedding), the next `bench` docs are also the benchmark set, and the
    * last `junk` docs are punctuation that fails the quality gate. Texts
    * and 32-d embeddings are hashes of (base id, seed). */
  private def generate(ctx: Ctx, p: Plants, dir: String): String = {
    val s = ctx.seed
    val base = p.n - p.exact - p.near - p.junk
    val text = Corpus.text("b", s)
    val emb = "transform(sequence(1, 32), j -> CAST(pmod(xxhash64(b, j + 300, " + s +
      "L), 2001) - 1000 AS DOUBLE) / 1000.0)"
    ctx.spark.range(p.n).selectExpr("id AS doc_id",
        s"CASE WHEN id >= ${base + p.exact + p.near} THEN -1 " +
          s"WHEN id >= ${base + p.exact} THEN id - ${base + p.exact} + ${p.exact} " +
          s"WHEN id >= $base THEN id - $base ELSE id END AS b",
        s"id >= ${base + p.exact} AND id < ${base + p.exact + p.near} AS nd",
        "pmod(xxhash64(id, 1), 20) AS src")
      .selectExpr("doc_id", "concat('src', src) AS source",
        s"CASE WHEN b < 0 THEN repeat('!?;: ', 8) WHEN nd THEN concat($text, ' zzz qqq www') " +
          s"WHEN b % 50 = 7 THEN concat($text, ' mail someone', CAST(b AS STRING), '@example.com') " +
          s"ELSE $text END AS text",
        s"$emb AS embedding")
      .repartition(4, col("doc_id")).write.parquet(dir)
    Digest.of(ctx.spark.read.parquet(dir).withColumn("embedding", to_json(col("embedding"))))
  }
}
