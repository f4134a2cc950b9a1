package perfbench

import graft.ext.Search
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/**
 * `search` — `graft.ext.Search` over its persisted postings index:
 * `buildPostingsIndex` over a generated corpus, then a closed loop of
 * indexed queries mixing bm25, phrase, phrase-prefix, wildcard and
 * more-like-this. Every indexed top-k must equal its scan-form
 * counterpart, computed once in set-up. Chosen because the search layer
 * (the repo's largest module) is measured nowhere else, and the bundle
 * sink does nothing here.
 */
object SearchWorkload extends Workload {
  val K = 10

  /** One query kind: its indexed form and its scan-form reference. */
  final case class Kind(name: String,
                        indexed: (SparkSession, String, String) => DataFrame,
                        scan: (DataFrame, String) => DataFrame)

  val Kinds = Seq(
    Kind("bm25", (s, d, q) => Search.indexedBm25TopK(s, d, q, K),
      (c, q) => Search.bm25TopK(c, "doc_id", "text", q, K)),
    Kind("phrase", (s, d, q) => Search.indexedPhraseTopK(s, d, q, K),
      (c, q) => Search.phraseTopK(c, "doc_id", "text", q, K)),
    Kind("phrase_prefix", (s, d, q) => Search.indexedPhrasePrefixTopK(s, d, q, K, maxExpansions = 0),
      (c, q) => Search.phrasePrefixTopK(c, "doc_id", "text", q, K)),
    Kind("wildcard", (s, d, q) => Search.indexedWildcardTopK(s, d, q, K, maxExpansions = 0),
      (c, q) => Search.wildcardTopK(c, "doc_id", "text", q, K)),
    Kind("mlt", (s, d, q) => Search.indexedMoreLikeThisTopK(s, d, q, K),
      (c, q) => Search.moreLikeThisTextTopK(c, "doc_id", "text", q, K)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val n = if (ctx.smoke) 1000 else 3000
    val input = ctx.generate("docs")(dir => generate(ctx, n, dir))
    val corpus = spark.read.parquet(input)
    var buildNo = 0

    def build(): String = Trace.op("build") {
      buildNo += 1
      val dir = ctx.dir(s"index-$buildNo")
      Probe.layer(spark, "search.build")(Search.buildPostingsIndex(corpus, "doc_id", "text", dir, buckets = 16))
      if (buildNo > 1) ctx.deleteRecursively(java.nio.file.Paths.get(ctx.workDir, s"index-${buildNo - 1}"))
      dir
    }

    ctx.setup("warmup")(build())
    // one query per kind and its expected top-k, from sampled corpus texts
    val (pool, expected) = ctx.setup("query_pool") {
      val rng = new scala.util.Random(ctx.seed * 7919 + 1)
      val texts = corpus.orderBy("doc_id").limit(200).select("text").collect().map(_.getString(0))
      // every seed draws queries of one shape per kind (a stopword and
      // `w<k>` terms with k >= 100, 111-term expansions), so the work per
      // query does not swing with the draw
      def isTerm(w: String) = w.startsWith("w") && w.length >= 4
      val pairs = texts.flatMap(_.split(" ").sliding(2).collect {
        case Array(a, b) if !a.startsWith("w") && isTerm(b) => (a, b)
      })
      def pair() = pairs(rng.nextInt(pairs.length))
      val pool = Kinds.map { k =>
        val q = k.name match {
          case "bm25" => val (a, b) = pair(); s"$a $b ${pair()._2}"
          case "phrase" => val (a, b) = pair(); s"$a $b"
          case "phrase_prefix" => val (a, b) = pair(); s"$a ${b.take(3)}"
          case "wildcard" => s"w${10 + rng.nextInt(40)}*"
          case "mlt" => texts(rng.nextInt(texts.length))
        }
        (k, q)
      }
      // scan forms on the harness's two client threads
      val refs = java.util.concurrent.Executors.newFixedThreadPool(2)
      try (pool, pool.map { case (k, q) =>
        refs.submit(new java.util.concurrent.Callable[Seq[(String, Int, Double)]] {
          def call() = rows(k.scan(corpus, q))
        })
      }.map(_.get()))
      finally refs.shutdownNow()
    }

    def query(dir: String, i: Int): Double = {
      val (k, q) = pool(i)
      val t0 = System.nanoTime()
      ctx.attempt(s"${k.name} query")(Trace.op(s"search.query.${k.name}") {
        val df = Trace("search.plan") {
          val d = k.indexed(spark, dir, q); d.queryExecution.executedPlan; d
        }
        Probe.layer(spark, "search.exec")(rows(df))
      }).foreach(got => ctx.check(s"${k.name} '$q' equals its scan form", got == expected(i)))
      (System.nanoTime() - t0) / 1e6
    }

    def pass(): (Seq[Double], Seq[Double]) = {
      var dir = ""
      val builds = ctx.loop(ctx.seconds * 0.3, 3)(
        ctx.attempt("build")(build()).foreach(dir = _))
      // whole rounds of one query per kind, so every run's median sees
      // the same mix of kinds
      val lat = mutable.ArrayBuffer.empty[Double]
      ctx.loop(ctx.seconds * 0.7, 2)(pool.indices.foreach(i => lat += query(dir, i)))
      (builds, lat.toSeq)
    }

    if (ctx.traced) ctx.setup("warmup_queries")(pool.indices.foreach(query(ctx.workDir + s"/index-$buildNo", _)))
    val (builds, lat) = pass()
    ctx.e2e("docs_per_s", n / Stats.median(builds), "docs/s")
    ctx.ops(lat)
    ctx.info("build_samples") = builds.size.toString
    ctx.info("query_samples") = lat.size.toString
    if (ctx.traced) {
      val (_, tLat) = ctx.tracedPass(pass())
      ctx.layer("search.build_s", ctx.spanMedianMs("search.build") / 1e3, "s")
      ctx.layer("search.index_bytes", ctx.files(s"${ctx.workDir}/index-$buildNo")._2.toDouble, "bytes")
      Kinds.foreach(k => ctx.layer(s"search.${k.name}_p50_ms",
        ctx.spanMedianMs(s"search.query.${k.name}"), "ms"))
      ctx.layer("search.plan_ms", ctx.spanMedianMs("search.plan"), "ms")
      ctx.layer("trace.overhead_frac", Stats.median(tLat) / Stats.median(lat) - 1, "frac")
    }
  }

  private def rows(df: DataFrame): Seq[(String, Int, Double)] =
    df.collect().toSeq.map(r => (r.get(0).toString, r.getInt(1), r.getDouble(2)))

  private def generate(ctx: Ctx, n: Int, dir: String): String = {
    ctx.spark.range(n).selectExpr("id AS doc_id", s"${Corpus.text("id", ctx.seed)} AS text")
      .repartition(4, col("doc_id")).write.parquet(dir)
    Digest.of(ctx.spark.read.parquet(dir))
  }
}
