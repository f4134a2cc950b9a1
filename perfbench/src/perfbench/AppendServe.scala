package perfbench

import graft.sink.{BundleInstall, BundleSink, BundleValidate}
import graft.transform.DocTransform
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/**
 * `append_serve` — the sink and read path used the other way round, with
 * writes beside reads. Set-up installs a parquet base bundle whose orders
 * are routed by Zipf-skewed customer keys. The measured phase runs one
 * appender thread committing small batches through `BundleSink.insertInto`
 * (staged rename + manifest CAS chain) next to one closed-loop reader doing
 * routed lookups through the alias with keys drawn from the same skew.
 * Chosen because commit, small files on hot shards, connector planning and
 * routing pruning dominate here while transform and exchange do little; a
 * write-side gain that costs reads shows up here and not in `bulkload`.
 */
object AppendServe extends Workload {
  val Alias = "orders"
  val Bundle = "orders_base"
  val Shards = 8

  /** Zipf(1.1) over `n` customer keys, by inverse CDF. */
  final class Zipf(n: Int, rng: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      1 + math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val customers = if (ctx.smoke) 200 else 2000
    val baseDocs = if (ctx.smoke) 5000 else 30000
    val batchDocs = if (ctx.smoke) 200 else 500
    val batches = if (ctx.smoke) 3 else 16
    val minLookups = if (ctx.smoke) 5 else 10
    val baseKeys = { val z = new Zipf(customers, new scala.util.Random(ctx.seed)); Array.fill(baseDocs)(z.next()) }
    def rowsOf(firstId: Long, keys: Seq[Int]) =
      keys.zipWithIndex.map { case (k, i) =>
        val id = firstId + i
        (id, k.toLong, (id * 2654435761L ^ ctx.seed) % 100000 / 100.0, s"status-${(id ^ ctx.seed) & 3}")
      }.toDF("o_id", "o_custkey", "o_amount", "o_status")

    val input = ctx.generate("orders") { dir =>
      rowsOf(1, baseKeys.toSeq).repartition(4, $"o_id").write.parquet(dir)
      Digest.of(spark.read.parquet(dir))
    }
    val incoming = ctx.dir("incoming")
    val installRoot = ctx.dir("install")
    ctx.setup("base_bundle") {
      BundleSink.write(DocTransform.docs(spark.read.parquet(input), "o_id", Some("o_custkey")),
        s"$incoming/$Bundle", Shards, partitionMultiples = 2, format = "parquet",
        indexName = Bundle, alias = Some(Alias))
      val outs = BundleInstall.installOnce(spark, incoming, installRoot)
      ctx.check("base bundle installed", outs.exists(_.isInstanceOf[BundleInstall.Installed]))
    }
    val target = s"$installRoot/$Bundle"
    val baseCount = baseKeys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    // docs per key whose append has started / has returned
    val started = new ConcurrentHashMap[Int, Long]()
    val committed = new ConcurrentHashMap[Int, Long]()
    var nextBatch = 0
    var appended = 0L

    def append(): Double = Trace.op("append") {
      val b = nextBatch; nextBatch += 1
      val z = new Zipf(customers, new scala.util.Random(ctx.seed * 1000003L + b))
      val keys = Seq.fill(batchDocs)(z.next())
      val perKey = keys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      perKey.foreach { case (k, n) => started.merge(k, n, (a: Long, c: Long) => a + c) }
      // a small batch is one task, as a streaming appender would send it
      val docs = DocTransform.docs(rowsOf(baseDocs + 1L + b.toLong * batchDocs, keys).coalesce(1),
        "o_id", Some("o_custkey"))
      val secs = ctx.timed(Probe.layer(spark, "sink.append")(
        BundleSink.insertInto(docs, target, overwrite = false)))._2
      perKey.foreach { case (k, n) => committed.merge(k, n, (a: Long, c: Long) => a + c) }
      appended += batchDocs
      secs
    }

    val readZipf = new Zipf(customers, new scala.util.Random(ctx.seed * 7919 + 1))
    def lookup(): Double = {
      val key = readZipf.next()
      val base = baseCount.getOrElse(key, 0L)
      val lo = base + committed.getOrDefault(key, 0L)
      val t0 = System.nanoTime()
      val res = ctx.attempt(s"lookup $key")(AliasRead.lookup(ctx, installRoot, Alias, key.toString))
      val ms = (System.nanoTime() - t0) / 1e6
      val hi = base + started.getOrDefault(key, 0L)
      res.foreach { case (df, got) =>
        ctx.check(s"lookup $key count ${got.length} within [$lo, $hi]",
          got.length >= lo && got.length <= hi &&
            got.forall(_.getAs[String]("_routing") == key.toString))
        if (Trace.enabled) AliasRead.recordPlan(df)
      }
      ms
    }

    /** One appender committing a fixed number of batches, one reader doing
      * lookups until the appender is done. A fixed amount of appended work,
      * not a fixed time: lookup cost grows with the files appends add, so a
      * run's latencies depend on how far the appends got. Returns each
      * append's seconds and each lookup's ms. */
    def pass(): (Seq[Double], Seq[Double]) = {
      val appends = mutable.ArrayBuffer.empty[Double]
      val appender = new Thread(() =>
        (1 to batches).foreach(_ => ctx.attempt("append")(append()).foreach(appends += _)),
        "perfbench-appender")
      val lat = mutable.ArrayBuffer.empty[Double]
      appender.start()
      try while (appender.isAlive || lat.size < minLookups) lat += lookup()
      finally appender.join()
      (appends.toSeq, lat.toSeq)
    }

    ctx.setup("warmup") { append(); lookup() }
    val (appends, lat) = pass()
    // docs of one batch over the median commit time: robust to the one
    // append that lands on a GC pause or a burst of lookups
    ctx.e2e("docs_per_s", batchDocs / Stats.median(appends), "docs/s")
    ctx.ops(lat)
    ctx.info("append_samples") = appends.size.toString
    if (ctx.traced) {
      val filesBefore = ctx.files(s"$target/data")._1
      val (tAppends, _) = ctx.tracedPass(pass())
      ctx.layer("sink.append_s", ctx.spanMedianMs("sink.append") / 1e3, "s")
      ctx.layer("sink.append_files_added",
        (ctx.files(s"$target/data")._1 - filesBefore).toDouble / tAppends.size, "count")
      AliasRead.report(ctx)
      ctx.layer("trace.overhead_frac", Stats.median(tAppends) / Stats.median(appends) - 1, "frac")
    }
    val report = BundleValidate.validate(spark, target)
    ctx.check(s"final validate ok (${report.problems.mkString("; ")})", report.ok)
    ctx.check(s"final total ${report.totalDocs} = base + appended",
      report.totalDocs == baseDocs + appended)
  }
}
