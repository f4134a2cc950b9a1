package perfbench

import graft.pipeline.Hive2Es
import graft.sink.{BundleInstall, BundleSink, BundleValidate}
import graft.functions.EsFunctions
import graft.transform.{DocTransform, SchemaInfer}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/**
 * `bulkload` — the reference's whole job, table to alias. A lineitem-shaped
 * table with a map column (`l_attrs_il`, flattened into the document) and
 * uniform order-key routing goes through `Hive2Es.runInferred` as a gzip
 * JSON bundle, then `BundleValidate`, a two-consumer per-shard install, and
 * the alias swap; a closed loop of routed point lookups then reads through
 * the alias. Chosen because transform, routing, exchange, bundle write and
 * install do most of their work here and nowhere else.
 */
object BulkLoad extends Workload {
  val Alias = "lineitem"
  val Shards = 8
  val Multiples = 2

  final case class Cycle(total: Double, write: Double, validate: Double,
                         install: Double, alias: Double)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val orders = if (ctx.smoke) 1000 else 6000
    // lines per order, drawn from the seed: the lookup oracle
    val rng = new scala.util.Random(ctx.seed)
    val lines = Array.fill(orders)(1 + rng.nextInt(7))
    val rows = lines.map(_.toLong).sum
    val input = ctx.generate("lineitem")(dir => generate(ctx, lines, dir))
    val incoming = ctx.dir("incoming")
    val installRoot = ctx.dir("install")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val keyRng = new scala.util.Random(ctx.seed * 7919 + 1)
    var cycleNo = 0

    def load(): Cycle = Trace.op("load") {
      cycleNo += 1
      val bundle = s"li_$cycleNo"
      val t0 = System.nanoTime()
      val (res, write) = ctx.timed(Probe.layer(spark, "sink.load")(
        Hive2Es.runInferred(spark, Hive2Es.GraftConfig(
          input = input, outDir = incoming, indexName = bundle,
          numShards = Shards, partitionMultiples = Multiples, repartition = true,
          where = "l_quantity > 0", id = "l_id", routing = "l_orderkey",
          compression = Some("gzip"), alias = Some(Alias)))))
      val (report, validate) = ctx.timed(Probe.layer(spark, "sink.validate")(
        BundleValidate.validate(spark, s"$incoming/$bundle")))
      val (_, install) = ctx.timed(Trace("sink.install")(
        installTwoConsumers(ctx, pool, incoming, bundle, installRoot)))
      val (resolved, alias) = ctx.timed(Trace("sink.alias_resolve")(
        BundleInstall.resolveAlias(spark, installRoot, Alias)))
      val total = (System.nanoTime() - t0) / 1e9
      ctx.check(s"$bundle: write reports every row", res.totalDocs == rows)
      ctx.check(s"$bundle: validate ok (${report.problems.mkString("; ")})", report.ok)
      ctx.check(s"$bundle: validate totalDocs", report.totalDocs == rows)
      ctx.check(s"$bundle: no misplaced docs", report.shards.map(_.misplaced).sum == 0)
      ctx.check(s"$bundle: alias names the new bundle", resolved.exists(_._1 == bundle))
      if (Trace.enabled) {
        val counts = res.shardCounts.values.map(_.toDouble)
        Trace.count("route.skew", counts.max / (counts.sum / counts.size))
        val (files, bytes) = ctx.files(s"$incoming/$bundle/data")
        Trace.count("sink.files_out", files.toDouble)
        Trace.count("sink.bytes_out", bytes.toDouble)
        Trace.count("sink.install_bytes", ctx.files(s"$installRoot/$bundle/data")._2.toDouble)
      }
      if (cycleNo > 1) {
        val prev = s"li_${cycleNo - 1}"
        Seq(incoming, installRoot).foreach(r =>
          ctx.deleteRecursively(java.nio.file.Paths.get(r, prev)))
      }
      Cycle(total, write, validate, install, alias)
    }

    def lookup(): Double = {
      val key = 1 + keyRng.nextInt(orders)
      val t0 = System.nanoTime()
      ctx.attempt(s"lookup $key")(AliasRead.lookup(ctx, installRoot, Alias, key.toString))
        .foreach { case (df, got) =>
          ctx.check(s"lookup $key returns its ${lines(key - 1)} lines",
            got.length == lines(key - 1) &&
              got.forall(_.getAs[String]("_routing") == key.toString))
          if (Trace.enabled) AliasRead.recordPlan(df)
        }
      (System.nanoTime() - t0) / 1e6
    }

    def pass(): (Seq[Cycle], Seq[Double]) = {
      val cycles = mutable.ArrayBuffer.empty[Cycle]
      ctx.loop(ctx.seconds * 0.4, if (ctx.smoke) 1 else 3)(
        ctx.attempt("load cycle")(load()).foreach(cycles += _))
      val lat = mutable.ArrayBuffer.empty[Double]
      ctx.loop(ctx.seconds * 0.6, if (ctx.smoke) 10 else 30)(lat += lookup())
      (cycles.toSeq, lat.toSeq)
    }

    try {
      // a traced run warms up longer, so that its passes compare
      ctx.setup("warmup") { (1 to (if (ctx.traced) 3 else 2)).foreach(_ => load()); lookup() }
      val (cycles, lat) = pass()
      val loadS = Stats.median(cycles.map(_.total))
      ctx.e2e("docs_per_s", rows / loadS, "docs/s")
      ctx.ops(lat)
      ctx.info("load_s") = cycles.map(c => f"${c.total}%.3f").mkString(",")
      ctx.info("lookup_samples") = lat.size.toString
      if (ctx.traced) {
        // each ladder is followed by one untraced load, so the parts and
        // the load they should add up to are measured equally warm
        val (ladder, ref) = (1 to (if (ctx.smoke) 1 else 3)).map(i =>
          (sinkLadder(ctx, input, ctx.dir(s"ladder-$i")), load())).unzip
        val (tCycles, _) = ctx.tracedPass(pass())
        def med(f: Ladder => Double) = Stats.median(ladder.map(f))
        val n = tCycles.size.toDouble
        ctx.layer("transform.infer_s", med(_.infer), "s")
        ctx.layer("transform.docs_s", med(l => l.docs - l.scan), "s")
        ctx.layer("transform.rows", rows.toDouble, "count")
        ctx.layer("route.s", med(l => l.shard - l.docs), "s")
        ctx.layer("route.shard_skew", Trace.counter("route.skew") / n, "ratio")
        ctx.layer("sink.exchange_s", med(l => l.exchange - l.shard), "s")
        ctx.layer("sink.write_s", med(l => l.write - l.exchange), "s")
        ctx.layer("sink.shuffle_write_bytes",
          ctx.probe.map(_.layer("sink.load").shuffleWrite).getOrElse(0L) / n, "bytes")
        ctx.layer("sink.bytes_out", Trace.counter("sink.bytes_out") / n, "bytes")
        ctx.layer("sink.files_out", Trace.counter("sink.files_out") / n, "count")
        ctx.layer("sink.bytes_per_doc", Trace.counter("sink.bytes_out") / n / rows, "bytes")
        ctx.layer("sink.validate_s", ctx.spanMedianMs("sink.validate") / 1e3, "s")
        ctx.layer("sink.install_s", ctx.spanMedianMs("sink.install") / 1e3, "s")
        ctx.layer("sink.install_bytes_copied", Trace.counter("sink.install_bytes") / n, "bytes")
        ctx.layer("sink.install_passes", Trace.counter("install.passes") / n, "count")
        ctx.layer("sink.install_useful_frac",
          Trace.counter("install.installed") / math.max(1.0, Trace.counter("install.claims")), "frac")
        ctx.layer("sink.alias_resolve_ms", ctx.spanMedianMs("sink.alias_resolve"), "ms")
        AliasRead.report(ctx)
        // ladder parts against the untraced load: the write's own
        // residual, and how much of the whole load the parts account for
        def refMed(f: Cycle => Double) = Stats.median(ref.map(f))
        val parts = med(_.open) + med(_.infer) + med(_.write)
        ctx.layer("ladder.scan_s", med(l => l.open + l.scan), "s")
        ctx.layer("ladder.residual_s", refMed(_.write) - parts, "s")
        ctx.layer("ladder.load_sum_frac",
          (parts + refMed(_.validate) + refMed(_.install) + refMed(_.alias)) / refMed(_.total), "frac")
        ctx.layer("trace.overhead_frac", Stats.median(tCycles.map(_.total)) / refMed(_.total) - 1, "frac")
      }
    } finally pool.shutdownNow()
  }

  /** Both consumers poll the per-shard claim protocol until the bundle is
    * assembled; each counts its passes and the shards it installed. */
  private def installTwoConsumers(ctx: Ctx, pool: java.util.concurrent.ExecutorService,
                                  incoming: String, bundle: String, installRoot: String): Unit = {
    val spark = ctx.spark
    val consumers = (1 to 2).map { c =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          var done = false
          while (!done) {
            val outs = BundleInstall.installShardsOnce(spark, incoming, bundle,
              installRoot, s"consumer-$c")
            val installed = outs.count(_.isInstanceOf[BundleInstall.ShardInstalled])
            Trace.count("install.passes", 1)
            Trace.count("install.installed", installed.toDouble)
            Trace.count("install.claims", outs.count {
              case BundleInstall.ShardSkipped(_, r) => r != "already installed"
              case _ => true
            }.toDouble)
            done = BundleInstall.assembleIfComplete(spark, incoming, bundle,
              installRoot, s"consumer-$c")
            if (!done && installed == 0) Thread.sleep(5)
          }
        }
      })
    }
    consumers.foreach(_.get())
  }

  final case class Ladder(open: Double, infer: Double, scan: Double, docs: Double,
                          shard: Double, exchange: Double, write: Double)

  /** The sink ladder: each prefix of the bundle write into the `noop`
    * sink, then the full write, over the persisted scan exactly as
    * `runInferred` stages it. Consecutive differences are the layers. */
  private def sinkLadder(ctx: Ctx, input: String, out: String): Ladder = {
    val spark = ctx.spark
    val cfg = Hive2Es.GraftConfig(input = input, outDir = out, indexName = "ladder",
      numShards = Shards, partitionMultiples = Multiples, repartition = true,
      where = "l_quantity > 0", id = "l_id", routing = "l_orderkey",
      compression = Some("gzip"))
    val (src, open) = ctx.timed(Hive2Es.read(spark, cfg).persist())
    try {
      val (specs, infer) = ctx.timed(SchemaInfer.infer(src))
      def noop(df: org.apache.spark.sql.DataFrame): Double =
        ctx.timed(df.write.format("noop").mode("overwrite").save())._2
      val docs = DocTransform.docs(src, "l_id", Some("l_orderkey"))
      val sharded = docs.withColumn("_shard", EsFunctions.es_shard(col("_routing"), Shards))
      val arranged = sharded.repartition(Shards * Multiples,
        EsFunctions.es_partition(col("_routing"), Shards, Multiples))
      val scan = noop(src)
      val docsS = noop(docs)
      val shardS = noop(sharded)
      val exchange = noop(arranged)
      val write = ctx.timed(BundleSink.write(docs, s"$out/ladder", Shards, Multiples,
        repartition = true, format = "json",
        mappingJson = Some(SchemaInfer.toMappingJson(specs)), indexName = "ladder",
        compression = Some("gzip")))._2
      Ladder(open, infer, scan, docsS, shardS, exchange, write)
    } finally {
      src.unpersist(blocking = true)
      ctx.deleteRecursively(java.nio.file.Paths.get(out))
    }
  }

  /** Lineitem-shaped rows: every column is a hash of (order, line, seed),
    * so the same seed gives the same table. */
  private def generate(ctx: Ctx, lines: Array[Int], dir: String): String = {
    val spark = ctx.spark
    import spark.implicits._
    val s = ctx.seed
    def h(i: Int) = s"pmod(xxhash64(l_orderkey, l_linenumber, ${s}L, $i), "
    lines.zipWithIndex.map { case (n, i) => (i + 1L, n) }.toSeq.toDF("l_orderkey", "n")
      .repartition(4, col("l_orderkey"))
      .select(col("l_orderkey"), explode(sequence(lit(1), col("n"))).as("l_linenumber"))
      .selectExpr(
        "l_orderkey * 8 + l_linenumber AS l_id",
        "l_orderkey",
        s"${h(1)}20000) + 1 AS l_partkey",
        s"${h(2)}1000) + 1 AS l_suppkey",
        "l_linenumber",
        s"CAST(${h(3)}50) + 1 AS DECIMAL(12,2)) AS l_quantity",
        s"CAST(${h(4)}10000000) / 100 AS DECIMAL(12,2)) AS l_extendedprice",
        s"CAST(${h(5)}11) / 100 AS DECIMAL(12,2)) AS l_discount",
        s"CAST(${h(6)}9) / 100 AS DECIMAL(12,2)) AS l_tax",
        s"element_at(array('A','N','R'), CAST(${h(7)}3) + 1 AS INT)) AS l_returnflag",
        s"element_at(array('O','F'), CAST(${h(8)}2) + 1 AS INT)) AS l_linestatus",
        s"date_add(DATE'1992-01-01', CAST(${h(9)}2500) AS INT)) AS l_shipdate",
        s"date_add(DATE'1992-01-01', CAST(${h(10)}2560) AS INT)) AS l_commitdate",
        s"element_at(array('DELIVER IN PERSON','COLLECT COD','NONE','TAKE BACK RETURN'), " +
          s"CAST(${h(11)}4) + 1 AS INT)) AS l_shipinstruct",
        s"element_at(array('AIR','FOB','MAIL','RAIL','REG AIR','SHIP','TRUCK'), " +
          s"CAST(${h(12)}7) + 1 AS INT)) AS l_shipmode",
        s"concat_ws(' ', transform(sequence(1, CAST(${h(13)}6) + 3 AS INT)), " +
          s"j -> concat('w', pmod(xxhash64(l_orderkey, l_linenumber, ${s}L, 100 + j), 500)))) AS l_comment",
        // 0-5 dynamic attributes; '' and 'null' values are dropped from
        // the document, keys with '&'/'$' are normalized
        s"map_from_entries(filter(transform(sequence(1, 5), j -> named_struct(" +
          "'k', element_at(array('color','size','Grade','pri$o','note&x'), j), " +
          s"'v', CASE pmod(xxhash64(l_orderkey, l_linenumber, ${s}L, 200 + j), 6) " +
          "WHEN 0 THEN '' WHEN 1 THEN 'null' " +
          s"ELSE concat('v', pmod(xxhash64(l_orderkey, l_linenumber, ${s}L, 300 + j), 50)) END)), " +
          s"e -> pmod(xxhash64(l_orderkey, l_linenumber, ${s}L, 400, e.k), 2) = 0)) AS l_attrs_il")
      .write.parquet(dir)
    val back = spark.read.parquet(dir)
    Digest.of(back.withColumn("l_attrs_il", to_json(col("l_attrs_il"))))
  }
}
