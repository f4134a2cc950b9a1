package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)
}

object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = java.lang.management.ManagementFactory
    .getCompilationMXBean.getTotalCompilationTime
  /** Peak resident set (VmHWM) of this process, MB. */
  def peakRssMb: Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}

/** Order-independent content digest of a table: row count and the sum of
  * per-row hashes. Equal seeds must give equal digests. */
object Digest {
  def of(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

object Corpus {
  /** SQL expression for a generated text of 30-69 words, half from 8
    * stopwords and half from 5000 `w<k>` terms, every choice a hash of
    * (`idCol`, position, seed). */
  def text(idCol: String, seed: Long): String =
    s"concat_ws(' ', transform(sequence(1, CAST(30 + pmod(xxhash64($idCol, ${seed}L), 40) AS INT)), " +
      s"j -> CASE WHEN pmod(xxhash64($idCol, j, ${seed}L), 2) = 0 " +
      "THEN element_at(array('the','of','and','to','a','in','is','for'), " +
      s"CAST(pmod(xxhash64($idCol, j + 100, ${seed}L), 8) + 1 AS INT)) " +
      s"ELSE concat('w', pmod(xxhash64($idCol, j + 200, ${seed}L), 5000)) END))"
}

/** Everything one workload run shares: the session, the run's settings,
  * the check counters and the metrics it reports. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Int, val traced: Boolean, val smoke: Boolean,
                val workDir: String, val probe: Option[Probe]) {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  /** Set-up seconds spent after the session was ready. */
  var setupS = 0.0

  def check(what: String, ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
  }

  /** One operation that may fail: counted in attempted, and in failed when
    * it throws. */
  def attempt[T](what: String)(f: => T): Option[T] =
    try Some(f) catch {
      case e: Exception =>
        attempted.incrementAndGet(); failed.incrementAndGet()
        System.err.println(s"[perfbench] OPERATION FAILED: $what: $e")
        None
    }

  def dir(name: String): String = {
    val p = java.nio.file.Paths.get(workDir, name)
    deleteRecursively(p)
    p.toString
  }

  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs a named part of set-up and adds its time to `setupS`. */
  def setup[T](name: String)(f: => T): T = {
    val (r, s) = timed(f)
    setupS += s
    info(s"setup.$name") = f"$s%.3f"
    r
  }

  /** Generates the inputs into a fresh directory and records their digest.
    * Traced runs generate twice and check both digests agree; set-up gets
    * the median generation time. Returns the last repetition's directory. */
  def generate(name: String)(gen: String => String): String = {
    val reps = if (traced) 2 else 1
    val runs = (1 to reps).map { i =>
      val d = dir(s"$name-gen$i")
      val (digest, s) = timed(gen(d))
      (d, digest, s)
    }
    runs.init.foreach(r => deleteRecursively(java.nio.file.Paths.get(r._1)))
    if (reps > 1) check(s"$name: repeated generation gives one digest",
      runs.map(_._2).distinct.size == 1)
    info(s"input_digest.$name") = runs.last._2
    setupS += Stats.median(runs.map(_._3))
    info(s"setup.generate_$name") = runs.map(r => f"${r._3}%.3f").mkString(",")
    runs.last._1
  }

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)

  /** The workload's unit of work, timed with tracing off: its median is
    * the end-to-end `op_p50_ms`; the p90 and the sample count it rests on
    * are per-layer numbers (few workloads reach the 100 samples a p90
    * needs within one run). */
  def ops(latMs: Seq[Double]): Unit = {
    e2e("op_p50_ms", Stats.median(latMs), "ms")
    layer("op.p90_ms", Stats.p90(latMs), "ms")
    layer("op.samples", latMs.size.toDouble, "count")
  }
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)

  /** Repeats `f` until `budgetS` seconds have passed and at least `minRuns`
    * runs are done; returns each run's seconds. */
  def loop(budgetS: Double, minRuns: Int)(f: => Unit): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.size < minRuns || (System.nanoTime() - t0) / 1e9 < budgetS)
      out += timed(f)._2
    out.toSeq
  }

  /** Number and total bytes of the files under `dir`, leaving out the
    * `.`/`_` side files (checksums, markers). */
  def files(dir: String): (Long, Long) = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val fs = s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      (fs.size.toLong, fs.map(java.nio.file.Files.size(_)).sum)
    } finally s.close()
  }

  /** Engine and JVM counters for a traced pass between two instants. */
  def engineLayers(startMs: Long, endMs: Long, gc0: Long, jit0: Long): Unit = {
    probe.foreach { p =>
      org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
      val t = p.total
      layer("spark.jobs", t.jobs.toDouble, "count")
      layer("spark.tasks", t.tasks.toDouble, "count")
      layer("spark.executor_run_s", t.runMs / 1e3, "s")
      layer("spark.executor_cpu_s", t.cpuNs / 1e9, "s")
      layer("spark.shuffle_read_bytes", t.shuffleRead.toDouble, "bytes")
      layer("spark.spill_bytes", t.spill.toDouble, "bytes")
      layer("spark.peak_exec_mem_bytes", t.peakExecMem.toDouble, "bytes")
      layer("spark.driver_share", p.driverShare(startMs, endMs), "frac")
    }
    layer("jvm.gc_ms", (Jvm.gcMs - gc0).toDouble, "ms")
    layer("jvm.jit_ms", (Jvm.jitMs - jit0).toDouble, "ms")
  }

  /** Runs one measured pass with tracing on (and the listener active),
    * then reports the engine and JVM layers for it. */
  def tracedPass[T](f: => T): T = {
    Trace.reset(); probe.foreach(_.reset())
    val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
    val t0 = System.currentTimeMillis()
    Trace.enabled = true; probe.foreach(_.active = true)
    val r = try f finally { Trace.enabled = false }
    val t1 = System.currentTimeMillis()
    engineLayers(t0, t1, gc0, jit0)
    probe.foreach(_.active = false)
    Trace.write(java.nio.file.Paths.get(workDir, s"trace-$workload-$seed.jsonl"))
    r
  }

  /** Median duration of the spans of one name, in ms. */
  def spanMedianMs(name: String): Double = {
    val s = Trace.named(name)
    if (s.isEmpty) 0.0 else Stats.median(s.map(_.durNs / 1e6))
  }
}

trait Workload {
  /** Set-up, one measured pass with tracing off, then (traced runs) one
    * traced pass that reports the workload's per-layer metrics. */
  def run(ctx: Ctx): Unit
}

object Main {
  val Workloads: Map[String, Workload] = Map(
    "bulkload" -> BulkLoad, "append_serve" -> AppendServe,
    "curate" -> Curate, "search" -> SearchWorkload)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val workload = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val traced = opt("trace") == "1"
    val workDir = java.nio.file.Paths.get(opt("work")).toAbsolutePath.toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(workDir))

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.builder(s"perfbench-$name")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val probe = if (traced) Some(new Probe) else None
    probe.foreach(spark.sparkContext.addSparkListener(_))

    val ctx = new Ctx(spark, name, opt("seed").toLong, opt("seconds").toInt,
      traced, opts.get("smoke").contains("1"), workDir, probe)
    try {
      workload.run(ctx)
      val metrics = Json.mapper.createObjectNode()
      def put(n: String, v: Double, unit: String): Unit = {
        val m = metrics.putObject(n); m.put("value", v); m.put("unit", unit)
      }
      // every number measured; run.py keeps the set --trace asks for
      put("setup_s", sessionS + ctx.setupS, "s")
      ctx.endToEnd.foreach { case (n, (v, u)) => put(n, v, u) }
      put("peak_rss_mb", Jvm.peakRssMb, "MB")
      ctx.perLayer.foreach { case (n, (v, u)) => put(n, v, u) }
      // the run's environment goes on its own line ahead of the result
      val env = Json.mapper.createObjectNode()
      env.put("cores", spark.sparkContext.defaultParallelism)
      env.put("max_heap_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
      env.put("master", spark.sparkContext.master)
      env.put("session_s", sessionS)
      env.put("failed_frac", ctx.failed.get.toDouble / math.max(1L, ctx.attempted.get))
      Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.files.maxPartitionBytes", "spark.sql.autoBroadcastJoinThreshold")
        .foreach(k => env.put(k, spark.conf.get(k)))
      ctx.info.foreach { case (k, v) => env.put(k, v) }
      val out = Json.mapper.createObjectNode()
      out.put("correct", ctx.failed.get == 0)
      out.put("attempted", math.max(1L, ctx.attempted.get))
      out.put("failed", ctx.failed.get)
      out.set[com.fasterxml.jackson.databind.JsonNode]("metrics", metrics)
      println(Json.mapper.writeValueAsString(Json.mapper.createObjectNode()
        .set[com.fasterxml.jackson.databind.JsonNode]("env", env)))
      println(Json.mapper.writeValueAsString(out))
    } finally spark.stop()
  }
}
