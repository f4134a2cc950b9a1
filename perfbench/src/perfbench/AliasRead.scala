package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.functions.col

/** Routed point reads through an install root's alias, the serving side
  * of `bulkload` and `append_serve`. */
object AliasRead {
  /** One lookup, timed from the call to the collected rows. */
  def lookup(ctx: Ctx, installRoot: String, alias: String, key: String): (DataFrame, Array[Row]) =
    Trace.op("lookup") {
      Probe.layer(ctx.spark, "read") {
        val df = Trace("read.plan") {
          val d = ctx.spark.read.format("graft-bundle").option("alias", alias)
            .load(installRoot).filter(col("_routing") === key)
          d.queryExecution.executedPlan
          d
        }
        (df, Trace("read.exec")(df.collect()))
      }
    }

  /** Plan-side counters of one finished lookup (traced pass only): whether
    * the scan carries a `_shard` partition filter, and the files its
    * partitions cover. */
  def recordPlan(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val pruned = "PartitionFilters: \\[[^\\]]*_shard[^\\]]*\\]".r
      .findFirstIn(plan.toString).isDefined
    Trace.count("read.lookups", 1)
    Trace.count("read.pruned", if (pruned) 1 else 0)
    plan.collect { case b: BatchScanExec => b.scan }.foreach {
      case f: FileScan =>
        val files = f.planInputPartitions().toSeq.flatMap {
          case p: FilePartition => p.files.toSeq
          case _ => Nil
        }
        Trace.count("read.files", files.size.toDouble)
      case _ => ()
    }
  }

  /** Per-layer read metrics from the traced lookups. */
  def report(ctx: Ctx): Unit = {
    val n = math.max(1.0, Trace.counter("read.lookups"))
    ctx.layer("read.plan_ms", ctx.spanMedianMs("read.plan"), "ms")
    ctx.layer("read.exec_ms", ctx.spanMedianMs("read.exec"), "ms")
    ctx.layer("read.pruned_frac", Trace.counter("read.pruned") / n, "frac")
    ctx.layer("read.files_scanned", Trace.counter("read.files") / n, "count")
    ctx.layer("read.bytes_read",
      ctx.probe.map(_.layer("read").inputBytes).getOrElse(0L) / n, "bytes")
  }
}
