package graft

import graft.sink.BundleReader
import org.apache.spark.sql.functions._

/**
 * Routed point lookup over a bundle — the ES `?routing=k` search analog:
 *
 *   graft.Lookup <bundleDir> <routingKey>
 *   graft.Lookup <installDir> <alias> <routingKey>
 *
 * Reads through the `graft-bundle` connector, so only the one shard
 * directory implied by the routing hash is listed and scanned; the output
 * names the partition filter and the directories the scan listed. The 3-arg form queries THROUGH an
 * install root's alias indirection (`_aliases/<alias>`, the reference's
 * "query the alias, not the index") — pruning is identical: the connector
 * scopes a multi-index bundle to the alias's `_index=` partition in the
 * file listing and the `_routing -> _shard` implication still lands in the
 * scan's partition filters.
 */
object Lookup {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Lookup <bundleDir> <routingKey> | Lookup <installDir> <alias> <routingKey>")
    val spark = GraftSession.get("graft-lookup")
    try {
      // the alias resolves ONCE: a concurrent swap between two
      // resolutions could otherwise describe one bundle while querying
      // another; everything below derives from this single resolution
      val (df0, dir, key) =
        if (args.length == 2)
          (BundleReader.read(spark, args(0)), args(0), args(1))
        else {
          val (bundle, idx) = graft.sink.BundleInstall
            .resolveAlias(spark, args(0), args(1))
            .getOrElse(throw new java.util.NoSuchElementException(
              s"alias '${args(1)}' resolves to nothing under ${args(0)}/_aliases"))
          val root = s"${args(0)}/$bundle"
          val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
            spark.sparkContext.hadoopConfiguration)
          val base = spark.read.format("graft-bundle").load(root)
          val scoped =
            if (fs.exists(new org.apache.hadoop.fs.Path(root, "manifest.json")))
              base
            else base.filter(col("_index") === idx) // partition-pruned
          (scoped, root, args(2))
        }
      val df = df0.filter(col("_routing") === key)
      val plan = df.queryExecution.executedPlan
      val pruned = "PartitionFilters: \\[[^\\]]*_shard[^\\]]*\\]".r.findFirstIn(plan.toString)
      println(s"partition pruning: ${pruned.getOrElse("NONE (full scan!)")}")
      // planning listed the files of the partitions the filters kept
      val listed = plan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.collect {
        case f: org.apache.spark.sql.execution.datasources.v2.FileScan => f.fileIndex
      }.collect { case i: graft.sources.BundleShardIndex => i.listedDirs }
      println(s"partition dirs listed: ${listed.map(_.mkString(", ")).getOrElse("?")}")
      val rows = df.collect()
      println(s"${rows.length} docs for routing '$key' " +
        s"(shard ${graft.functions.EsMurmur3.shard(key, BundleReader.numShards(spark, dir))})")
      rows.take(5).foreach { r =>
        // json bundles carry one doc string; columnar bundles carry typed
        // fields — show whatever this bundle has
        val body =
          if (df.columns.contains("doc")) Option(r.getAs[String]("doc")).getOrElse("").take(80)
          else df.columns.filterNot(Set("_id", "_routing", "_shard"))
            .take(4).map(c => s"$c=${r.getAs[Any](c)}").mkString(" ")
        println(s"  _id=${r.getAs[String]("_id")} $body")
      }
    } finally spark.stop()
  }
}
