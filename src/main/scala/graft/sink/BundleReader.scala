package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Reads a bundle written by [[BundleSink]] back as a DataFrame, through the
 * DataSource V2 connector ([[graft.sources.BundleDataSource]],
 * `format("graft-bundle")`): the source resolves the manifest itself and
 * owns `_routing -> _shard` partition pruning natively — no session
 * extension required.
 */
object BundleReader {

  def numShards(spark: SparkSession, bundleDir: String): Int =
    graft.sources.BundleManifest.numShards(spark, bundleDir)

  /** Bundle format as recorded by the writer ("json" when absent — bundles
    * predating the manifest field). */
  def format(spark: SparkSession, bundleDir: String): String =
    graft.sources.BundleManifest.format(spark, bundleDir)

  /** Read a bundle through the V2 connector (manifest-driven format +
    * native routing/shard pushdown). */
  def read(spark: SparkSession, bundleDir: String): DataFrame =
    spark.read.format("graft-bundle").load(bundleDir)
}
