package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Bundle compaction — the file-level analog of the reference's
 * forceMerge-to-one-segment (`ESContainer.scala:235`): incremental/streaming
 * producers leave many small per-batch files per shard; compaction rewrites
 * each shard to `filesPerShard` files and swaps the data directory
 * atomically (write-new / rename-old / rename-new / delete-old), so readers
 * never observe a half-compacted bundle.
 *
 * Format- and layout-aware: the data format (json/parquet/columnar) and
 * compression come from the bundle's own manifest — the earlier
 * json-schema-only rewrite would have round-tripped a parquet bundle
 * through the json parser and swapped garbage into place. Multi-index
 * bundles (`data/_index=i/_shard=k/`) compact per (index, shard),
 * preserving both partition levels.
 *
 * Integrity gate: the rewritten doc count must equal the pre-compaction
 * count or the swap is aborted and the original data dir is left in place.
 */
object BundleCompact {

  case class Result(shards: Int, filesBefore: Long, filesAfter: Long, docs: Long)

  def compact(spark: SparkSession, bundleDir: String,
              filesPerShard: Int = 1): Result = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(bundleDir), spark.sparkContext.hadoopConfiguration)
    val dataDir = new Path(s"$bundleDir/data")
    // layout + format from the bundle's own metadata; manifest-less bundles
    // (legacy) are single-index json
    val multi = !fs.exists(new Path(bundleDir, "manifest.json")) &&
      fs.listStatus(new Path(bundleDir))
        .exists(_.getPath.getName.matches("manifest_.*\\.json"))
    val fmt =
      try graft.sources.BundleManifest.format(spark, bundleDir)
      catch { case _: java.io.FileNotFoundException => "json" }
    val numShards =
      try BundleReader.numShards(spark, bundleDir)
      catch { case _: java.io.FileNotFoundException =>
        // manifest-less bundle: size the rewrite by the shard dirs present
        val dirs = fs.listStatus(dataDir).count(st =>
          st.isDirectory && st.getPath.getName.startsWith("_shard="))
        math.max(dirs, 1)
      }
    val newDir = new Path(s"$bundleDir/data-compacting")
    val oldDir = new Path(s"$bundleDir/data-precompact")
    fs.delete(newDir, true)
    fs.delete(oldDir, true)

    val before = listDataFiles(fs, dataDir)

    def readData(dir: String) = fmt match {
      case "json" =>
        val base = graft.streaming.BundleStream.bundleSchema
        val schema = if (multi) org.apache.spark.sql.types.StructType(
          base.fields.toIndexedSeq :+ org.apache.spark.sql.types.StructField(
            "_index", org.apache.spark.sql.types.StringType))
          else base
        spark.read.schema(schema).json(dir)
      // parquet/columnar: schema from footers (columnar bundles carry
      // arbitrary typed doc fields); partition cols inferred from layout
      case _ => spark.read.parquet(dir)
    }
    val partCols = if (multi) Seq("_index", "_shard") else Seq("_shard")
    val docs = readData(dataDir.toString)
    val total = docs.count()
    val nIdx = if (multi)
      math.max(1, docs.select("_index").distinct().count().toInt) else 1
    val writer = docs
      .repartition(numShards * filesPerShard * nIdx,
        partCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*)
    fmt match {
      case "json" => writer.option("compression", "gzip").json(newDir.toString)
      case _      => writer.option("compression", "zstd").parquet(newDir.toString)
    }

    // integrity count doubles as the per-shard tally for the refreshed
    // shard_state.json below (single-index bundles only — multi bundles
    // carry no shard_state by design)
    val perShard = readData(newDir.toString)
      .groupBy("_shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rewritten = perShard.values.sum
    if (rewritten != total) {
      fs.delete(newDir, true)
      throw new IllegalStateException(
        s"compaction aborted: rewrote $rewritten of $total docs; original data left intact")
    }
    // atomic-enough swap: two renames; a crash between them leaves
    // data-precompact to recover from
    if (!fs.rename(dataDir, oldDir))
      throw new IllegalStateException(s"could not stage $dataDir aside")
    if (!fs.rename(newDir, dataDir)) {
      fs.rename(oldDir, dataDir) // roll back
      throw new IllegalStateException("swap failed; original data restored")
    }
    fs.delete(oldDir, true)
    // refresh shard_state.json: per-shard docs survive compaction unchanged
    // (the _shard column value is the placement), but files/bytes don't
    if (!multi) ShardState.write(fs, new Path(bundleDir, ShardState.FileName),
      ShardState.list(fs, dataDir, numShards, perShard))
    Result(numShards, before, listDataFiles(fs, dataDir), total)
  }

  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).map { st =>
      if (st.isDirectory) listDataFiles(fs, st.getPath)
      else if (st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")) 0L
      else 1L
    }.sum
}
