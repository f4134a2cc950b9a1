package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Bundle compaction — the file-level analog of the reference's
 * forceMerge-to-one-segment (`ESContainer.scala:235`): incremental/streaming
 * producers leave many small per-batch files per shard; compaction rewrites
 * each shard to `filesPerShard` files and swaps the data directory in
 * through [[FsAtomic.replaceDir]], so readers never observe a
 * half-compacted bundle.
 *
 * Format- and layout-aware: the data format (json/parquet/columnar) and
 * codec come from the bundle's own manifest — the earlier
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
    FsAtomic.heal(fs, dataDir)
    // layout + format from the bundle's own metadata; manifest-less bundles
    // (legacy) are single-index json
    val multi = !fs.exists(new Path(bundleDir, "manifest.json")) &&
      fs.listStatus(new Path(bundleDir))
        .exists(_.getPath.getName.matches("manifest_.*\\.json"))
    val (fmt, compression) =
      try (graft.sources.BundleManifest.format(spark, bundleDir),
        graft.sources.BundleManifest.compression(spark, bundleDir))
      catch { case _: java.io.FileNotFoundException => ("json", None) }
    val codec = BundleSink.codecFor(fmt, compression)
    val numShards =
      try BundleReader.numShards(spark, bundleDir)
      catch { case _: java.io.FileNotFoundException =>
        // manifest-less bundle: size the rewrite by the shard dirs present
        val dirs = fs.listStatus(dataDir).count(st =>
          st.isDirectory && st.getPath.getName.startsWith("_shard="))
        math.max(dirs, 1)
      }

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
    val before = ShardState.countDataFiles(fs, dataDir)
    val docs = readData(dataDir.toString)
    val total = docs.count()
    val nIdx = if (multi)
      math.max(1, docs.select("_index").distinct().count().toInt) else 1
    val perShard = FsAtomic.replaceDir(fs, dataDir) { staging =>
      val writer = docs
        .repartition(numShards * filesPerShard * nIdx,
          partCols.map(col): _*)
        .write.partitionBy(partCols: _*).option("compression", codec)
      if (fmt == "json") writer.json(staging.toString)
      else writer.parquet(staging.toString)
      // integrity count doubles as the per-shard tally for the refreshed
      // shard_state.json below (single-index bundles only — multi bundles
      // carry no shard_state by design)
      val perShard = readData(staging.toString)
        .groupBy("_shard").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val rewritten = perShard.values.sum
      if (rewritten != total) throw new IllegalStateException(
        s"compaction aborted: rewrote $rewritten of $total docs; original data left intact")
      perShard
    }
    // refresh shard_state.json: per-shard docs survive compaction unchanged
    // (the _shard column value is the placement), but files/bytes don't
    if (!multi) ShardState.write(fs, new Path(bundleDir, ShardState.FileName),
      ShardState.list(fs, dataDir, numShards, perShard))
    Result(numShards, before, ShardState.countDataFiles(fs, dataDir), total)
  }
}
