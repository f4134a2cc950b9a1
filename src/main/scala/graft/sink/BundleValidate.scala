package graft.sink

import graft.functions.EsFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Consumer-side bundle validation — the install-time half of the state
 * contract. The reference's server verifies what it downloaded before
 * concatenating shards into a live index (`IndexBuilder.java:345-466`
 * drives per-shard copy + checks; `_shard_state` carries the shard's
 * metadata). The bundle analog cross-checks, per shard:
 *
 *  - data/ doc counts vs the manifest's `shardCounts` (write-time observe)
 *  - file count + bytes vs `shard_state.json` (commit-time listing)
 *  - placement: every doc's `_shard` equals the ES murmur3 of its
 *    `_routing` under the manifest's `numShards` — a copied-to-the-wrong-
 *    slot shard (the worst silent failure: routed reads miss documents)
 *    cannot pass
 *
 * One scan, aggregated per shard; no driver-side row iteration.
 */
object BundleValidate {

  case class ShardReport(shard: Int, docs: Long, expectedDocs: Long,
                         files: Long, expectedFiles: Long,
                         bytes: Long, expectedBytes: Long,
                         misplaced: Long) {
    def ok: Boolean =
      docs == expectedDocs && files == expectedFiles &&
        bytes == expectedBytes && misplaced == 0
  }
  case class Report(bundleDir: String, numShards: Int, totalDocs: Long,
                    shards: Seq[ShardReport]) {
    def ok: Boolean = shards.forall(_.ok) && totalDocs == shards.map(_.docs).sum
    def problems: Seq[String] = shards.filterNot(_.ok).map { s =>
      val what = Seq(
        if (s.docs != s.expectedDocs) Some(s"docs ${s.docs}!=${s.expectedDocs}") else None,
        if (s.files != s.expectedFiles) Some(s"files ${s.files}!=${s.expectedFiles}") else None,
        if (s.bytes != s.expectedBytes) Some(s"bytes ${s.bytes}!=${s.expectedBytes}") else None,
        if (s.misplaced != 0) Some(s"${s.misplaced} misplaced docs") else None
      ).flatten.mkString(", ")
      s"shard ${s.shard}: $what"
    }
  }

  /** Multi-index bundle ([[BundleSink.writeMulti]] layout:
    * `manifest_<idx>.json` siblings + `data/_index=i/_shard=k/`): one scan
    * aggregated per (index, shard), each index checked against ITS current
    * manifest (the chain head after appends, like [[validate]]). Multi
    * bundles carry no shard_state.json (commit-time listing is a
    * single-index-writer artifact), so the file/byte expectation is the
    * observed listing — counts and placement are the real gates. */
  def validateMulti(spark: SparkSession, bundleRoot: String): Map[String, Report] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(bundleRoot), spark.sparkContext.hadoopConfiguration)
    val manifests = fs.listStatus(new org.apache.hadoop.fs.Path(bundleRoot))
      .map(_.getPath.getName).filter(_.matches("manifest_.*\\.json"))
      .map { name =>
        val ix = BundleSink.IndexFiles.multi(bundleRoot,
          name.stripPrefix("manifest_").stripSuffix(".json"))
        ix -> BundleSink.currentManifest(fs, ix)
      }
    require(manifests.nonEmpty, s"no manifest_*.json in $bundleRoot")
    val first = manifests.head._2.get
    val n = graft.sources.BundleManifest.numShardsOf(first)
      .getOrElse(throw new IllegalStateException(s"no numShards in $bundleRoot manifests"))
    // one aggregated pass over every index
    val df = graft.sources.BundleManifest.formatOf(first) match {
      case "json" => spark.read
        .schema(graft.streaming.BundleStream.bundleSchema.add("_index",
          org.apache.spark.sql.types.StringType))
        .json(s"$bundleRoot/data")
      // _index declared a string: inference would type numeric-looking
      // index names as ints (and drop leading zeros)
      case _ => graft.sources.EngineParquet.read(spark, Seq(s"$bundleRoot/data"),
        partitionColumns = Seq(
          org.apache.spark.sql.types.StructField("_index", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_shard", org.apache.spark.sql.types.IntegerType)))
    }
    val rows = placement(df, col("_index"), n)
    // data under _index=X with NO manifest_X.json is a half-written bundle
    // (e.g. a producer that died mid-manifest-loop), not ignorable surplus:
    // report each orphan index as failing (expectedDocs 0 vs its observed
    // docs) so install gates refuse the bundle instead of silently
    // installing it minus whole indices
    val covered = manifests.map(_._1.name).toSet
    val orphans = fs.listStatus(new org.apache.hadoop.fs.Path(s"$bundleRoot/data"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("_index=")).map(_.stripPrefix("_index="))
      .filterNot(covered)
      .map(idx => BundleSink.IndexFiles.multi(bundleRoot, idx) -> None)
    (manifests ++ orphans).map { case (ix, manifest) =>
      ix.name -> report(fs, ix, n, manifest, sh => rows.getOrElse((ix.name, sh), (0L, 0L)))
    }.toMap
  }

  def validate(spark: SparkSession, bundleDir: String): Report = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(bundleDir), spark.sparkContext.hadoopConfiguration)
    // chain-aware: after concurrent appends the authoritative counts are
    // the CAS chain head, which the manifest.json mirror can lag; one read,
    // so the shard count and the counts come from the same snapshot
    val manifest = graft.sources.BundleManifest.raw(spark, bundleDir)
    val n = graft.sources.BundleManifest.numShardsIn(manifest, bundleDir)
    val rows = placement(BundleReader.read(spark, bundleDir), lit(""), n)
    report(fs, BundleSink.IndexFiles.single(bundleDir), n, Some(manifest),
      sh => rows.getOrElse(("", sh), (0L, 0L)))
  }

  /** One aggregated pass: (index, shard) -> (docs, docs whose `_shard` is
    * not the ES murmur3 of their `_routing`); index "" for `index = lit("")`. */
  private def placement(df: DataFrame, index: Column,
                        n: Int): Map[(String, Int), (Long, Long)] =
    df.groupBy(index, col("_shard"))
      .agg(count(lit(1)).as("docs"),
        sum(when(EsFunctions.es_shard(col("_routing"), n) =!= col("_shard"), 1L)
          .otherwise(0L)).as("misplaced"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap

  /** Index `ix` checked shard by shard: docs ([[placement]]) against its
    * manifest's counts (none for an orphan index), files and bytes listed
    * under its data dir against its shard_state.json — the listing itself
    * where it has none (multi-index bundles, bundles predating the file).
    * `rows` gives a shard's (docs, misplaced). */
  private def report(fs: org.apache.hadoop.fs.FileSystem, ix: BundleSink.IndexFiles,
                     n: Int, manifest: Option[String],
                     rows: Int => (Long, Long)): Report = {
    val expected = manifest.fold(Map.empty[Int, Long])(graft.sources.BundleManifest.parseShardCounts)
    val state = ix.state.flatMap(ShardState.read(fs, _)).getOrElse(Seq.empty)
      .map(e => e.shard -> (e.files, e.bytes)).toMap
    val shards = (0 until n).map { sh =>
      val (files, bytes) = ShardState.listing(fs,
        new org.apache.hadoop.fs.Path(ix.data, s"_shard=$sh"))
      val (docs, misplaced) = rows(sh)
      val (expFiles, expBytes) = state.getOrElse(sh, (files, bytes))
      ShardReport(sh, docs, expected.getOrElse(sh, 0L),
        files, expFiles, bytes, expBytes, misplaced)
    }
    Report(ix.workDir, n, manifest.flatMap(graft.sources.BundleManifest.totalDocsOf)
      .getOrElse(-1L), shards)
  }
}
