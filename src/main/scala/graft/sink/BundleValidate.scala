package graft.sink

import graft.functions.EsFunctions
import org.apache.spark.sql.SparkSession
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
    * aggregated per (index, shard), each index checked against ITS manifest.
    * Multi bundles carry no shard_state.json (commit-time listing is a
    * single-index-writer artifact), so the file/byte expectation is the
    * observed listing — counts and placement are the real gates. */
  def validateMulti(spark: SparkSession, bundleRoot: String): Map[String, Report] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(bundleRoot), spark.sparkContext.hadoopConfiguration)
    val manifests = fs.listStatus(new org.apache.hadoop.fs.Path(bundleRoot))
      .map(_.getPath).filter(_.getName.matches("manifest_.*\\.json"))
      .map { p =>
        val in = fs.open(p)
        val m = new String(in.readAllBytes(), "UTF-8"); in.close()
        val idx = Option(graft.sources.BundleManifest.indexNameOf(m))
          .filter(_.nonEmpty)
          .getOrElse(p.getName.stripPrefix("manifest_").stripSuffix(".json"))
        idx -> m
      }.toMap
    require(manifests.nonEmpty, s"no manifest_*.json in $bundleRoot")
    val n = graft.sources.BundleManifest.numShardsOf(manifests.head._2)
      .getOrElse(throw new IllegalStateException(s"no numShards in $bundleRoot manifests"))
    // one aggregated pass over every index
    val fmt = graft.sources.BundleManifest.formatOf(manifests.head._2)
    val df = fmt match {
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
    val rows = df.groupBy(col("_index"), col("_shard"))
      .agg(count(lit(1)).as("docs"),
        sum(when(EsFunctions.es_shard(col("_routing"), n) =!= col("_shard"), 1L)
          .otherwise(0L)).as("misplaced"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val covered = manifests.map { case (idx, manifest) =>
      val counts = graft.sources.BundleManifest.parseShardCounts(manifest)
      val total = graft.sources.BundleManifest.totalDocsOf(manifest)
        .getOrElse(-1L)
      val shards = (0 until n).map { sh =>
        val dir = new org.apache.hadoop.fs.Path(s"$bundleRoot/data/_index=$idx/_shard=$sh")
        val (files, bytes) =
          if (fs.exists(dir))
            fs.listStatus(dir).filter(_.isFile).filterNot(st =>
              st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
              .foldLeft((0L, 0L)) { case ((f, b), st) => (f + 1, b + st.getLen) }
          else (0L, 0L)
        val (docs, misplaced) = rows.getOrElse((idx, sh), (0L, 0L))
        ShardReport(sh, docs, counts.getOrElse(sh, 0L),
          files, files, bytes, bytes, misplaced)
      }
      idx -> Report(s"$bundleRoot/data/_index=$idx", n, total, shards)
    }
    // data under _index=X with NO manifest_X.json is a half-written bundle
    // (e.g. a producer that died mid-manifest-loop), not ignorable surplus:
    // report each orphan index as failing (expectedDocs 0 vs its observed
    // docs) so install gates refuse the bundle instead of silently
    // installing it minus whole indices
    val orphanIdx = fs.listStatus(new org.apache.hadoop.fs.Path(s"$bundleRoot/data"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("_index=")).map(_.stripPrefix("_index="))
      .filterNot(manifests.keySet)
    val orphans = orphanIdx.map { idx =>
      val shards = (0 until n).map { sh =>
        val (docs, misplaced) = rows.getOrElse((idx, sh), (0L, 0L))
        ShardReport(sh, docs, 0L, 0, 0, 0, 0, misplaced)
      }
      idx -> Report(s"$bundleRoot/data/_index=$idx", n, -1L, shards)
    }.toMap
    covered ++ orphans
  }

  def validate(spark: SparkSession, bundleDir: String): Report = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(bundleDir), spark.sparkContext.hadoopConfiguration)
    // chain-aware: after concurrent appends the authoritative counts are
    // the CAS chain head, which the manifest.json mirror can lag; one read,
    // so the shard count and the counts come from the same snapshot
    val manifest = graft.sources.BundleManifest.raw(spark, bundleDir)
    val n = graft.sources.BundleManifest.numShardsIn(manifest, bundleDir)
    val manifestCounts = graft.sources.BundleManifest.parseShardCounts(manifest)
    val manifestTotal = graft.sources.BundleManifest.totalDocsOf(manifest)
      .getOrElse(-1L)
    // shard_state.json is optional (bundles predating it): absent -> expect
    // the observed listing, i.e. the file/byte checks pass trivially
    val statePath = new org.apache.hadoop.fs.Path(bundleDir, "shard_state.json")
    val state: Map[Int, (Long, Long)] =
      if (!fs.exists(statePath)) Map.empty
      else {
        val in = fs.open(statePath)
        val s = new String(in.readAllBytes(), "UTF-8"); in.close()
        // docs may be the commit-time -1 sentinel on a json bundle whose
        // notifier refresh never ran (crash after commit) — files/bytes are
        // still the commit's exact listing
        """\{"shard":(\d+),"docs":-?\d+,"files":(\d+),"bytes":(\d+)\}""".r
          .findAllMatchIn(s)
          .map(m => m.group(1).toInt -> (m.group(2).toLong, m.group(3).toLong)).toMap
      }
    // one aggregated pass: per-shard docs + placement mismatches
    val rows = BundleReader.read(spark, bundleDir)
      .groupBy(col("_shard"))
      .agg(count(lit(1)).as("docs"),
        sum(when(EsFunctions.es_shard(col("_routing"), n) =!= col("_shard"), 1L)
          .otherwise(0L)).as("misplaced"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val shards = (0 until n).map { sh =>
      val dir = new org.apache.hadoop.fs.Path(s"$bundleDir/data/_shard=$sh")
      val (files, bytes) =
        if (fs.exists(dir))
          fs.listStatus(dir).filter(_.isFile).filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
            .foldLeft((0L, 0L)) { case ((f, b), st) => (f + 1, b + st.getLen) }
        else (0L, 0L)
      val (docs, misplaced) = rows.getOrElse(sh, (0L, 0L))
      val (expFiles, expBytes) = state.getOrElse(sh, (files, bytes))
      ShardReport(sh, docs, manifestCounts.getOrElse(sh, 0L),
        files, expFiles, bytes, expBytes, misplaced)
    }
    Report(bundleDir, n, manifestTotal, shards)
  }
}
