package graft.sink

import graft.functions.EsFunctions
import graft.sources.BundleManifest
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * Shard-addressed bundle sink (SURVEY.md S5-S9 semantics, Spark-first).
 *
 * The reference routes each doc to its ES shard with a custom murmur3
 * partitioner, builds a Lucene index per partition inside an embedded ES
 * node, zips it and uploads to `{workDir}/{index}/{shardId}/p{partition}.zip`
 * (`ESHashPartitioner.scala:10-29`, `ESContainer.scala:251-285`). Here the
 * same placement contract is a `_shard` column + one hash exchange + a
 * partitioned file write:
 *
 *   out/{index}/_shard={k}/part-*.{json.gz|parquet}   + manifest.json
 *
 * Correctness does not depend on Spark's exchange at all: files are
 * bucketed by the `_shard` COLUMN VALUE via partitionBy, so two shards
 * hashing into one Spark partition (or AQE coalescing) is harmless
 * (SURVEY.md §7.5 "exchange collisions"). The repartition only controls
 * file count/locality: numShards × multiples tasks, mirroring the
 * reference's fan-out (`Hive2ES.scala:43`).
 *
 * Commit protocol: Spark's file committer gives temp+rename atomicity
 * (parity with `CompressionUtils.java:61-82`); `_STARTED`/`manifest.json`
 * mirror the reference's started/completed ZK states
 * (`ServerNotifier.scala:21-50`). Every manifest comes from
 * [[BundleManifest.render]], every `shard_state.json` from [[ShardState]],
 * and single- and multi-index bundles share one append path ([[append]]).
 */
object BundleSink {

  case class Result(outDir: String, numShards: Int, totalDocs: Long,
                    shardCounts: Map[Int, Long])

  /**
   * Multi-index sink: ONE scan feeds every index. The reference runs a full
   * Spark job per index (`Hive2Es.main` once per invocation); when N
   * indices derive from the same source — the common "route rows by
   * category/date into per-tenant indices" layout — that reads the source
   * N times. Here an `_index` column routes each doc, one exchange fans out
   * on (index, routing), and one partitioned write lands
   * `out/{index}/data/_shard=k/` for all indices — the source is read once
   * regardless of N. Per-index manifest counts ride the write job itself as
   * a single map-valued observe() metric ([[graft.functions.CountByKeyAgg]])
   * — no read-back pass over the written output.
   */
  def writeMulti(docs: DataFrame, outRoot: String, indexCol: String,
                 numShards: Int, partitionMultiples: Int = 10,
                 repartition: Boolean = true, format: String = "json",
                 typeName: String = "doc",
                 compression: Option[String] = None,
                 mappingJson: Option[String] = None,
                 bulkActions: Option[Long] = None,
                 bulkSizeBytes: Option[Long] = None,
                 aliasFor: String => Option[String] = _ => None,
                 finalSettings: Map[String, String] = Map.empty): Map[String, Result] = {
    if (format == "columnar")
      throw new IllegalArgumentException(s"unsupported multi-bundle format: $format")
    val codec = codecFor(format, compression)
    val sharded = docs
      .withColumn("_index", checkedIndex(col(indexCol), indexCol))
      .withColumn("_shard", EsFunctions.es_shard(col("_routing"), numShards))
    val arranged =
      if (repartition) sharded.repartition(numShards * partitionMultiples,
        col("_index"), EsFunctions.es_partition(col("_routing"), numShards, partitionMultiples))
      else sharded
    val obs = Observation("multi-bundle-counts")
    // `_index` itself (the spelling insertIntoMulti requires) is the
    // partition column: drop only a differently named source column
    val observed = arranged.observe(obs, countByPartition(MultiPartitioning))
    val writer = applyBulkSizing(
      (if (indexCol == "_index") observed else observed.drop(indexCol))
        .write.mode("overwrite").partitionBy(MultiPartitioning: _*),
      format, bulkActions, bulkSizeBytes).option("compression", codec)
    // _STARTED spans the whole multi-bundle lifecycle: data write + the
    // sequential per-index manifest loop. Without it a polling installer can
    // validate/rename the bundle mid-manifest-loop — installing it with
    // whole indices missing their manifests and yanking the directory out
    // from under the remaining writes. installOnce skips _STARTED bundles.
    val fs = fileSystem(docs, outRoot)
    fs.mkdirs(new Path(outRoot))
    fs.create(new Path(outRoot, "_STARTED"), true).close()
    if (format == "json") writer.json(s"$outRoot/data") else writer.parquet(s"$outRoot/data")
    val counts = decodeCounts(obs)
    val results = counts.keys.map(_._1).toSet.map { (idx: String) =>
      val ix = IndexFiles.multi(outRoot, idx)
      val perShard = (0 until numShards)
        .map(sh => sh -> counts.getOrElse((idx, sh), 0L)).toMap
      FsAtomic.publish(fs, ix.manifest, BundleManifest.render(idx, typeName,
        ix.workDir, numShards, format, Some(BundleManifest.Completed(codec, perShard,
          BundleManifest.aliasContract(aliasFor(idx), finalSettings), None)))
        .getBytes("UTF-8"))
      // all indices share the single scan's schema -> one inferred mapping
      // serves every index (per-index divergence would need per-index
      // sources, which is the one-job-per-index case, not this one)
      mappingJson.foreach(writeFile(fs, new Path(outRoot, s"mapping_$idx.json"), _))
      idx -> Result(ix.workDir, numShards, perShard.values.sum, perShard)
    }.toMap
    // last manifest landed -> the bundle is complete; clear the marker
    fs.delete(new Path(outRoot, "_STARTED"), false)
    results
  }

  /** Codecs the JSON (Hadoop text) writer supports; parquet accepts these
    * plus zstd (parquet-java bundles zstd-jni; Hadoop text zstd would need
    * native libhadoop, so it is rejected up front instead of failing in the
    * write job). */
  private val JsonCodecs = Set("gzip", "bzip2", "deflate", "lz4", "snappy", "none")
  private val ParquetCodecs = JsonCodecs ++ Set("zstd", "lzo", "uncompressed")

  /** The codec a bundle's data is written with: the caller's, else gzip
    * for json bundles (reference-era behavior) and zstd for parquet (better
    * ratio at comparable speed — the right 100 TB default). Checked before
    * anything is written: an unsupported pair leaves no `_STARTED` and no
    * `data/` behind. "columnar" is the parquet writer over typed source
    * columns (DocTransform.docsColumnar) instead of one JSON string. */
  private[sink] def codecFor(format: String, compression: Option[String]): String = {
    val (codec, supported) = format match {
      case "json"                 => (compression.getOrElse("gzip"), JsonCodecs)
      case "parquet" | "columnar" => (compression.getOrElse("zstd"), ParquetCodecs)
      case other => throw new IllegalArgumentException(s"unsupported bundle format: $other")
    }
    val kind = if (format == "json") "json" else "parquet"
    require(supported(codec),
      s"$kind bundles support ${supported.toSeq.sorted.mkString("/")}, not $codec" +
        (if (kind == "json" && codec == "zstd") " (Hadoop text zstd needs native libhadoop; use --format parquet for zstd)" else ""))
    codec
  }

  /** Reference bulk-buffering knobs mapped to the file writer
    * (`ESContainer.scala:118-140` flushes a bulk every N actions / M bytes;
    * here the analogous buffer is the output file / parquet row group):
    * `bulkActions` caps rows per output file (spark.sql.files
    * maxRecordsPerFile), `bulkSizeBytes` sets the parquet row-group target
    * (`parquet.block.size`). Json bundles have no byte-based writer split,
    * so bulkSizeBytes applies to parquet/columnar only. */
  private def applyBulkSizing(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
                              format: String, bulkActions: Option[Long],
                              bulkSizeBytes: Option[Long])
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val w1 = bulkActions.foldLeft(w)((w0, n) => w0.option("maxRecordsPerFile", n))
    bulkSizeBytes match {
      case Some(b) if format != "json" => w1.option("parquet.block.size", b)
      case Some(_) =>
        System.err.println("[bundle] --bulk-size maps to parquet row-group " +
          "sizing; json bundles split by --bulk-actions (rows) only — ignored")
        w1
      case None => w1
    }
  }

  /** The commit-protocol conf key is session-global: serialize bundle
    * writes JVM-wide so two cannot race the set/restore (one would restore
    * the other's in-flight value and pin the session to the bundle
    * protocol). Writes on different sessions still serialize — the cost is
    * a held lock for one write job, the payoff is a race that can't occur. */
  private val protocolLock = new Object

  /** Run `body` (a file write on `dataPath`) under the bundle commit
    * protocol, restoring the session's previous protocol after. `dataPath`
    * is recorded in the Hadoop conf so [[graft.sources.BundleCommitProtocol]]
    * no-ops for any concurrent job that picks the class up for a different
    * destination (see its scaladoc). */
  private def withBundleCommitProtocol[T](spark: org.apache.spark.sql.SparkSession,
                                          dataPath: String)(body: => T): T =
    protocolLock.synchronized {
      val key = "spark.sql.sources.commitProtocolClass"
      val hc = spark.sparkContext.hadoopConfiguration
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, classOf[graft.sources.BundleCommitProtocol].getName)
      hc.set(graft.sources.BundleCommitProtocol.PathKey, dataPath)
      try body
      finally {
        hc.unset(graft.sources.BundleCommitProtocol.PathKey)
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      }
    }

  // ===== layout: indices, partition counts, small files =====

  /** One index of a bundle as its writers and validation address it: the
    * name its manifest records, the work dir (manifest `workDir`, result
    * `outDir`), its manifest file, CAS chain, data dir, and — single-index
    * bundles only — its `shard_state.json`. */
  private[graft] case class IndexFiles(name: String, workDir: String,
                                       manifest: Path, cas: Path, data: Path,
                                       state: Option[Path])

  private[graft] object IndexFiles {
    /** A single-index bundle: `manifest.json`, `.manifest-cas/`,
      * `data/_shard=k/` and `shard_state.json` under `outDir`. */
    def single(outDir: String, name: String = ""): IndexFiles =
      IndexFiles(name, outDir, new Path(outDir, "manifest.json"),
        new Path(outDir, ".manifest-cas"), new Path(outDir, "data"),
        Some(new Path(outDir, ShardState.FileName)))

    /** Index `idx` of a multi-index bundle: `manifest_<idx>.json`, its own
      * `.manifest-cas_<idx>/` chain (appends to different indices never
      * contend) and `data/_index=<idx>/_shard=k/`; no state file. */
    def multi(root: String, idx: String): IndexFiles = {
      val data = s"$root/data/_index=$idx"
      IndexFiles(idx, data, new Path(root, s"manifest_$idx.json"),
        new Path(root, s".manifest-cas_$idx"), new Path(data), None)
    }
  }

  private val MultiPartitioning = Seq("_index", "_shard")

  /** Index values become path segments (`data/_index=i/`,
    * `manifest_<i>.json`, `.manifest-cas_<i>/`): Spark percent-escapes
    * partition directory names while those names use the raw value, so
    * only a safe charset keeps the layouts in step and inside the bundle
    * root. A null, empty or unsafe value fails INSIDE the write job (the
    * task error aborts it before any output commits) — a null would
    * otherwise produce a separator-less count key whose parse crashes the
    * driver AFTER files have landed. */
  private def checkedIndex(c: Column, name: String): Column =
    when(c.isNull || c === "", raise_error(concat(lit(s"null/empty $name for _id="),
        coalesce(col("_id").cast("string"), lit("<null>")))))
      .when(!c.rlike("""\A[A-Za-z0-9_-][A-Za-z0-9._-]*\z"""),
        raise_error(concat(lit("unsafe index value (allowed: " +
          "[A-Za-z0-9._-]+, no leading dot): "), c)))
      .otherwise(c)

  /** Per-partition doc counts as ONE map-valued observe() metric on the
    * write job itself — index values are dynamic, so per-key conditional
    * sums can't be enumerated; the map-valued aggregate can. Keys are the
    * partition values joined by NUL. */
  private def countByPartition(partCols: Seq[String]): Column =
    graft.functions.CountByKeyAgg.count_by_key(
      concat_ws("\u0000", partCols.map(col): _*)).as("partition_counts")

  /** [[countByPartition]]'s metric as ((index, shard) -> docs), index ""
    * under `_shard`-only partitioning. `_shard` is numeric, so the last NUL
    * splits the key unambiguously. */
  private def decodeCounts(obs: Observation): Map[(String, Int), Long] =
    obs.get("partition_counts").asInstanceOf[scala.collection.Map[String, Long]]
      .map { case (k, c) =>
        val cut = k.lastIndexOf('\u0000')
        (k.substring(0, math.max(cut, 0)), k.substring(cut + 1).toInt) -> c
      }.toMap

  private def fileSystem(df: DataFrame, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), df.sparkSession.sparkContext.hadoopConfiguration)

  /** A small control file's content; None when it does not exist. */
  private[graft] def readFile(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def writeFile(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Publish `manifest` as the index's manifest file, refreshing its
    * shard_state.json first: files and bytes from one listing per shard
    * dir (no data scan), docs from the manifest's counts. */
  private def publishFiles(fs: FileSystem, ix: IndexFiles, numShards: Int,
                           manifest: String): Unit = {
    ix.state.foreach(ShardState.write(fs, _, ShardState.list(fs, ix.data, numShards,
      BundleManifest.parseShardCounts(manifest))))
    FsAtomic.publish(fs, ix.manifest, manifest.getBytes("UTF-8"))
  }

  // ===== optimistic manifest concurrency (append CAS chain) =====
  //
  // An append's manifest refresh is read-modify-write; with plain manifest
  // overwrites a concurrent append loses its counts (the round-6
  // restriction: "serialize appends per bundle"). The chain lifts it: each
  // append atomically CLAIMS the next version number in the index's chain
  // dir (`v<N>.claim` — create-if-absent is the CAS; exactly one writer
  // owns each N), then publishes the full manifest content as `v<N>.json`.
  // Losers re-read the chain head and re-merge their delta — no counts are
  // ever lost. The manifest file remains a MIRROR of the chain head for
  // every existing reader; when a chain exists, [[currentManifest]] prefers
  // it (the mirror can lag a racing append by a beat). Full-state
  // publishers — fresh write(), streaming seal, scoped overwrite — delete
  // the chain: their manifest is a new authority. Compaction keeps counts
  // unchanged, so an existing chain stays valid across it.

  /** Atomic create-if-absent. HDFS `create(p, overwrite=false)` is an
    * atomic namespace claim; Hadoop's LOCAL filesystem emulates the flag
    * with a non-atomic exists-check, so the file scheme goes through NIO's
    * O_CREAT|O_EXCL instead. */
  private def claim(fs: FileSystem, p: Path): Boolean =
    if (fs.getScheme == "file")
      try { java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    else
      try { fs.create(p, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }

  private val ChainEntry = "v(\\d+)\\.(json|claim)".r

  /** (highest version seen across claims AND content files, highest
    * PUBLISHED version, content of that `v*.json`) of the chain in `cas`.
    * maxAny > maxPublished means a claim is outstanding: usually a winner
    * mid-publish (the gap between claim and content rename is one small
    * write), rarely a crashed one. */
  private def chainState(fs: FileSystem, cas: Path): (Int, Int, Option[String]) = {
    val entries = (try fs.listStatus(cas).toSeq
                   catch { case _: java.io.FileNotFoundException => Seq.empty })
      .flatMap(st => st.getPath.getName match {
        case ChainEntry(n, kind) => Some((n.toInt, kind == "json", st.getPath))
        case _                   => None
      })
    val head = entries.filter(_._2).maxByOption(_._1)
    (entries.map(_._1).maxOption.getOrElse(0), head.fold(0)(_._1),
      head.map { case (_, _, p) => readFile(fs, p).getOrElse(
        throw new java.io.FileNotFoundException(s"chain head $p vanished")) })
  }

  /** Chain state for merging: when a claim is outstanding above the newest
    * content, WAIT for that content — merging without it would re-base on
    * stale counts and silently drop the in-flight append's delta (the lost
    * update this whole mechanism exists to prevent). After the timeout the
    * claimant is presumed crashed: its version number stays burned, its
    * counts were never published — the same data-in/manifest-stale crash
    * exposure the serialized path had, and BundleValidate's job to report. */
  private def settledChainState(fs: FileSystem, cas: Path): (Int, Option[String]) = {
    var (maxAny, maxJson, head) = chainState(fs, cas)
    var waitedMs = 0
    while (maxJson < maxAny && waitedMs < 30000) {
      Thread.sleep(50); waitedMs += 50
      val s = chainState(fs, cas)
      maxAny = s._1; maxJson = s._2; head = s._3
    }
    (maxAny, head)
  }

  /** The index's current manifest: its chain head while a chain exists,
    * else the manifest file; None when there is neither. */
  private[graft] def currentManifest(fs: FileSystem, ix: IndexFiles): Option[String] =
    chainState(fs, ix.cas)._3.orElse(readFile(fs, ix.manifest))

  /** Mirror the chain head into the index's files, re-reading until the
    * head we mirrored is still the head (a racing append that published a
    * newer version while we wrote also mirrors, and whichever writer
    * finishes last re-checks — the mirror converges to the final head;
    * exact readers go through the chain regardless). */
  private def mirrorChainHead(fs: FileSystem, ix: IndexFiles, numShards: Int): Unit = {
    var mirrored = -1
    var head = chainState(fs, ix.cas)._3
    while (head.exists(BundleManifest.versionOf(_) != mirrored)) {
      publishFiles(fs, ix, numShards, head.get)
      mirrored = BundleManifest.versionOf(head.get)
      head = chainState(fs, ix.cas)._3
    }
  }

  /** Drop chain entries more than `keep` versions behind the newest
    * published content (best-effort; old entries are never read once a
    * newer head exists). */
  private def pruneChain(fs: FileSystem, cas: Path, keep: Int): Unit = {
    val entries = fs.listStatus(cas).flatMap(st => st.getPath.getName match {
      case ChainEntry(n, kind) => Some((n.toInt, kind == "json", st.getPath))
      case _                   => None
    })
    val maxJson = entries.collect { case (v, true, _) => v }.foldLeft(-1)(math.max)
    entries.filter(_._1 <= maxJson - keep).foreach { case (_, _, p) =>
      try fs.delete(p, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Claim the index's next chain version and publish this append's
    * `delta` merged over the counts current at claim time (the chain head,
    * or the manifest file before the index's first append; none for a
    * new index), carrying the base manifest's alias contract. Losing the
    * claim means a concurrent append published first — re-read and retry;
    * the bound only trips on a pathological livelock (256 concurrent
    * appends to one index). Returns the merged counts. */
  private def casPublish(fs: FileSystem, ix: IndexFiles, layout: Layout,
                         delta: Map[Int, Long], tag: String): Map[Int, Long] = {
    fs.mkdirs(ix.cas)
    @scala.annotation.tailrec
    def attempt(n: Int): Map[Int, Long] = {
      require(n <= 256, s"manifest CAS on ${ix.workDir} did not converge after 256 attempts")
      val (maxSeen, head) = settledChainState(fs, ix.cas)
      val base = head.orElse(readFile(fs, ix.manifest))
      val prior = base.fold(Map.empty[Int, Long])(BundleManifest.parseShardCounts)
      val merged = (0 until layout.numShards).map(sh =>
        sh -> (prior.getOrElse(sh, 0L) + delta.getOrElse(sh, 0L))).toMap
      val next = maxSeen + 1
      if (!claim(fs, new Path(ix.cas, s"v$next.claim"))) attempt(n + 1)
      else {
        // we own version `next`: publish its content under the claimed name
        // (tmp + rename — only the claim owner ever writes this name)
        val tmp = new Path(ix.cas, s".tmp-$tag-v$next")
        writeFile(fs, tmp, layout.manifest(ix, merged,
          BundleManifest.aliasContractOf(base), next))
        if (!fs.rename(tmp, new Path(ix.cas, s"v$next.json")))
          throw new IllegalStateException(
            s"could not publish claimed manifest version $next in ${ix.workDir}")
        merged
      }
    }
    attempt(1)
  }

  /** Publish `shard_state.json` + a completed `manifest.json` from KNOWN
    * per-shard doc counts: files/bytes per shard come from one listing per
    * shard dir (no data scan), docs from the counts the caller carried out
    * of its own write job. Used by the FULL-state publishers (streaming
    * seal) — deletes any append CAS chain, returning manifest authority to
    * manifest.json. Concurrent appends during a seal are unsupported
    * (unchanged). */
  private[graft] def publishState(spark: org.apache.spark.sql.SparkSession,
                                  outDir: String, numShards: Int,
                                  perShard: Map[Int, Long], indexName: String,
                                  typeName: String, format: String,
                                  codec: String): Result = {
    val fs = FileSystem.get(new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val ix = IndexFiles.single(outDir, indexName)
    fs.delete(ix.cas, true)
    publishFiles(fs, ix, numShards, Layout(numShards, format, codec, typeName)
      .manifest(ix, perShard, BundleManifest.aliasContract(None, Map.empty), 0))
    Result(outDir, numShards, perShard.values.sum, perShard)
  }

  // ===== appends =====

  /** A bundle's layout as its manifest records it: appends take shard
    * count, format, codec and type name from there, never from the caller. */
  private case class Layout(numShards: Int, format: String, codec: String,
                            typeName: String) {
    /** A completed, versioned manifest of index `ix` under this layout. */
    def manifest(ix: IndexFiles, counts: Map[Int, Long],
                 aliasContract: com.fasterxml.jackson.databind.node.ObjectNode,
                 version: Int): String =
      BundleManifest.render(ix.name, typeName, ix.workDir, numShards, format,
        Some(BundleManifest.Completed(codec, counts, aliasContract, Some(version))))
  }

  private object Layout {
    def of(manifest: String, where: String): Layout = {
      val format = BundleManifest.formatOf(manifest)
      Layout(BundleManifest.numShardsIn(manifest, where), format,
        codecFor(format, BundleManifest.compressionOf(manifest)),
        BundleManifest.typeNameOf(manifest))
    }
  }

  private def requireRouting(data: DataFrame): Unit =
    require(data.columns.contains("_routing"),
      s"bundle inserts need a _routing column (placement is derived from " +
        s"it; got ${data.columns.mkString(", ")}) — build rows with " +
        "DocTransform.docs or supply _routing directly")

  /** Move each staged `<partition>/part-*` file into `data/<partition>/`
    * as `<prefix>-p<part><suffix>`, unless that name already exists.
    * Appends pass an insert-scoped prefix, so concurrent appends' data
    * files never collide; a streaming batch (bundle, ANN cells, postings)
    * passes its batch id, so a replayed commit (identical partition
    * content) skips the files that already made it. A failed rename throws:
    * silently dropping a file would leave counts that include its rows.
    * Renames are metadata-only but driver-side: a corpus-sized append
    * (thousands of parts) would crawl serially, so the partition dirs
    * rename in parallel — independent targets, no races. */
  private[graft] def renameStaged(fs: FileSystem, staged: Path, data: Path,
                                  prefix: String): Unit = {
    import scala.collection.parallel.CollectionConverters._
    val part = "part-(\\d+)".r
    fs.listStatus(staged).filter(_.isDirectory).toVector.par.foreach { dir =>
      val target = new Path(data, dir.getPath.getName)
      fs.mkdirs(target)
      for (f <- fs.listStatus(dir.getPath) if f.getPath.getName.startsWith("part-")) {
        val name = f.getPath.getName
        val i = part.findFirstMatchIn(name).map(_.group(1)).getOrElse("0")
        val dest = new Path(target,
          s"$prefix-p$i${name.replaceAll("part-\\d+-[0-9a-f-]+", "")}")
        if (!fs.exists(dest) && !fs.rename(f.getPath, dest))
          throw new java.io.IOException(s"commit rename failed: ${f.getPath} -> $dest")
      }
    }
  }

  /**
   * The whole append, for both layouts. The rows are staged ONCE in the
   * bundle's own format under `.staging/insert=<tag>/`, partitioned like
   * `data/`, with per-partition counts observed on that job (one read of
   * the source, zero read-back scans). Then, for each index the rows
   * touch: rename its staged files into its data dir, CAS-publish its next
   * manifest version ([[casPublish]]), mirror the chain head into its
   * manifest file (and shard_state.json) and prune the chain.
   *
   * `partCols` is `_shard` for a single-index bundle (its one index is
   * touched even by an empty append) and `_index, _shard` for a
   * multi-index one. With `overwrite` each touched index is truncated
   * first (data dir and chain deleted) and this job's counts become a
   * fresh version-1 manifest with the empty alias contract.
   */
  private def append(rows: DataFrame, root: String, layout: Layout,
                     partCols: Seq[String], index: String => IndexFiles,
                     overwrite: Boolean): Seq[(String, Result)] = {
    val fs = fileSystem(rows, root)
    val n = layout.numShards
    val obs = Observation(s"bundle-insert-${java.util.UUID.randomUUID()}")
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(s"$root/.staging/insert=$tag")
    val writer = rows.withColumn("_shard", EsFunctions.es_shard(col("_routing"), n))
      .observe(obs, countByPartition(partCols))
      .write.mode("overwrite").partitionBy(partCols: _*).option("compression", layout.codec)
    if (layout.format == "json") writer.json(staging.toString) else writer.parquet(staging.toString)
    val delta = decodeCounts(obs)
    val multi = partCols.contains("_index")
    val touched = if (multi) delta.keys.map(_._1).toSeq.distinct.sorted else Seq("")
    val results = touched.map { idx =>
      val ix = index(idx)
      if (overwrite) { fs.delete(ix.cas, true); fs.delete(ix.data, true) }
      renameStaged(fs, if (multi) new Path(staging, s"_index=$idx") else staging,
        ix.data, s"i$tag")
      val counts = (0 until n).map(sh => sh -> delta.getOrElse((idx, sh), 0L)).toMap
      val merged =
        if (overwrite) {
          publishFiles(fs, ix, n,
            layout.manifest(ix, counts, BundleManifest.aliasContract(None, Map.empty), 1))
          counts
        } else {
          val m = casPublish(fs, ix, layout, counts, tag)
          mirrorChainHead(fs, ix, n)
          pruneChain(fs, ix.cas, keep = 8)
          m
        }
      idx -> Result(ix.workDir, n, merged.values.sum, merged)
    }
    fs.delete(staging, true)
    // drop the .staging parent too when this was its only insert (the
    // non-recursive delete refuses while a concurrent insert still stages)
    try fs.delete(staging.getParent, false)
    catch { case _: java.io.IOException => () }
    results
  }

  /**
   * Connector write path (`INSERT INTO` / `df.write.format("graft-bundle")`
   * on an EXISTING bundle): the table's own layout — shard count, data
   * format, codec, index/type name — comes from `manifest.json`, never from
   * the caller, and placement is recomputed from `_routing` (a caller-
   * provided `_shard` is ignored: misplaced rows are exactly the contract
   * violation direct file writes would commit).
   *
   * `overwrite = true` is a full [[write]] (same commit protocol, fresh
   * manifest). Append goes through [[append]]: staged rows renamed into
   * their shard dirs under insert-scoped names, manifest + shard_state
   * refreshed from the PREVIOUS counts plus this job's observed delta —
   * one directory listing per shard, zero read-back scans of existing data.
   *
   * Concurrency: the DATA files of two concurrent appends never collide
   * (insert-scoped names), and the manifest refresh is an optimistic CAS
   * over the `.manifest-cas/` version chain (see the chain notes above
   * [[claim]]) — concurrent appends to one bundle are safe, no counts are
   * lost, no external coordinator (the reference serialized through its
   * ZK leader instead). `BundleValidate` still catches the one remaining
   * crash exposure (data renamed in, CAS never reached).
   */
  def insertInto(data: DataFrame, outDir: String,
                 overwrite: Boolean): Result = {
    // multi-index bundles (manifest_<idx>.json siblings, data/_index=i/
    // _shard=k layout): append dispatches to the per-index path — rows
    // carry their target index in an `_index` column and each touched
    // index's manifest is CAS-refreshed independently. A single-index
    // insert here would land rows OUTSIDE every _index partition and
    // corrupt per-index manifests, so the column is required. OVERWRITE
    // is _index-SCOPED: exactly the indices present in the data are
    // truncated and rewritten (fresh manifest, chain reset), every other
    // index's data and CAS chain untouched; without an `_index` column
    // there is nothing to scope the truncation to — refused.
    if (!fileSystem(data, outDir).exists(new Path(outDir, "manifest.json"))) {
      if (overwrite && !data.columns.contains("_index"))
        throw new UnsupportedOperationException(
          s"$outDir is a multi-index bundle; INSERT OVERWRITE without an " +
            "_index column cannot scope the truncation to an index — add " +
            "_index (scoped per-index rewrite) or rebuild the whole " +
            "bundle via BundleSink.writeMulti")
      require(data.columns.contains("_index"),
        s"$outDir is a multi-index bundle: appends need an _index column " +
          s"routing each row to its index (got ${data.columns.mkString(", ")})")
      val per = insertIntoMulti(data, outDir, overwrite)
      val shards = per.values.headOption.map(_.numShards).getOrElse(0)
      val mergedAll = per.values.flatMap(_.shardCounts).groupBy(_._1)
        .map { case (sh, kvs) => sh -> kvs.map(_._2).sum }
      return Result(outDir, shards, per.values.map(_.totalDocs).sum, mergedAll)
    }
    // one manifest read: every field below comes from the same snapshot
    val snapshot = BundleManifest.raw(data.sparkSession, outDir)
    val layout = Layout.of(snapshot, outDir)
    val indexName = BundleManifest.indexNameOf(snapshot)
    requireRouting(data)
    val docs = data.drop("_shard") // recomputed from _routing
    if (overwrite)
      return write(docs, outDir, layout.numShards, format = layout.format,
        indexName = indexName, typeName = layout.typeName,
        compression = Some(layout.codec))
    if (BundleManifest.shardCountsOf(snapshot).isEmpty)
      throw new IllegalStateException(s"$outDir manifest has no shardCounts " +
        "(unsealed streaming bundle?) — seal it before INSERT INTO, or " +
        "use overwrite")
    append(docs, outDir, layout, Seq("_shard"),
      _ => IndexFiles.single(outDir, indexName), overwrite = false).head._2
  }

  /**
   * Append into a MULTI-index bundle ([[writeMulti]] layout): rows routed
   * by their `_index` column into `data/_index=i/_shard=k/`, placement
   * recomputed from `_routing` against the bundle's own shard count, and
   * each TOUCHED index's `manifest_<idx>.json` refreshed through its own
   * CAS chain — the same [[append]] as a single-index bundle. An `_index`
   * value with no existing manifest creates one (version chain from empty
   * counts) — the new-tenant/new-day case, mirroring ES index
   * auto-creation on bulk insert; a crash between its data landing and
   * its first CAS publish is the same exposure as the single-index path,
   * and `validateMulti` reports the orphan.
   *
   * Layout (shard count, format, codec, typeName) comes from the
   * bundle's existing manifests, never from the caller.
   *
   * `overwrite = true` is an `_index`-SCOPED rewrite: each index present
   * in the data is truncated (its `data/_index=i/` dir and
   * `.manifest-cas_<i>/` chain deleted) and replaced by exactly this
   * job's rows under a FRESH version-1 manifest — the per-index analog
   * of the single-index full-state publisher, which likewise resets the
   * chain and (matching single-index overwrite semantics) starts from
   * the default alias/finalSettings fragment. Indices absent from the
   * data keep their data, manifests and CAS chains byte-identical.
   * Like the reference's serialized builds, a scoped overwrite is not
   * designed to race a concurrent append TO THE SAME index (the append
   * could land between truncate and publish); appends to other indices
   * are unaffected. A crash mid-rewrite leaves that one index
   * data/manifest-inconsistent — `validateMulti` reports it, the other
   * indices still validate.
   */
  def insertIntoMulti(data: DataFrame, outRoot: String,
                      overwrite: Boolean = false): Map[String, Result] = {
    val fs = fileSystem(data, outRoot)
    val anyManifest = fs.listStatus(new Path(outRoot)).map(_.getPath)
      .find(_.getName.matches("manifest_.*\\.json"))
    require(anyManifest.nonEmpty,
      s"$outRoot has no manifest_*.json — not a multi-index bundle")
    // layout from any existing manifest (uniform across a multi bundle:
    // one writeMulti job wrote them, and appends re-derive from here)
    val layout = Layout.of(readFile(fs, anyManifest.get).get, outRoot)
    requireRouting(data)
    require(data.columns.contains("_index"),
      s"multi-index inserts need an _index column (got ${data.columns.mkString(", ")})")
    append(data.drop("_shard").withColumn("_index", checkedIndex(col("_index"), "_index")),
      outRoot, layout, MultiPartitioning, IndexFiles.multi(outRoot, _), overwrite).toMap
  }

  /**
   * @param docs DataFrame with at least (_id, _routing, doc) — see
   *             [[graft.transform.DocTransform.docs]].
   * @param repartition when false (reference default `--repartition false`)
   *             the shuffle is skipped and each task writes to every shard
   *             dir it sees — more small files, no exchange.
   */
  def write(docs: DataFrame, outDir: String, numShards: Int,
            partitionMultiples: Int = 10, repartition: Boolean = true,
            format: String = "json", mappingJson: Option[String] = None,
            indexName: String = "", typeName: String = "doc",
            compression: Option[String] = None,
            bulkActions: Option[Long] = None,
            bulkSizeBytes: Option[Long] = None,
            alias: Option[String] = None,
            finalSettings: Map[String, String] = Map.empty): Result = {
    val spark = docs.sparkSession
    val codec = codecFor(format, compression)
    val fs = fileSystem(docs, outDir)
    fs.mkdirs(new Path(outDir))
    // _STARTED + shard_state.json are owned by the write job's commit
    // protocol ([[graft.sources.BundleCommitProtocol]]): the start marker
    // appears in setupJob and the state blob is written in the same
    // commitJob that publishes the data files

    val sharded = docs.withColumn("_shard", EsFunctions.es_shard(col("_routing"), numShards))
    // fan out on mod(hash, n*m) like the reference partitioner — NOT on the
    // _shard column, which has only n distinct values and would leave at
    // most n non-empty exchange partitions (one writer task per shard)
    val arranged =
      if (repartition) sharded.repartition(numShards * partitionMultiples,
        EsFunctions.es_partition(col("_routing"), numShards, partitionMultiples))
      else sharded

    // per-shard counts ride the write job as observable metrics (A3 parity:
    // per-partition doc counts, `Hive2ES.scala:85-90`). Modest shard counts
    // use one codegen'd conditional-sum expression per shard; past ~64
    // shards that expression list itself becomes the bottleneck, so large
    // layouts switch to the single map-valued count_by_key aggregate —
    // either way the counts come from THIS job, never a read-back scan.
    val observeCounts = numShards <= 64
    val obs = Observation("bundle-counts")
    val observed =
      if (observeCounts) {
        val countExprs = (0 until numShards).map(i =>
          sum(when(col("_shard") === i, 1L).otherwise(0L)).as(s"shard_$i"))
        arranged.observe(obs, countExprs.head, countExprs.tail: _*)
      } else arranged.observe(obs, countByPartition(Seq("_shard")))

    val writer = applyBulkSizing(
      observed.write.mode("overwrite").partitionBy("_shard"),
      format, bulkActions, bulkSizeBytes).option("compression", codec)
    withBundleCommitProtocol(spark, outDir + "/data") {
      if (format == "json") writer.json(outDir + "/data") else writer.parquet(outDir + "/data")
    }

    val perShard =
      if (observeCounts) {
        val m = obs.get
        (0 until numShards).map(i => i -> m(s"shard_$i").asInstanceOf[Long]).toMap
      } else {
        val m = decodeCounts(obs)
        (0 until numShards).map(i => i -> m.getOrElse(("", i), 0L)).toMap
      }
    val total = perShard.values.sum
    // null/empty routing hashes to shard 0 (reference ESHashPartitioner
    // semantics); a fully degenerate distribution usually means the routing
    // extraction came up null for every row — surface it
    if (numShards > 1 && total > 0 && perShard.getOrElse(0, 0L) == total)
      System.err.println(s"[bundle] WARNING: all $total docs landed on shard 0 — " +
        "routing may be null for every row (bad --routing/--id extraction?)")

    mappingJson.foreach(writeFile(fs, new Path(outDir, "mapping.json"), _))
    // shard_state.json (reference `_state`/`_shard_state.zip`,
    // ESContainer.scala:261-268) was written by the commit protocol WITH the
    // data. Parquet bundles got exact doc counts from footers; json bundles
    // got a -1 sentinel (line counts aren't knowable at commit) — refresh
    // those from the write job's own observe() counts. Files/bytes stay as
    // the commit recorded them.
    val ix = IndexFiles.single(outDir, indexName)
    if (format == "json") ix.state.foreach { p =>
      ShardState.read(fs, p).foreach(entries => ShardState.write(fs, p,
        entries.map(e => e.copy(docs = perShard.getOrElse(e.shard, 0L)))))
    }
    // a full rewrite resets manifest authority to manifest.json: any append
    // CAS chain on the old bundle contents is obsolete
    fs.delete(ix.cas, true)
    FsAtomic.publish(fs, ix.manifest, BundleManifest.render(indexName, typeName,
      outDir, numShards, format, Some(BundleManifest.Completed(codec, perShard,
        BundleManifest.aliasContract(alias, finalSettings), None))).getBytes("UTF-8"))
    fs.delete(new Path(outDir, "_STARTED"), false)

    Result(outDir, numShards, total, perShard)
  }
}
