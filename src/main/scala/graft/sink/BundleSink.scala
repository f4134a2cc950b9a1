package graft.sink

import graft.functions.EsFunctions
import org.apache.spark.sql.{DataFrame, Observation}
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
 * (`ServerNotifier.scala:21-50`).
 */
object BundleSink {

  case class Result(outDir: String, numShards: Int, totalDocs: Long,
                    shardCounts: Map[Int, Long])

  /**
   * Multi-index sink: ONE scan feeds every index. The reference runs a full
   * Spark job per index (`Hive2ES.main` once per invocation); when N
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
    val spark = docs.sparkSession
    val sharded = docs
      // fail INSIDE the write job on a null/empty index value (the task
      // error aborts the job before any output commits) — a null would
      // otherwise produce a separator-less count key whose parse crashes
      // the driver AFTER files have landed
      .withColumn("_index", when(col(indexCol).isNull || col(indexCol) === "",
        raise_error(concat(lit(s"null/empty $indexCol for _id="),
          coalesce(col("_id").cast("string"), lit("<null>")))))
        // index values become path segments (data/_index=i/, manifest_<i>
        // .json, .manifest-cas_<i>/): constrain to a safe charset so the
        // raw-interpolated manifest/CAS names can never diverge from
        // Spark's percent-escaped partition dirs or escape the root
        .when(!col(indexCol).rlike("""\A[A-Za-z0-9_-][A-Za-z0-9._-]*\z"""),
          raise_error(concat(lit("unsafe index value (allowed: " +
            "[A-Za-z0-9._-]+, no leading dot): "), col(indexCol))))
        .otherwise(col(indexCol)))
      .withColumn("_shard", EsFunctions.es_shard(col("_routing"), numShards))
    val arranged =
      if (repartition) sharded.repartition(numShards * partitionMultiples,
        col("_index"), EsFunctions.es_partition(col("_routing"), numShards, partitionMultiples))
      else sharded
    // (index, shard) counts as one observe() metric on the write job itself:
    // index values are dynamic, so per-key conditional sums (the single-index
    // trick below) can't be enumerated — the map-valued aggregate can.
    // NUL separates the compound key; _shard is numeric so the tail parse is
    // unambiguous even if an index name contains NUL.
    val obs = Observation("multi-bundle-counts")
    val observed = arranged.observe(obs,
      graft.functions.CountByKeyAgg.count_by_key(
        concat_ws("\u0000", col("_index"), col("_shard"))).as("index_shard_counts"))
    val writer = applyBulkSizing(
      observed.drop(indexCol).write.mode("overwrite")
        .partitionBy("_index", "_shard"),
      format, bulkActions, bulkSizeBytes)
    val codec = format match {
      case "json"    => compression.getOrElse("gzip")
      case "parquet" => compression.getOrElse("zstd")
      case other => throw new IllegalArgumentException(s"unsupported multi-bundle format: $other")
    }
    val dataDir = s"$outRoot/data"
    // _STARTED spans the whole multi-bundle lifecycle: data write + the
    // sequential per-index manifest loop. Without it a polling installer can
    // validate/rename the bundle mid-manifest-loop — installing it with
    // whole indices missing their manifests and yanking the directory out
    // from under the remaining writes. installOnce skips _STARTED bundles.
    val fsEarly = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outRoot), spark.sparkContext.hadoopConfiguration)
    fsEarly.mkdirs(new org.apache.hadoop.fs.Path(outRoot))
    fsEarly.create(new org.apache.hadoop.fs.Path(outRoot, "_STARTED"), true).close()
    format match {
      case "json"    => writer.option("compression", codec).json(dataDir)
      case "parquet" => writer.option("compression", codec).parquet(dataDir)
    }
    val counts = obs.get("index_shard_counts")
      .asInstanceOf[scala.collection.Map[String, Long]]
      .map { case (k, c) =>
        val cut = k.lastIndexOf('\u0000')
        (k.substring(0, cut), k.substring(cut + 1).toInt) -> c
      }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outRoot), spark.sparkContext.hadoopConfiguration)
    val results = counts.keys.map(_._1).toSet.map { (idx: String) =>
      val perShard = (0 until numShards)
        .map(sh => sh -> counts.getOrElse((idx, sh), 0L)).toMap
      val total = perShard.values.sum
      val manifest =
        s"""{"indexName":${jstr(idx)},"typeName":${jstr(typeName)},"workDir":${jstr(s"$outRoot/data/_index=$idx")},
           |"numShards":$numShards,"format":"$format","compression":"$codec","totalDocs":$total,
           |"shardCounts":{${perShard.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")}},
           |${aliasSettingsJson(aliasFor(idx), finalSettings)},
           |"state":"completed"}""".stripMargin.replace("\n", "")
      val mf = fs.create(new org.apache.hadoop.fs.Path(
        s"$outRoot/manifest_$idx.json"), true)
      mf.write(manifest.getBytes("UTF-8")); mf.close()
      // all indices share the single scan's schema -> one inferred mapping
      // serves every index (per-index divergence would need per-index
      // sources, which is the one-job-per-index case, not this one)
      mappingJson.foreach { json =>
        val mp = fs.create(new org.apache.hadoop.fs.Path(
          s"$outRoot/mapping_$idx.json"), true)
        mp.write(json.getBytes("UTF-8")); mp.close()
      }
      idx -> Result(s"$outRoot/data/_index=$idx", numShards, total, perShard)
    }.toMap
    // last manifest landed -> the bundle is complete; clear the marker
    fs.delete(new org.apache.hadoop.fs.Path(outRoot, "_STARTED"), false)
    results
  }

  /**
   * @param docs DataFrame with at least (_id, _routing, doc) — see
   *             [[graft.transform.DocTransform.docs]].
   * @param repartition when false (reference default `--repartition false`)
   *             the shuffle is skipped and each task writes to every shard
   *             dir it sees — more small files, no exchange.
   */
  /** Codecs the JSON (Hadoop text) writer supports; parquet accepts these
    * plus zstd (parquet-java bundles zstd-jni; Hadoop text zstd would need
    * native libhadoop, so it is rejected up front instead of failing in the
    * write job). */
  private val JsonCodecs = Set("gzip", "bzip2", "deflate", "lz4", "snappy", "none")
  private val ParquetCodecs = JsonCodecs ++ Set("zstd", "lzo", "uncompressed")

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

  /** Jackson-escaped JSON string literal (quotes included): a name or
    * setting value containing a quote/backslash must not produce an
    * unparseable manifest. */
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def jstr(s: String): String = jsonMapper.writeValueAsString(s)

  /** `"alias":…,"finalSettings":{…}` manifest fragment (reference alias
    * swap `ESClient.java:154-170` + health-gated final settings
    * `NodeService.java:129-152`, applied by the downstream loader). */
  private def aliasSettingsJson(alias: Option[String],
                                finalSettings: Map[String, String]): String = {
    val a = alias.map(jstr).getOrElse("null")
    val fs = finalSettings.toSeq.sorted
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    s""""alias":$a,"finalSettings":$fs"""
  }

  // ===== optimistic manifest concurrency (append CAS chain) =====
  //
  // insertInto's manifest refresh is read-modify-write; with plain
  // manifest.json overwrites a concurrent append loses its counts (the
  // round-6 restriction: "serialize appends per bundle"). The chain lifts
  // it: each append atomically CLAIMS the next version number in
  // `.manifest-cas/` (`v<N>.claim` — create-if-absent is the CAS; exactly
  // one writer owns each N), then publishes the full manifest content as
  // `v<N>.json`. Losers re-read the chain head and re-merge their delta —
  // no counts are ever lost. `manifest.json` remains a MIRROR of the chain
  // head for every existing reader; when a chain exists,
  // [[graft.sources.BundleManifest]] prefers it (the mirror can lag a
  // racing append by a beat). Full-state publishers — fresh write(),
  // streaming seal — delete the chain: their manifest.json is a new
  // authority. Compaction keeps counts unchanged, so an existing chain
  // stays valid across it.

  private[graft] def casDir(outDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(outDir, ".manifest-cas")

  /** Per-index CAS chain of a MULTI-index bundle: each index's manifest
    * (`manifest_<idx>.json`) gets its own independent version chain, so
    * concurrent appends touching different indices never contend and
    * appends to one index CAS against exactly that index's counts. */
  private[graft] def casDirMulti(outRoot: String,
                                 idx: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(outRoot, s".manifest-cas_$idx")

  /** Atomic create-if-absent. HDFS `create(p, overwrite=false)` is an
    * atomic namespace claim; Hadoop's LOCAL filesystem emulates the flag
    * with a non-atomic exists-check, so the file scheme goes through NIO's
    * O_CREAT|O_EXCL instead. */
  private def claim(fs: org.apache.hadoop.fs.FileSystem,
                    p: org.apache.hadoop.fs.Path): Boolean =
    if (fs.getScheme == "file")
      try { java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    else
      try { fs.create(p, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }

  /** (highest version seen across claims AND content files, highest
    * PUBLISHED version, content of that `v*.json`). maxAny > maxPublished
    * means a claim is outstanding: usually a winner mid-publish (the gap
    * between claim and content rename is one small write), rarely a
    * crashed one. */
  private def chainState(fs: org.apache.hadoop.fs.FileSystem,
                         outDir: String): (Int, Int, Option[String]) =
    chainStateAt(fs, casDir(outDir))

  private def chainStateAt(fs: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path)
      : (Int, Int, Option[String]) = {
    if (!fs.exists(dir)) return (0, 0, None)
    val J = "v(\\d+)\\.json".r
    val C = "v(\\d+)\\.claim".r
    var maxAny = 0
    var maxJson = 0
    var head: org.apache.hadoop.fs.Path = null
    fs.listStatus(dir).foreach { st =>
      st.getPath.getName match {
        case J(n) =>
          val v = n.toInt
          maxAny = math.max(maxAny, v)
          if (v > maxJson) { maxJson = v; head = st.getPath }
        case C(n) => maxAny = math.max(maxAny, n.toInt)
        case _    => ()
      }
    }
    val content = Option(head).map { p =>
      val in = fs.open(p)
      val s = new String(in.readAllBytes(), "UTF-8"); in.close(); s
    }
    (maxAny, maxJson, content)
  }

  /** Chain state for merging: when a claim is outstanding above the newest
    * content, WAIT for that content — merging without it would re-base on
    * stale counts and silently drop the in-flight append's delta (the lost
    * update this whole mechanism exists to prevent). After the timeout the
    * claimant is presumed crashed: its version number stays burned, its
    * counts were never published — the same data-in/manifest-stale crash
    * exposure the serialized path had, and BundleValidate's job to report. */
  private def settledChainState(fs: org.apache.hadoop.fs.FileSystem,
                                outDir: String): (Int, Option[String]) =
    settledChainStateAt(fs, casDir(outDir))

  private def settledChainStateAt(fs: org.apache.hadoop.fs.FileSystem,
                                  dir: org.apache.hadoop.fs.Path)
      : (Int, Option[String]) = {
    var (maxAny, maxJson, head) = chainStateAt(fs, dir)
    var waitedMs = 0
    while (maxJson < maxAny && waitedMs < 30000) {
      Thread.sleep(50); waitedMs += 50
      val s = chainStateAt(fs, dir)
      maxAny = s._1; maxJson = s._2; head = s._3
    }
    (maxAny, head)
  }

  /** The `"alias":…,"finalSettings":{…}` fragment of an existing manifest,
    * carried forward across appends (an append must not strip the bundle's
    * alias/final-settings contract). Jackson round-trip, not a regex
    * capture: escaped strings and pretty-printed manifests survive. */
  private def carriedAliasFragment(manifest: Option[String]): String =
    manifest.flatMap { m =>
      scala.util.Try {
        val node = graft.sources.BundleManifest.jsonNode(m)
        if (node.has("alias") && node.has("finalSettings"))
          Some(s""""alias":${jsonMapper.writeValueAsString(node.get("alias"))},""" +
            s""""finalSettings":${jsonMapper.writeValueAsString(node.get("finalSettings"))}""")
        else None
      }.toOption.flatten
    }.getOrElse(aliasSettingsJson(None, Map.empty))

  private def manifestJson(indexName: String, typeName: String, outDir: String,
                           numShards: Int, format: String, codec: String,
                           perShard: Map[Int, Long], aliasFragment: String,
                           version: Int): String =
    s"""{"indexName":${jstr(indexName)},"typeName":${jstr(typeName)},"workDir":${jstr(outDir)},
       |"numShards":$numShards,"format":"$format","compression":"$codec","totalDocs":${perShard.values.sum},
       |"shardCounts":{${perShard.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")}},
       |$aliasFragment,"version":$version,
       |"state":"completed"}""".stripMargin.replace("\n", "")

  /** shard_state.json (files/bytes from one listing per shard dir, docs
    * from the given counts) + manifest.json, written as-is. */
  private def writeStateFiles(fs: org.apache.hadoop.fs.FileSystem,
                              outDir: String, numShards: Int,
                              perShard: Map[Int, Long],
                              manifest: String): Unit = {
    val states = (0 until numShards).map { sh =>
      val dir = new org.apache.hadoop.fs.Path(s"$outDir/data/_shard=$sh")
      val (files, bytes) =
        if (fs.exists(dir))
          fs.listStatus(dir).filter(_.isFile)
            .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
            .foldLeft((0L, 0L)) { case ((f, b), st) => (f + 1, b + st.getLen) }
        else (0L, 0L)
      s"""{"shard":$sh,"docs":${perShard.getOrElse(sh, 0L)},"files":$files,"bytes":$bytes}"""
    }
    val st = fs.create(new org.apache.hadoop.fs.Path(outDir, "shard_state.json"), true)
    st.write(states.mkString("[", ",", "]").getBytes("UTF-8")); st.close()
    val mf = fs.create(new org.apache.hadoop.fs.Path(outDir, "manifest.json"), true)
    mf.write(manifest.getBytes("UTF-8")); mf.close()
  }

  /** Mirror the chain head into manifest.json/shard_state.json, re-reading
    * until the head we mirrored is still the head (a racing append that
    * published a newer version while we wrote also mirrors, and whichever
    * writer finishes last re-checks — the mirror converges to the final
    * head; exact readers go through the chain regardless). */
  private def mirrorChainHead(fs: org.apache.hadoop.fs.FileSystem,
                              outDir: String, numShards: Int): Unit = {
    var mirrored = -1
    var done = false
    while (!done) {
      val (_, _, latest) = chainState(fs, outDir)
      latest match {
        case Some(content) =>
          val v = graft.sources.BundleManifest.versionOf(content)
          if (v == mirrored) done = true
          else {
            val counts = graft.sources.BundleManifest.parseShardCounts(content)
            writeStateFiles(fs, outDir, numShards, counts, content)
            mirrored = v
          }
        case None => done = true
      }
    }
  }

  /** Drop chain entries more than `keep` versions behind the newest
    * published content (best-effort; old entries are never read once a
    * newer head exists). */
  private def pruneChain(fs: org.apache.hadoop.fs.FileSystem, outDir: String,
                         keep: Int): Unit =
    pruneChainAt(fs, casDir(outDir), keep)

  private def pruneChainAt(fs: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path, keep: Int): Unit = {
    if (!fs.exists(dir)) return
    val V = "v(\\d+)\\.(json|claim)".r
    val entries = fs.listStatus(dir).flatMap(st => st.getPath.getName match {
      case V(n, _) => Some(n.toInt -> st.getPath)
      case _       => None
    })
    val maxJson = entries.collect {
      case (v, p) if p.getName.endsWith(".json") => v }.foldLeft(-1)(math.max)
    entries.filter(_._1 <= maxJson - keep)
      .foreach { case (_, p) => try fs.delete(p, false) catch { case _: java.io.IOException => () } }
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
                                  codec: String,
                                  alias: Option[String] = None,
                                  finalSettings: Map[String, String] = Map.empty): Result = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    fs.delete(casDir(outDir), true)
    writeStateFiles(fs, outDir, numShards, perShard,
      manifestJson(indexName, typeName, outDir, numShards, format, codec,
        perShard, aliasSettingsJson(alias, finalSettings), version = 0))
    Result(outDir, numShards, perShard.values.sum, perShard)
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
   * manifest). Append stages the new rows under `.staging/` in the bundle's
   * own format, renames each part into its shard dir under an
   * insert-scoped unique name, and refreshes manifest + shard_state from
   * the PREVIOUS manifest counts plus this job's observed delta — one
   * directory listing per shard, zero read-back scans of existing data.
   *
   * Concurrency: the DATA files of two concurrent appends never collide
   * (insert-scoped names), and the manifest refresh is an optimistic CAS
   * over the `.manifest-cas/` version chain (see the chain scaladoc above
   * [[publishState]]) — concurrent appends to one bundle are safe, no
   * counts are lost, no external coordinator (the reference serialized
   * through its ZK leader instead). `BundleValidate` still catches the one
   * remaining crash exposure (data renamed in, CAS never reached).
   */
  def insertInto(data: DataFrame, outDir: String,
                 overwrite: Boolean): Result = {
    val spark = data.sparkSession
    import graft.sources.BundleManifest
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
    locally {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(outDir, "manifest.json"))) {
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
    }
    // one manifest read: every field below comes from the same snapshot
    val snapshot = BundleManifest.raw(spark, outDir)
    val numShards = BundleManifest.numShardsIn(snapshot, outDir)
    val format = BundleManifest.formatOf(snapshot)
    val codec = BundleManifest.compressionOf(snapshot)
      .getOrElse(if (format == "json") "gzip" else "zstd")
    val indexName = BundleManifest.indexNameOf(snapshot)
    val typeName = BundleManifest.typeNameOf(snapshot)
    require(data.columns.contains("_routing"),
      s"bundle inserts need a _routing column (placement is derived from " +
        s"it; got ${data.columns.mkString(", ")}) — build rows with " +
        "DocTransform.docs or supply _routing directly")
    val docs = data.drop("_shard") // recomputed from _routing below
    if (overwrite)
      return write(docs, outDir, numShards, format = format,
        indexName = indexName, typeName = typeName, compression = Some(codec))
    val prior = BundleManifest.shardCountsOf(snapshot).getOrElse(
      throw new IllegalStateException(s"$outDir manifest has no shardCounts " +
        "(unsealed streaming bundle?) — seal it before INSERT INTO, or " +
        "use overwrite"))

    val obs = Observation(s"bundle-insert-${java.util.UUID.randomUUID()}")
    val sharded = docs
      .withColumn("_shard", EsFunctions.es_shard(col("_routing"), numShards))
      .observe(obs, graft.functions.CountByKeyAgg.count_by_key(
        col("_shard").cast("string")).as("shard_counts"))
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"$outDir/.staging/insert=$tag"
    val writer = sharded.write.mode("overwrite").partitionBy("_shard")
      .option("compression", codec)
    format match {
      case "json"                 => writer.json(staging)
      case "parquet" | "columnar" => writer.parquet(staging)
      case other => throw new IllegalArgumentException(s"unsupported bundle format: $other")
    }
    val delta = obs.get("shard_counts")
      .asInstanceOf[scala.collection.Map[String, Long]]
      .map { case (k, v) => k.toInt -> v }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val partIdx = "part-(\\d+)".r
    for (shardDir <- fs.listStatus(new org.apache.hadoop.fs.Path(staging))
         if shardDir.isDirectory) {
      val target = new org.apache.hadoop.fs.Path(
        s"$outDir/data/${shardDir.getPath.getName}")
      fs.mkdirs(target)
      for (f <- fs.listStatus(shardDir.getPath)
           if f.getPath.getName.startsWith("part-")) {
        val idx = partIdx.findFirstMatchIn(f.getPath.getName).map(_.group(1)).getOrElse("0")
        val suffix = f.getPath.getName.replaceAll("part-\\d+-[0-9a-f-]+", "")
        fs.rename(f.getPath, new org.apache.hadoop.fs.Path(target, s"i$tag-p$idx$suffix"))
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    // drop the .staging parent too when this was its only insert (the
    // non-recursive delete refuses while a concurrent insert still stages)
    try fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/.staging"), false)
    catch { case _: java.io.IOException => () }
    // CAS publish: merge OUR delta over whatever counts are current at
    // claim time. Losing the claim means a concurrent append published
    // first — re-read its counts and retry; the bound only trips on a
    // pathological livelock (256 concurrent appends to one bundle).
    fs.mkdirs(casDir(outDir))
    var merged: Map[Int, Long] = null
    var won = -1
    var attempts = 0
    while (won < 0) {
      attempts += 1
      require(attempts <= 256,
        s"manifest CAS on $outDir did not converge after 256 attempts")
      val (maxSeen, head) = settledChainState(fs, outDir)
      val base = head.map(graft.sources.BundleManifest.parseShardCounts)
        .getOrElse(prior)
      merged = (0 until numShards).map(sh =>
        sh -> (base.getOrElse(sh, 0L) + delta.getOrElse(sh, 0L))).toMap
      val next = maxSeen + 1
      if (claim(fs, new org.apache.hadoop.fs.Path(casDir(outDir), s"v$next.claim"))) {
        // we own version `next`: publish its content under the claimed name
        // (tmp + rename — only the claim owner ever writes this name)
        val manifest = manifestJson(indexName, typeName, outDir, numShards,
          format, codec, merged, carriedAliasFragment(head.orElse(Some(snapshot))), next)
        val tmp = new org.apache.hadoop.fs.Path(casDir(outDir), s".tmp-$tag-v$next")
        val o = fs.create(tmp, true); o.write(manifest.getBytes("UTF-8")); o.close()
        if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(casDir(outDir), s"v$next.json")))
          throw new IllegalStateException(
            s"could not publish claimed manifest version $next in $outDir")
        won = next
      }
    }
    mirrorChainHead(fs, outDir, numShards)
    pruneChain(fs, outDir, keep = 8)
    Result(outDir, numShards, merged.values.sum, merged)
  }

  /**
   * Append into a MULTI-index bundle ([[writeMulti]] layout): rows routed
   * by their `_index` column into `data/_index=i/_shard=k/`, placement
   * recomputed from `_routing` against the bundle's own shard count, and
   * each TOUCHED index's `manifest_<idx>.json` refreshed through its own
   * independent CAS chain (`.manifest-cas_<idx>/` — appends to different
   * indices never contend; concurrent appends to the same index merge
   * their deltas exactly like the single-index chain). An `_index` value
   * with no existing manifest creates one (version chain from empty
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
    val spark = data.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outRoot), spark.sparkContext.hadoopConfiguration)
    val manifestNames = fs.listStatus(new org.apache.hadoop.fs.Path(outRoot))
      .map(_.getPath.getName).filter(_.matches("manifest_.*\\.json"))
    require(manifestNames.nonEmpty,
      s"$outRoot has no manifest_*.json — not a multi-index bundle")
    def fileManifest(idx: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(outRoot, s"manifest_$idx.json")
      if (!fs.exists(p)) None
      else { val in = fs.open(p)
        try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close() }
    }
    // layout from any existing manifest (uniform across a multi bundle:
    // one writeMulti job wrote them, and appends re-derive from here).
    // Jackson-parsed like finalizeBundle: pretty-printed or externally
    // produced manifests parse identically to engine-written compact ones.
    val anyManifest = fileManifest(manifestNames.head
      .stripPrefix("manifest_").stripSuffix(".json")).get
    val numShards = graft.sources.BundleManifest.numShardsOf(anyManifest)
      .getOrElse(throw new IllegalStateException(
        s"no numShards in $outRoot manifests"))
    val format = graft.sources.BundleManifest.formatOf(anyManifest)
    val codec = graft.sources.BundleManifest.compressionOf(anyManifest)
      .getOrElse(if (format == "json") "gzip" else "zstd")
    val typeName = graft.sources.BundleManifest.typeNameOf(anyManifest)
    require(data.columns.contains("_routing"),
      s"bundle inserts need a _routing column (got ${data.columns.mkString(", ")})")
    require(data.columns.contains("_index"),
      s"multi-index inserts need an _index column (got ${data.columns.mkString(", ")})")

    // stage in the bundle's own format, counts observed on the write job.
    // _index values become filesystem path segments (data/_index=i/,
    // manifest_<i>.json, .manifest-cas_<i>/) — constrain them to a safe
    // charset BEFORE staging: Spark percent-escapes special characters in
    // partition dir names (_index=a%2Fb) while the manifest/CAS naming
    // interpolates the raw value, so a '/', '%', or leading-dot value
    // would desynchronize the two layouts (or escape the bundle root).
    val obs = Observation(s"bundle-insert-multi-${java.util.UUID.randomUUID()}")
    val sharded = data.drop("_shard")
      .withColumn("_index", when(col("_index").isNull || col("_index") === "",
        raise_error(concat(lit("null/empty _index for _id="),
          coalesce(col("_id").cast("string"), lit("<null>")))))
        .when(!col("_index").rlike("""\A[A-Za-z0-9_-][A-Za-z0-9._-]*\z"""),
          raise_error(concat(lit("unsafe _index value (allowed: " +
            "[A-Za-z0-9._-]+, no leading dot): "), col("_index"))))
        .otherwise(col("_index")))
      .withColumn("_shard", EsFunctions.es_shard(col("_routing"), numShards))
      .observe(obs, graft.functions.CountByKeyAgg.count_by_key(
        concat_ws("\u0000", col("_index"), col("_shard"))).as("index_shard_counts"))
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"$outRoot/.staging/insert=$tag"
    val writer = sharded.write.mode("overwrite")
      .partitionBy("_index", "_shard").option("compression", codec)
    format match {
      case "json"                 => writer.json(staging)
      case "parquet" | "columnar" => writer.parquet(staging)
      case other => throw new IllegalArgumentException(s"unsupported bundle format: $other")
    }
    val delta: Map[(String, Int), Long] = obs.get("index_shard_counts")
      .asInstanceOf[scala.collection.Map[String, Long]]
      .map { case (k, c) =>
        val cut = k.lastIndexOf('\u0000')
        (k.substring(0, cut), k.substring(cut + 1).toInt) -> c
      }.toMap

    // scoped truncate BEFORE the staged renames land: the staging write
    // already committed this job's rows, so the window where an index is
    // empty is the rename loop only (same order as write()'s full rewrite)
    if (overwrite) {
      delta.keys.map(_._1).toSeq.distinct.foreach { idx =>
        fs.delete(casDirMulti(outRoot, idx), true)
        fs.delete(new org.apache.hadoop.fs.Path(s"$outRoot/data/_index=$idx"), true)
      }
    }

    // rename staged parts into their _index/_shard dirs (insert-scoped
    // unique names: concurrent appends' data files never collide).
    // Renames are metadata-only but driver-side: a corpus-sized append
    // (thousands of parts) would crawl serially, so the per-(index,shard)
    // dirs rename in parallel — independent targets, no rename races.
    val partIdx = "part-(\\d+)".r
    val shardDirs = (for {
      idxDir <- fs.listStatus(new org.apache.hadoop.fs.Path(staging)).toSeq
      if idxDir.isDirectory
      shardDir <- fs.listStatus(idxDir.getPath).toSeq if shardDir.isDirectory
    } yield (idxDir.getPath.getName, shardDir.getPath)).toVector
    import scala.collection.parallel.CollectionConverters._
    shardDirs.par.foreach { case (idxName, shardPath) =>
      val target = new org.apache.hadoop.fs.Path(
        s"$outRoot/data/$idxName/${shardPath.getName}")
      fs.mkdirs(target)
      for (f <- fs.listStatus(shardPath)
           if f.getPath.getName.startsWith("part-")) {
        val i = partIdx.findFirstMatchIn(f.getPath.getName).map(_.group(1)).getOrElse("0")
        val suffix = f.getPath.getName.replaceAll("part-\\d+-[0-9a-f-]+", "")
        fs.rename(f.getPath, new org.apache.hadoop.fs.Path(target, s"i$tag-p$i$suffix"))
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    try fs.delete(new org.apache.hadoop.fs.Path(s"$outRoot/.staging"), false)
    catch { case _: java.io.IOException => () }

    // per-index CAS publish + mirror, one independent chain per index
    // (overwrite: fresh version-1 manifest instead — the chain was reset
    // with the truncate, this job's counts are the new authority)
    val touched = delta.keys.map(_._1).toSeq.distinct.sorted
    touched.map { idx =>
      val idxDelta = (0 until numShards).map(sh =>
        sh -> delta.getOrElse((idx, sh), 0L)).toMap
      if (overwrite) {
        // tmp+rename: with the chain reset this file is the index's SOLE
        // authority — a reader must never see a half-written manifest
        val manifest = manifestJson(idx, typeName,
          s"$outRoot/data/_index=$idx", numShards, format, codec, idxDelta,
          aliasSettingsJson(None, Map.empty), 1)
        val tmp = new org.apache.hadoop.fs.Path(
          outRoot, s".manifest_$idx.json.tmp-$tag")
        val mf = fs.create(tmp, true)
        mf.write(manifest.getBytes("UTF-8")); mf.close()
        val target = new org.apache.hadoop.fs.Path(outRoot, s"manifest_$idx.json")
        // rename-REPLACE, not delete+rename: a concurrent reader of the
        // multi bundle must never hit an instant where manifest_<idx>.json
        // does not exist (same helper as the alias/_FINALIZED publish)
        FsAtomic.renameReplace(fs, tmp, target)
        idx -> Result(s"$outRoot/data/_index=$idx", numShards,
          idxDelta.values.sum, idxDelta)
      } else insertMultiPublish(fs, outRoot, idx, numShards, format, codec,
        typeName, idxDelta, () => fileManifest(idx), tag)
    }.toMap
  }

  /** One index's CAS publish + mirror for [[insertIntoMulti]] appends. */
  private def insertMultiPublish(fs: org.apache.hadoop.fs.FileSystem,
                                 outRoot: String, idx: String, numShards: Int,
                                 format: String, codec: String,
                                 typeName: String, idxDelta: Map[Int, Long],
                                 fileManifest: () => Option[String],
                                 tag: String): (String, Result) = {
    locally {
      val cas = casDirMulti(outRoot, idx)
      fs.mkdirs(cas)
      var merged: Map[Int, Long] = null
      var won = -1
      var attempts = 0
      while (won < 0) {
        attempts += 1
        require(attempts <= 256,
          s"manifest CAS on $outRoot [$idx] did not converge after 256 attempts")
        val (maxSeen, head) = settledChainStateAt(fs, cas)
        val baseManifest = head.orElse(fileManifest())
        val base = baseManifest.map(graft.sources.BundleManifest.parseShardCounts)
          .getOrElse(Map.empty[Int, Long])
        merged = (0 until numShards).map(sh =>
          sh -> (base.getOrElse(sh, 0L) + idxDelta.getOrElse(sh, 0L))).toMap
        val next = maxSeen + 1
        if (claim(fs, new org.apache.hadoop.fs.Path(cas, s"v$next.claim"))) {
          val manifest = manifestJson(idx, typeName,
            s"$outRoot/data/_index=$idx", numShards, format, codec, merged,
            carriedAliasFragment(baseManifest), next)
          val tmp = new org.apache.hadoop.fs.Path(cas, s".tmp-$tag-v$next")
          val o = fs.create(tmp, true); o.write(manifest.getBytes("UTF-8")); o.close()
          if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(cas, s"v$next.json")))
            throw new IllegalStateException(
              s"could not publish claimed manifest version $next for $idx in $outRoot")
          won = next
        }
      }
      // mirror the chain head into manifest_<idx>.json (converging re-check
      // like the single-index mirror; exact readers go through the chain)
      var mirrored = -1
      var done = false
      while (!done) {
        val (_, _, latest) = chainStateAt(fs, cas)
        latest match {
          case Some(content) =>
            val v = graft.sources.BundleManifest.versionOf(content)
            if (v == mirrored) done = true
            else {
              val mf = fs.create(new org.apache.hadoop.fs.Path(
                outRoot, s"manifest_$idx.json"), true)
              mf.write(content.getBytes("UTF-8")); mf.close()
              mirrored = v
            }
          case None => done = true
        }
      }
      pruneChainAt(fs, cas, keep = 8)
      idx -> Result(s"$outRoot/data/_index=$idx", numShards,
        merged.values.sum, merged)
    }
  }

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
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(outDir), hadoopConf)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    fs.mkdirs(outPath)
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
        val countExprs = count(lit(1)).as("total") +:
          (0 until numShards).map(i =>
            sum(when(col("_shard") === i, 1L).otherwise(0L)).as(s"shard_$i"))
        arranged.observe(obs, countExprs.head, countExprs.tail: _*)
      } else arranged.observe(obs,
        graft.functions.CountByKeyAgg.count_by_key(col("_shard").cast("string"))
          .as("shard_counts"))

    val writer = applyBulkSizing(
      observed.write.mode("overwrite").partitionBy("_shard"),
      format, bulkActions, bulkSizeBytes)
    // defaults: gzip for json bundles (reference-era behavior), zstd for
    // parquet (better ratio at comparable speed — the right 100 TB default)
    val codec = format match {
      case "json"                 => compression.getOrElse("gzip")
      case "parquet" | "columnar" => compression.getOrElse("zstd")
      case other     => throw new IllegalArgumentException(s"unsupported bundle format: $other")
    }
    withBundleCommitProtocol(spark, outDir + "/data") {
      format match {
        case "json" =>
          require(JsonCodecs(codec),
            s"json bundles support ${JsonCodecs.toSeq.sorted.mkString("/")}, not $codec" +
              (if (codec == "zstd") " (Hadoop text zstd needs native libhadoop; use --format parquet for zstd)" else ""))
          writer.option("compression", codec).json(outDir + "/data")
        case "parquet" | "columnar" =>
          // "columnar" = same parquet writer, but the docs DataFrame carries
          // TYPED source columns (DocTransform.docsColumnar) instead of one
          // JSON string — document fields become prunable/pushable columns
          require(ParquetCodecs(codec),
            s"parquet bundles support ${ParquetCodecs.toSeq.sorted.mkString("/")}, not $codec")
          writer.option("compression", codec).parquet(outDir + "/data")
      }
    }

    val (total, perShard) =
      if (observeCounts) {
        val m = obs.get
        (m("total").asInstanceOf[Long],
          (0 until numShards).map(i => i -> m(s"shard_$i").asInstanceOf[Long]).toMap)
      } else {
        val m = obs.get("shard_counts").asInstanceOf[scala.collection.Map[String, Long]]
        val full = (0 until numShards).map(i => i -> m.getOrElse(i.toString, 0L)).toMap
        (full.values.sum, full)
      }
    // null/empty routing hashes to shard 0 (reference ESHashPartitioner
    // semantics); a fully degenerate distribution usually means the routing
    // extraction came up null for every row — surface it
    if (numShards > 1 && total > 0 && perShard.getOrElse(0, 0L) == total)
      System.err.println(s"[bundle] WARNING: all $total docs landed on shard 0 — " +
        "routing may be null for every row (bad --routing/--id extraction?)")

    mappingJson.foreach { json =>
      val out = fs.create(new org.apache.hadoop.fs.Path(outDir, "mapping.json"), true)
      out.write(json.getBytes("UTF-8")); out.close()
    }
    // shard_state.json (reference `_state`/`_shard_state.zip`,
    // ESContainer.scala:261-268) was written by the commit protocol WITH the
    // data. Parquet bundles got exact doc counts from footers; json bundles
    // got a -1 sentinel (line counts aren't knowable at commit) — refresh
    // those from the write job's own observe() counts. Files/bytes stay as
    // the commit recorded them.
    if (format == "json") locally {
      val statePath = new org.apache.hadoop.fs.Path(outDir, "shard_state.json")
      if (fs.exists(statePath)) {
        val in = fs.open(statePath)
        val s = new String(in.readAllBytes(), "UTF-8"); in.close()
        val refreshed = """\{"shard":(\d+),"docs":-?\d+""".r.replaceAllIn(s, m =>
          s"""{"shard":${m.group(1)},"docs":${perShard.getOrElse(m.group(1).toInt, 0L)}""")
        val out = fs.create(statePath, true)
        out.write(refreshed.getBytes("UTF-8")); out.close()
      }
    }
    // job-record parity with the reference's ZK node payload
    // ({numberShards, hdfsWorkDir, indexName, typeName, state},
    // ServerNotifier.scala:21-34) folded into the manifest
    val manifest =
      s"""{"indexName":"$indexName","typeName":"$typeName","workDir":"$outDir",
         |"numShards":$numShards,"format":"$format","compression":"$codec","totalDocs":$total,
         |"shardCounts":{${perShard.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")}},
         |${aliasSettingsJson(alias, finalSettings)},
         |"state":"completed"}""".stripMargin.replace("\n", "")
    // a full rewrite resets manifest authority to manifest.json: any append
    // CAS chain on the old bundle contents is obsolete
    fs.delete(casDir(outDir), true)
    val mf = fs.create(new org.apache.hadoop.fs.Path(outDir, "manifest.json"), true)
    mf.write(manifest.getBytes("UTF-8")); mf.close()
    fs.delete(new org.apache.hadoop.fs.Path(outDir, "_STARTED"), false)

    Result(outDir, numShards, total, perShard)
  }
}
