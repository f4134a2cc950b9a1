package graft.sources

import graft.functions.EsMurmur3
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{FileScanBuilder, FileTable}
import org.apache.spark.sql.execution.datasources.v2.json.{JsonScanBuilder, JsonTable}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.Seq
import scala.jdk.CollectionConverters._

/**
 * DataSource V2 connector for shard-addressed bundles:
 * `spark.read.format("graft-bundle").load(bundleDir)`.
 *
 * The reference's consumer reads bundles through a server daemon that knows
 * the shard layout (`IndexBuilder.java:345-466`); the Spark-first analog is
 * a `TableProvider` that owns that knowledge inside the scan: the table
 * resolves `manifest.json` for the bundle's shard count and data format,
 * reuses Spark's native parquet/json V2 scans (vectorized readers, filter
 * pushdown, column pruning all intact), and adds ONE piece of semantics the
 * generic sources cannot know — `_routing = 'k'` implies
 * `_shard = es_murmur3('k') % n`, so routing point-lookups prune to a single
 * shard directory natively in the source (the ES routed-search contract,
 * `?routing=k` hits one shard). The source needs no session extension:
 * pushdown happens in [[FileScanBuilder.pushFilters]], so the scan's
 * partition filter drops the non-matching `_shard=*` directories. Files are listed at scan
 * planning, only for the partitions that survive: the table's
 * [[BundleShardIndex]] knows the shard directories from directory listings
 * alone, so a routed lookup lists one shard directory and never opens or
 * lists the others (an alias scoped to one index of a multi-index bundle
 * starts from that index's directory). A parquet bundle's schema comes from
 * one data file's footer, read on the driver ([[EngineParquet]]), so
 * planning a routed lookup submits no Spark job, and one `load` builds one
 * table (alias, manifest, footer and directory reads once).
 *
 * Works for single-index bundles (`data/_shard=k/`) and multi-index bundles
 * (`data/_index=i/_shard=k/` written by [[graft.sink.BundleSink.writeMulti]];
 * `_index` becomes an ordinary partition column, prunable by equality).
 */
class BundleDataSource extends org.apache.spark.sql.connector.catalog.TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister
  with org.apache.spark.sql.sources.RelationProvider
  with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft-bundle"
  // lets callers pass .schema(...) (and lets getTable receive back the
  // schema inferSchema produced) — the FileTable reconciles partition cols
  override def supportsExternalMetadata(): Boolean = true

  // Deliberately NOT a FileDataSourceV2: the catalog's V1 resolution maps
  // FileDataSourceV2 classes to their fallbackFileFormat and runs partition
  // discovery over the raw LOCATION root (data/ + manifest/state files →
  // conflicting-structure error), never consulting this class. As a plain
  // TableProvider the DataFrameReader path still gets the V2 BundleTable,
  // and `CREATE TABLE t USING `graft-bundle` LOCATION dir` resolves through
  // [[createRelation]] below.

  private def sparkSession: SparkSession = SparkSession.active

  private def rootPath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    if (p == null || p.isEmpty)
      throw new IllegalArgumentException(
        "graft-bundle reads one bundle directory: spark.read.format(\"graft-bundle\").load(dir)")
    p
  }

  /** Alias indirection (`option("alias", a)`): `path` is then an INSTALL
    * root ([[graft.sink.BundleInstall]] layout) and the read resolves
    * through `_aliases/<a>` to whatever bundle was finalized under the
    * alias most recently — the reference search client's "query the
    * alias, not the index" usage (`ESClient.java:154-170`). For a
    * multi-index bundle the alias names ONE index: the file listing is
    * scoped to its `_index=` partition up front (basePath keeps `_index`
    * a column and `_shard` pruning intact), so other indices' files are
    * never even listed. Returns (bundle root, scoped index). */
  private def resolveRoot(options: CaseInsensitiveStringMap)
      : (String, Option[String]) = {
    val p = rootPath(options)
    Option(options.get("alias")).filter(_.nonEmpty) match {
      case None => (p, None)
      case Some(a) =>
        val spark = sparkSession
        val (bundle, idx) = graft.sink.BundleInstall.resolveAlias(spark, p, a)
          .getOrElse(throw new java.util.NoSuchElementException(
            s"alias '$a' resolves to nothing under $p/_aliases"))
        val root = s"$p/$bundle"
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
        if (fs.exists(new org.apache.hadoop.fs.Path(root, "manifest.json")))
          (root, None) // single-index bundle: the alias IS the bundle
        else (root, Some(idx))
    }
  }

  /** The table [[inferSchema]] built, with the options it was built from.
    * Spark asks ONE provider instance for `inferSchema` and then for
    * `getTable` with the schema that call returned
    * (`DataSourceV2Utils.getTableFromProvider`, a new instance per `load`),
    * so the second call reuses the first's alias, manifest, footer and
    * directory reads instead of repeating them. */
  private var inferred: Option[(java.util.Map[String, String], BundleTable)] = None

  private def makeTable(options: CaseInsensitiveStringMap,
                        schema: Option[StructType]): BundleTable = {
    val (root, scopedIdx) = resolveRoot(options)
    BundleTable.at(sparkSession, root, scopedIdx, options, schema)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val table = makeTable(options, None)
    inferred = Some(options.asCaseSensitiveMap() -> table)
    table.schema
  }

  override def getTable(schema: StructType,
                        partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
                        properties: java.util.Map[String, String]): Table =
    inferred.collect { case (opts, table) if opts == properties && table.schema == schema => table }
      .getOrElse(makeTable(new CaseInsensitiveStringMap(properties), Option(schema)))

  // ===== streaming read: readStream.format("graft-bundle").load(dir) =====
  // Delegates to Spark's OWN file-stream source (seen-files log = exactly-
  // once per file, AvailableNow drain, maxFilesPerTrigger admission — the
  // semantics BundleStream.read already provides by hand) with the format,
  // schema and partition layout resolved from the bundle manifest instead
  // of asked of the caller. BundleTable is a FileTable (BATCH_READ only),
  // so DataStreamReader falls back to this V1 StreamSourceProvider path.

  /** Streaming schema: fixed layout for json bundles (no inference scan),
    * where multi-index bundles append `_index` ahead of `_shard` (the
    * directory order); parquet takes the batch table's derivation — one
    * footer read on the driver plus the partition columns of the shard
    * directories, no file listing. */
  private def streamSchema(spark: SparkSession, root: String,
                           fmt: String, multi: Boolean): StructType =
    if (fmt == "json") {
      val base = graft.streaming.BundleStream.bundleSchema
      if (multi) StructType(
        base.fields.filterNot(_.name == "_shard").toIndexedSeq :+
          org.apache.spark.sql.types.StructField("_index", StringType) :+
          org.apache.spark.sql.types.StructField("_shard", IntegerType))
      else base
    } else BundleTable.at(spark, root, None,
      new CaseInsensitiveStringMap(java.util.Map.of("path", root)), None).schema

  private def isMulti(spark: SparkSession, root: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    !fs.exists(new org.apache.hadoop.fs.Path(root, "manifest.json"))
  }

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-bundle requires a path"))
    val spark = sqlContext.sparkSession
    val fmt = BundleManifest.format(spark, root)
    (shortName(), schema.getOrElse(streamSchema(spark, root, fmt, isMulti(spark, root))))
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
                            metadataPath: String, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-bundle requires a path"))
    val spark = sqlContext.sparkSession
    val fmt = BundleManifest.format(spark, root)
    val multi = isMulti(spark, root)
    val parts = if (multi) Seq("_index", "_shard") else Seq("_shard")
    val sch = schema.getOrElse(streamSchema(spark, root, fmt, multi))
    // the streaming DataSource reads its path from options("path"), not
    // from `paths` (that one is the batch entry point)
    org.apache.spark.sql.execution.datasources.DataSource(spark,
      className = if (fmt == "json") "json" else "parquet",
      userSpecifiedSchema = Some(sch),
      partitionColumns = parts,
      options = parameters + ("path" -> s"$root/data")).createSource(metadataPath)
  }

  /** Catalog DDL path (`CREATE TABLE t USING `graft-bundle` LOCATION dir`):
    * the session catalog resolves tables through the V1 RelationProvider
    * interface only, so this returns a relation whose SCANS delegate to the
    * full V2 connector read (routing→shard inference, partition pruning,
    * vectorized formats — the inner DataFrame is the same one
    * `spark.read.format("graft-bundle")` builds) and whose INSERTS go
    * through [[graft.sink.BundleSink.insertInto]]. Returning a raw
    * HadoopFsRelation here (as before round 7) made `INSERT INTO` a silent
    * corruption path: Spark's file-insert command appended files directly,
    * honoring a caller-supplied `_shard` and never touching the manifest. */
  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
                              parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-bundle requires a path"))
    new BundleCatalogRelation(root, sqlContext.sparkSession)
  }
}

/** V1 relation for catalog-registered bundles: scan = the V2 connector
  * DataFrame (filters re-expressed as Columns so routing/partition pruning
  * still fire inside the V2 scan; Spark re-checks every filter above, so
  * untranslated ones only cost pushdown, never correctness), insert = the
  * bundle contract. */
private[sources] class BundleCatalogRelation(root: String,
                                             spark: SparkSession)
  extends org.apache.spark.sql.sources.BaseRelation
  with org.apache.spark.sql.sources.PrunedFilteredScan
  with org.apache.spark.sql.sources.InsertableRelation {
  import org.apache.spark.sql.{functions => F, sources => S}

  override def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
  private def df: org.apache.spark.sql.DataFrame =
    spark.read.format("graft-bundle").load(root)
  override val schema: StructType = df.schema

  private def toColumn(f: S.Filter): Option[org.apache.spark.sql.Column] = f match {
    case S.EqualTo(a, v)            => Some(F.col(a) === F.lit(v))
    case S.EqualNullSafe(a, v)      => Some(F.col(a) <=> F.lit(v))
    case S.GreaterThan(a, v)        => Some(F.col(a) > F.lit(v))
    case S.GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
    case S.LessThan(a, v)           => Some(F.col(a) < F.lit(v))
    case S.LessThanOrEqual(a, v)    => Some(F.col(a) <= F.lit(v))
    case S.In(a, vs)                => Some(F.col(a).isin(vs.toIndexedSeq: _*))
    case S.IsNull(a)                => Some(F.col(a).isNull)
    case S.IsNotNull(a)             => Some(F.col(a).isNotNull)
    case S.StringStartsWith(a, v)   => Some(F.col(a).startsWith(v))
    case S.StringEndsWith(a, v)     => Some(F.col(a).endsWith(v))
    case S.StringContains(a, v)     => Some(F.col(a).contains(v))
    case S.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case S.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case S.Not(c)                   => toColumn(c).map(!_)
    case _                          => None
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[S.Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = filters.flatMap(toColumn).foldLeft(df)(_.filter(_))
    val pruned =
      if (requiredColumns.isEmpty) filtered
      else filtered.select(requiredColumns.map(F.col).toIndexedSeq: _*)
    pruned.rdd
  }

  override def insert(data: org.apache.spark.sql.DataFrame,
                      overwrite: Boolean): Unit =
    graft.sink.BundleSink.insertInto(data, root, overwrite)
}

/** Manifest resolution shared by the connector and [[graft.sink.BundleReader]].
  * Multi-index bundles have `manifest_<idx>.json` siblings instead of one
  * `manifest.json`; all indices of one writeMulti share a shard count, so any
  * manifest answers for the whole bundle. */
object BundleManifest {
  private def read(spark: SparkSession, bundleDir: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(bundleDir), spark.sparkContext.hadoopConfiguration)
    // an append CAS chain ([[graft.sink.BundleSink.insertInto]] concurrency)
    // outranks the manifest.json mirror: the chain is append-only and
    // atomically claimed, the mirror can lag a racing append by a beat
    graft.sink.BundleSink.currentManifest(fs,
      graft.sink.BundleSink.IndexFiles.single(bundleDir)).getOrElse {
      val p = fs.listStatus(new org.apache.hadoop.fs.Path(bundleDir))
        .map(_.getPath).find(_.getName.matches("manifest_.*\\.json"))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no manifest.json (or manifest_*.json) in $bundleDir"))
      graft.sink.BundleSink.readFile(fs, p).get
    }
  }

  /** Raw manifest content (chain-aware, like every accessor here). */
  private[graft] def raw(spark: SparkSession, bundleDir: String): String =
    read(spark, bundleDir)

  // ---- content-level accessors: one Jackson parse, no field regexes ----
  // (regex field-plucking broke on pretty-printed or externally produced
  // manifests — `"numShards": 3` with a space never matched; a real JSON
  // parse is layout-agnostic and fails loudly on malformed content)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[graft] def jsonNode(manifest: String)
      : com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(manifest)

  // ---- the one manifest writer ----
  import com.fasterxml.jackson.databind.node.ObjectNode

  /** What a completed manifest records beyond the job record: the codec,
    * per-shard counts, the alias contract ([[aliasContract]]) and, for
    * manifests published through a CAS chain or by a seal, a version. */
  private[graft] case class Completed(codec: String, shardCounts: Map[Int, Long],
                                      aliasContract: ObjectNode,
                                      version: Option[Int])

  /** Manifest content for every writer: job-record parity with the
    * reference's ZK node payload ({numberShards, hdfsWorkDir, indexName,
    * typeName, state}, `ServerNotifier.scala:21-34`) plus the data format;
    * a completed bundle adds [[Completed]], a streaming bundle before its
    * seal has none. Jackson writes every field, so names and paths holding
    * quotes or backslashes round-trip through the accessors below. */
  private[graft] def render(indexName: String, typeName: String, workDir: String,
                            numShards: Int, format: String,
                            completed: Option[Completed]): String = {
    val m = mapper.createObjectNode().put("indexName", indexName)
      .put("typeName", typeName).put("workDir", workDir)
      .put("numShards", numShards).put("format", format)
    completed match {
      case Some(c) =>
        m.put("compression", c.codec).put("totalDocs", c.shardCounts.values.sum)
        val counts = m.putObject("shardCounts")
        c.shardCounts.toSeq.sorted.foreach { case (k, v) => counts.put(k.toString, v) }
        m.setAll[ObjectNode](c.aliasContract)
        c.version.foreach(v => m.put("version", v))
        m.put("state", "completed")
      case None => m.put("state", "streaming")
    }
    mapper.writeValueAsString(m)
  }

  /** `alias` + `finalSettings` (reference alias swap `ESClient.java:154-170`
    * + health-gated final settings `NodeService.java:129-152`, applied by
    * the downstream loader), settings in key order. */
  private[graft] def aliasContract(alias: Option[String],
                                   finalSettings: Map[String, String]): ObjectNode = {
    val c = mapper.createObjectNode()
    alias.fold(c.putNull("alias"))(c.put("alias", _))
    val s = c.putObject("finalSettings")
    finalSettings.toSeq.sorted.foreach { case (k, v) => s.put(k, v) }
    c
  }

  /** The alias contract of an existing manifest, carried forward across
    * appends (an append must not strip it); the empty contract when there
    * is none or the manifest does not parse. */
  private[graft] def aliasContractOf(manifest: Option[String]): ObjectNode =
    manifest.flatMap { m =>
      scala.util.Try(jsonNode(m)).toOption
        .filter(n => n.has("alias") && n.has("finalSettings"))
        .map { n =>
          val c = mapper.createObjectNode()
          c.set[ObjectNode]("alias", n.get("alias"))
          c.set[ObjectNode]("finalSettings", n.get("finalSettings"))
        }
    }.getOrElse(aliasContract(None, Map.empty))

  private[graft] def numShardsOf(manifest: String): Option[Int] = {
    val n = jsonNode(manifest).path("numShards")
    if (n.isNumber) Some(n.asInt) else None
  }

  private[graft] def formatOf(manifest: String): String = {
    val n = jsonNode(manifest).path("format")
    if (n.isTextual) n.asText else "json"
  }

  private[graft] def compressionOf(manifest: String): Option[String] = {
    val n = jsonNode(manifest).path("compression")
    if (n.isTextual) Some(n.asText) else None
  }

  private[graft] def indexNameOf(manifest: String): String = {
    val n = jsonNode(manifest).path("indexName")
    if (n.isTextual) n.asText else ""
  }

  private[graft] def typeNameOf(manifest: String): String = {
    val n = jsonNode(manifest).path("typeName")
    if (n.isTextual) n.asText else "doc"
  }

  private[graft] def versionOf(manifest: String): Int = {
    val n = jsonNode(manifest).path("version")
    if (n.isNumber) n.asInt else 0
  }

  private[graft] def totalDocsOf(manifest: String): Option[Long] = {
    val n = jsonNode(manifest).path("totalDocs")
    if (n.isNumber) Some(n.asLong) else None
  }

  /** `"shardCounts":{…}` parsed out of a manifest content string. */
  private[graft] def parseShardCounts(manifest: String): Map[Int, Long] = {
    val n = jsonNode(manifest).path("shardCounts")
    if (!n.isObject) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      n.properties().asScala
        .map(e => e.getKey.toInt -> e.getValue.asLong()).toMap
    }
  }

  def numShards(spark: SparkSession, bundleDir: String): Int =
    numShardsIn(read(spark, bundleDir), bundleDir)

  /** The shard count of `bundleDir`'s manifest content; a manifest without
    * one is an error. */
  private[graft] def numShardsIn(manifest: String, bundleDir: String): Int =
    numShardsOf(manifest).getOrElse(
      throw new IllegalStateException(s"no numShards in $bundleDir manifest"))

  /** Bundle data format as recorded by the writer ("json" when absent —
    * bundles predating the manifest field). */
  def format(spark: SparkSession, bundleDir: String): String =
    formatOf(read(spark, bundleDir))

  /** Writer-recorded codec (absent on streaming-state manifests). */
  def compression(spark: SparkSession, bundleDir: String): Option[String] =
    compressionOf(read(spark, bundleDir))

  def indexName(spark: SparkSession, bundleDir: String): String =
    indexNameOf(read(spark, bundleDir))

  def typeName(spark: SparkSession, bundleDir: String): String =
    typeNameOf(read(spark, bundleDir))

  /** Per-shard doc counts from the manifest; None when the manifest has no
    * counts yet (streaming-state bundle before seal). */
  def shardCounts(spark: SparkSession, bundleDir: String): Option[Map[Int, Long]] =
    shardCountsOf(read(spark, bundleDir))

  private[graft] def shardCountsOf(manifest: String): Option[Map[Int, Long]] =
    if (jsonNode(manifest).path("shardCounts").isObject) Some(parseShardCounts(manifest))
    else None
}

/**
 * Table over a bundle's `data/` directory. Deliberately NOT a [[FileTable]]
 * subclass (though it composes one): the analyzer's `FallBackFileSourceV2`
 * rule rewrites `INSERT INTO` on ANY `FileTable` into a direct
 * `InsertIntoHadoopFsRelationCommand` — files landed in the data dir with
 * caller-chosen `_shard` values and a stale manifest. As a plain
 * `SupportsRead`/`SupportsWrite` table the insert stays on the V2 path and
 * reaches [[newWriteBuilder]]'s V1 fallback, which enforces the bundle
 * contract. Scan building still uses Spark's own parquet/json file scans
 * (over the [[BundleShardIndex]]) wrapped with [[RoutingShardPushdown]] so
 * the `_routing -> _shard` implication lands in the scan's partition
 * filters.
 */
case class BundleTable(name: String, sparkSession: SparkSession,
                       options: CaseInsensitiveStringMap, paths: Seq[String],
                       declaredSchema: Option[StructType],
                       bundleFormat: String, bundleNumShards: Int)
  extends Table
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private def isParquet: Boolean = bundleFormat != "json"

  private def userSpecifiedSchema: Option[StructType] =
    BundleTable.effectiveSchema(declaredSchema, bundleFormat)

  /** Partitions from the shard directories; each kept partition's files
    * listed when a scan is planned. */
  private lazy val shardIndex = new BundleShardIndex(sparkSession,
    new org.apache.hadoop.fs.Path(paths.head), options.asCaseSensitiveMap().asScala.toMap,
    userSpecifiedSchema)

  /** Owns schema reconciliation and the format's scan, over the shard
    * index; a field so one table instance lists each directory once. */
  private lazy val delegate: FileTable =
    if (isParquet) new ParquetTable(name, sparkSession, options, paths,
      userSpecifiedSchema, classOf[ParquetFileFormat]) {
      override lazy val fileIndex: PartitioningAwareFileIndex = shardIndex
    }
    else new JsonTable(name, sparkSession, options, paths,
      userSpecifiedSchema, classOf[JsonFileFormat]) {
      override lazy val fileIndex: PartitioningAwareFileIndex = shardIndex
    }

  override def schema(): StructType = delegate.schema

  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    delegate.partitioning()

  override def properties(): java.util.Map[String, String] =
    options.asCaseSensitiveMap()

  private def mergedOptions(opts: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    m.putAll(opts.asCaseSensitiveMap())
    new CaseInsensitiveStringMap(m)
  }

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = mergedOptions(opts)
    val n = bundleNumShards
    if (isParquet)
      new ParquetScanBuilder(sparkSession, delegate.fileIndex, delegate.schema,
        delegate.dataSchema, merged)
        with RoutingShardPushdown { val routingNumShards: Int = n }
    else
      new JsonScanBuilder(sparkSession, delegate.fileIndex, delegate.schema,
        delegate.dataSchema, merged)
        with RoutingShardPushdown { val routingNumShards: Int = n }
  }

  // Direct FILE writes would land unsharded rows in the data dir, bypassing
  // placement (_shard derivation), the commit-protocol state blob and the
  // manifest — so the write path is a V1 fallback that hands the WHOLE
  // DataFrame to [[graft.sink.BundleSink.insertInto]]: placement recomputed
  // from _routing (a caller-supplied _shard is ignored), append staged +
  // renamed with manifest/state refreshed from carried counts, overwrite =
  // a full BundleSink.write under the bundle commit protocol. The table's
  // layout (shard count, format, codec) always comes from manifest.json,
  // never from write options.
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val root = options.get("path")
    if (root == null || root.isEmpty)
      throw new UnsupportedOperationException(
        "graft-bundle writes address one bundle directory (path option); " +
          "create bundles with graft.sink.BundleSink / graft.Main")
    if (options.containsKey("alias") && !options.get("alias").isEmpty)
      throw new UnsupportedOperationException(
        "the alias option is a READ indirection (path = install root); " +
          "writes address the bundle directory itself")
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  legacyOverwrite: Boolean): Unit =
                graft.sink.BundleSink.insertInto(data, root,
                  overwrite || legacyOverwrite)
            }
        }
    }
  }

  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    // BATCH_WRITE is required by DataFrameWriter.save's V2-path gate;
    // V1_BATCH_WRITE is what the planner actually dispatches on (the
    // builder yields a V1Write -> AppendDataExecV1 -> insertInto)
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ,
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_WRITE,
      org.apache.spark.sql.connector.catalog.TableCapability.V1_BATCH_WRITE,
      org.apache.spark.sql.connector.catalog.TableCapability.TRUNCATE)
}

object BundleTable {
  /** The table over bundle `root` (one index of it when `scopedIdx` is
    * set): format and shard count from ONE manifest read, a parquet data
    * schema from one footer read on the driver, no file listing. */
  private[sources] def at(spark: SparkSession, root: String, scopedIdx: Option[String],
                          options: CaseInsensitiveStringMap,
                          schema: Option[StructType]): BundleTable = {
    val manifest = BundleManifest.raw(spark, root)
    val fmt = BundleManifest.formatOf(manifest)
    val shards = BundleManifest.numShardsIn(manifest, root)
    val (paths, opts) = scopedIdx match {
      case Some(idx) =>
        val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
        m.put("basePath", s"$root/data")
        (Seq(s"$root/data/_index=$idx"), new CaseInsensitiveStringMap(m))
      case None => (Seq(s"$root/data"), options)
    }
    // a parquet bundle's data schema comes off one footer on the driver
    // (the engine wrote it): no inference job before a routed lookup
    val declared = schema.orElse(
      if (fmt == "json") None
      else EngineParquet.schema(spark, paths.head,
        opts.asCaseSensitiveMap().asScala.toMap))
    BundleTable(s"graft-bundle $root", spark, opts, paths, declared, fmt, shards)
  }

  /** json bundle data files have a fixed layout — skip a full-data inference
    * scan (at 100 TB that pass would dwarf most queries); parquet schemas
    * arrive declared from the connector's driver-side footer read, and are
    * inferred here only under that read's fallbacks. */
  private[sources] def effectiveSchema(declared: Option[StructType],
                                       bundleFormat: String): Option[StructType] =
    declared.orElse(
      if (bundleFormat == "json") Some(graft.streaming.BundleStream.bundleSchema)
      else None)
}

/**
 * Mixin for Spark's V2 file scan builders: rewrites routing point/set
 * lookups into `_shard` partition filters before the builder splits pushed
 * filters, so partition pruning (directory-level skipping) is native to the
 * source. The routing conjunct itself stays a data filter — rows inside the
 * matching shard are still filtered exactly.
 */
trait RoutingShardPushdown extends FileScanBuilder {
  def routingNumShards: Int

  private def shardAttr = AttributeReference("_shard", IntegerType)()

  private def shardFilterFor(shards: scala.Seq[Int]): Option[Expression] =
    shards.distinct.sorted match {
      case scala.Seq() => None
      case scala.Seq(one) => Some(EqualTo(shardAttr, Literal(one)))
      case many => Some(In(shardAttr, many.map(Literal(_)).toList))
    }

  private def implied(filters: Seq[Expression]): Seq[Expression] =
    filters.flatMap {
      case EqualTo(a: AttributeReference, Literal(s: UTF8String, StringType))
        if a.name == "_routing" =>
        shardFilterFor(scala.Seq(EsMurmur3.shard(s.toString, routingNumShards)))
      case EqualTo(Literal(s: UTF8String, StringType), a: AttributeReference)
        if a.name == "_routing" =>
        shardFilterFor(scala.Seq(EsMurmur3.shard(s.toString, routingNumShards)))
      case In(a: AttributeReference, vs) if a.name == "_routing" &&
        vs.forall { case Literal(_: UTF8String, StringType) => true; case _ => false } =>
        shardFilterFor(vs.map { case Literal(s: UTF8String, _) =>
          EsMurmur3.shard(s.toString, routingNumShards) })
      // OptimizeIn converts long literal lists to InSet before pushdown
      case InSet(a: AttributeReference, vs) if a.name == "_routing" &&
        vs.forall(_.isInstanceOf[UTF8String]) =>
        shardFilterFor(vs.toSeq.map(v =>
          EsMurmur3.shard(v.asInstanceOf[UTF8String].toString, routingNumShards)))
      case _ => scala.Seq.empty
    }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    super.pushFilters(filters ++ implied(filters))
}
