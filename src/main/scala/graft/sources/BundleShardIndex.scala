package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, DateTimeUtils}
import org.apache.spark.sql.execution.datasources.{GraftPartitionBridge, PartitionDirectory, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import scala.collection.immutable.Seq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * File index over a bundle's shard directories: the listing half of the
 * routed read. ES serves `?routing=k` from one shard without touching the
 * others (`ESClient.java:154-170`); Spark's `InMemoryFileIndex` lists every
 * file of every shard before partition pruning can drop any. Here the
 * partitions come from DIRECTORY listings only — `root/_shard=k`, or
 * `root/_index=i/_shard=k` for a multi-index bundle (`root` may itself be
 * one `_index=i` directory, with `basePath` naming `data/`) — typed by
 * Spark's own partition parsing, so `_index` values that look numeric
 * type exactly as inference types them. The data files of a shard are
 * listed inside [[listFiles]], only for the partitions the scan's filters
 * keep, once per index: planning a routed lookup lists one shard
 * directory; a full scan lists each of them once. `leafFiles`, `allFiles`,
 * `inputFiles` and `sizeInBytes` (the parquet inference fallback, table
 * statistics) list every partition on first use.
 *
 * Shard directories are taken when the partition spec is first asked for
 * (the table schema, at `load`); their files when the scan is planned, so
 * an append committed in between is read. Files follow Spark's listing
 * filter: hidden, `_`-prefixed (`_SUCCESS`), `._COPYING_` and zero-byte
 * files are not data, and `pathGlobFilter`/modified-time options apply.
 */
class BundleShardIndex(spark: SparkSession, path: Path,
                       parameters: Map[String, String],
                       userSpecifiedSchema: Option[StructType])
  extends PartitioningAwareFileIndex(spark, parameters, userSpecifiedSchema) {

  private val fs = path.getFileSystem(hadoopConf)

  override val rootPaths: Seq[Path] = Seq(fs.makeQualified(path))

  /** Partition columns stop at `basePath` (`data/` for an alias scoped to
    * one index), as in every file source. */
  private val basePath: Path = CaseInsensitiveMap(parameters).get("basePath")
    .map(p => fs.makeQualified(new Path(p))).getOrElse(rootPaths.head)

  @volatile private var spec: PartitionSpec = _
  private val listed = new ConcurrentHashMap[Path, Array[FileStatus]]()

  private def listing(dir: Path): Array[FileStatus] =
    try fs.listStatus(dir).filter(EngineParquet.visible)
    catch { case _: java.io.FileNotFoundException => Array.empty }

  /** `_shard=k` directories under `dir`, descending through `_index=i`. */
  private def shardDirs(dir: Path): Seq[Path] = {
    val dirs = listing(dir).filter(_.isDirectory).map(_.getPath).sortBy(_.getName).toSeq
    dirs.filter(_.getName.startsWith("_shard=")) ++
      dirs.filter(_.getName.startsWith("_index=")).flatMap(shardDirs)
  }

  override def partitionSpec(): PartitionSpec = {
    if (spec == null) synchronized {
      if (spec == null) {
        val conf = SQLConf.get
        spec = GraftPartitionBridge.parsePartitions(shardDirs(rootPaths.head),
          typeInference = conf.partitionColumnTypeInferenceEnabled,
          basePaths = Set(basePath),
          userSpecifiedSchema = userSpecifiedSchema,
          caseSensitive = conf.caseSensitiveAnalysis,
          validatePartitionColumns = conf.validatePartitionColumns,
          timeZoneId = CaseInsensitiveMap(parameters).get(DateTimeUtils.TIMEZONE_OPTION)
            .getOrElse(conf.sessionLocalTimeZone),
          ignoreInvalidPartitionPaths = ignoreInvalidPartitionPaths)
      }
    }
    spec
  }

  /** The data files directly inside one partition directory; listed once
    * per index (a vanished directory has none). */
  private def filesIn(dir: Path): Array[FileStatus] =
    listed.computeIfAbsent(dir, d => listing(d).filter(_.isFile))

  /** The partitions whose values satisfy every filter that references
    * partition columns only — the evaluation Spark's private
    * `PartitioningAwareFileIndex.prunePartitions` performs. */
  private[graft] def prunePartitions(filters: scala.Seq[Expression]): Seq[PartitionPath] = {
    val PartitionSpec(cols, parts) = partitionSpec()
    val names = cols.map(_.name).toSet
    filters.filter(_.references.map(_.name).toSet.subsetOf(names))
      .reduceOption(And) match {
      case None => parts
      case Some(p) =>
        val bound = Predicate.createInterpreted(p.transform {
          case a: AttributeReference =>
            val i = cols.indexWhere(_.name == a.name)
            BoundReference(i, cols(i).dataType, nullable = true)
        })
        parts.filter(pp => bound.eval(pp.values))
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    prunePartitions(partitionFilters).map { case PartitionPath(values, dir) =>
      PartitionDirectory(values,
        filesIn(dir).filter(f => f.getLen > 0 && matchPathPattern(f)))
    }

  /** The partition directories whose files this index has listed, relative
    * to the base path (`_shard=3`, `_index=logs/_shard=3`). */
  def listedDirs: Seq[String] = listed.keySet.asScala.toSeq
    .map(_.toUri.getPath.stripPrefix(basePath.toUri.getPath).stripPrefix("/")).sorted

  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    partitionSpec().partitions.map(p => p.path -> filesIn(p.path)).toMap

  override def leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap.from(
      partitionSpec().partitions.flatMap(p => filesIn(p.path)).map(f => f.getPath -> f))

  override def refresh(): Unit = synchronized {
    spec = null
    listed.clear()
  }

  // one bundle directory is one index, as InMemoryFileIndex equates roots
  override def equals(other: Any): Boolean = other match {
    case o: BundleShardIndex => rootPaths.toSet == o.rootPaths.toSet
    case _ => false
  }

  override def hashCode(): Int = rootPaths.toSet.hashCode()
}
