package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import scala.util.Try

/**
 * Driver-side metadata reads of the parquet this engine writes itself:
 * bundle data files, postings/terms/stats tables. `spark.read.parquet`
 * infers a schema by submitting a Spark job that opens a footer, so every
 * routed lookup and every indexed query used to pay one or more jobs just
 * to re-learn a schema (or a one-row stats record) the engine wrote.
 * Here the driver opens the footer itself, the way ES answers a routed
 * search from segment metadata it already holds open.
 *
 * The schema is the one Spark stored in the footer (the key
 * `ParquetFileFormat.readSchemaFromFooter` prefers), made nullable as every
 * file source makes it — equal to what `spark.read.parquet` infers without
 * schema merging, which also reads one file's footer. Inference still runs
 * when schema merging is on (read option or `spark.sql.parquet.mergeSchema`),
 * when the footer lacks Spark's key (a file written by another tool), and
 * when there is no data file to read.
 */
object EngineParquet {
  /** `ParquetReadSupport.SPARK_METADATA_KEY`. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Spark's file-listing filter (`HadoopFSUtils.shouldFilterOutPathName`,
    * minus the summary files the engine never writes): hidden and
    * underscore names are skipped, except partition directories. */
  private[sources] def visible(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_"))
  }

  /** The visible data files directly inside `dir`, by name. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).filter(st => st.isFile && visible(st))
      .sortBy(_.getPath.getName).toSeq

  /** First data file under `path` (itself when it is a file): depth-first
    * over visible subdirectories in name order, so a bucketed or sharded
    * tree costs one listing per level, never a full-tree walk. */
  private def firstDataFile(fs: FileSystem, path: Path): Option[FileStatus] =
    if (!fs.exists(path)) None
    else {
      val st = fs.getFileStatus(path)
      if (st.isFile) Some(st)
      else {
        val (dirs, files) = fs.listStatus(path).filter(visible).partition(_.isDirectory)
        files.sortBy(_.getPath.getName).headOption.orElse(
          dirs.sortBy(_.getPath.getName).iterator
            .flatMap(d => firstDataFile(fs, d.getPath)).nextOption())
      }
    }

  private def mergeSchema(spark: SparkSession, options: Map[String, String]): Boolean =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("mergeSchema") => v }
      .getOrElse(spark.conf.get("spark.sql.parquet.mergeSchema", "false"))
      .toBoolean

  /** Plain read options: opening with the Hadoop-configured defaults costs
    * ~15 ms per file on a warm JVM, against ~1 ms for these; the engine's
    * files need nothing from the Hadoop configuration (no encryption). */
  private val readOptions = ParquetReadOptions.builder().build()

  private def open(spark: SparkSession, file: FileStatus): ParquetFileReader =
    ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration),
      readOptions)

  private def sparkSchema(reader: ParquetFileReader): Option[StructType] =
    Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      .flatMap(s => Try(DataType.fromJson(s)).toOption)
      .collect { case st: StructType => nullable(st) }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))

  /** Footer schema of the first data file under the first of `paths`
    * that holds one (Spark's inference also reads a single footer). */
  private def footerSchema(spark: SparkSession, paths: Seq[String],
                           options: Map[String, String]): Option[StructType] =
    if (mergeSchema(spark, options)) None
    else {
      val fs = fsOf(spark, paths.head)
      paths.iterator.flatMap(p => firstDataFile(fs, new Path(p))).nextOption()
        .flatMap { f =>
          val r = open(spark, f)
          try sparkSchema(r) finally r.close()
        }
    }

  /** The schema `spark.read.options(options).parquet(path)` would infer for
    * its data columns (partition columns are not in a footer), or None when
    * inference must run: schema merging on, no data file, or no Spark
    * schema in the footer. */
  def schema(spark: SparkSession, path: String,
             options: Map[String, String] = Map.empty): Option[StructType] =
    footerSchema(spark, Seq(path), options)

  /** `spark.read.options(options).parquet(paths: _*)` with the footer schema
    * declared, so planning submits no inference job. `partitionColumns`
    * types the directory keys the listing discovers (left to inference,
    * like everything else, when the footer read falls back). */
  def read(spark: SparkSession, paths: Seq[String],
           options: Map[String, String] = Map.empty,
           partitionColumns: Seq[StructField] = Nil): DataFrame = {
    val reader = spark.read.options(options)
    footerSchema(spark, paths, options)
      .fold(reader)(s => reader.schema(StructType(s.fields ++ partitionColumns)))
      .parquet(paths: _*)
  }

  /** Every row of a small record table (the stats/deletes records: one row,
    * flat primitive columns) in the data files directly inside `dir`, read
    * on the driver; no rows when there is no data file. Falls back to
    * `spark.read.parquet(dir).collect()` when schema merging is on, when a
    * footer lacks Spark's schema, and for column types other than long/
    * int/double/string/boolean. Rows carry the schema, so `getAs(name)`
    * works. */
  def rows(spark: SparkSession, dir: String): Seq[Row] = {
    val files = dataFiles(fsOf(spark, dir), new Path(dir))
    val direct =
      if (mergeSchema(spark, Map.empty)) None
      else {
        val perFile = files.map(f => readRows(spark, f))
        if (perFile.forall(_.isDefined)) Some(perFile.flatMap(_.get)) else None
      }
    direct.getOrElse(spark.read.parquet(dir).collect().toSeq)
  }

  private def readRows(spark: SparkSession, file: FileStatus): Option[Seq[Row]] = {
    val r = open(spark, file)
    try sparkSchema(r).filter(_.fields.forall(f => primitive(f.dataType))).map { st =>
      val parquet = r.getFooter.getFileMetaData.getSchema
      val io = new ColumnIOFactory().getColumnIO(parquet)
      val out = Seq.newBuilder[Row]
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val rec = io.getRecordReader(pages, new GroupRecordConverter(parquet))
        (0L until pages.getRowCount).foreach { _ =>
          val g = rec.read()
          out += new GenericRowWithSchema(st.fields.map { f =>
            if (g.getFieldRepetitionCount(f.name) == 0) null
            else f.dataType match {
              case LongType    => g.getLong(f.name, 0)
              case IntegerType => g.getInteger(f.name, 0)
              case DoubleType  => g.getDouble(f.name, 0)
              case BooleanType => g.getBoolean(f.name, 0)
              case _           => g.getString(f.name, 0)
            }
          }, st)
        }
        pages = r.readNextRowGroup()
      }
      out.result()
    } finally r.close()
  }

  private def primitive(t: DataType): Boolean = t match {
    case LongType | IntegerType | DoubleType | BooleanType | StringType => true
    case _ => false
  }
}
