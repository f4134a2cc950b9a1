package graft

import graft.functions.EsMurmur3
import graft.sink.{BundleInstall, BundleSink}
import graft.sources.{BundleDataSource, BundleShardIndex}
import graft.streaming.BundleStream
import graft.transform.DocTransform
import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The connector's batch read lists at the shard directories
 * ([[BundleShardIndex]]): planning a routed lookup lists the routed shard
 * directory only, one `load` builds one table, and every read equals the
 * one Spark's own `InMemoryFileIndex` gives over the same directories —
 * schema (partition column types included) and rows.
 */
class BundleShardIndexSpec extends SparkSpec {

  private def fs(dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  private def orders = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))

  private def bundle(tag: String, format: String = "parquet", numShards: Int = 5,
                     docs: => DataFrame = orders): String = {
    val out = Files.createTempDirectory(s"graft-shidx-$tag").toString
    BundleSink.write(docs, s"$out/b", numShards = numShards, partitionMultiples = 2,
      format = format, indexName = "b")
    s"$out/b"
  }

  /** A parquet bundle of orders installed under the alias `live`:
    * (bundle dir, install root). */
  private def installedBundle(tag: String, numShards: Int): (String, String) = {
    val incoming = Files.createTempDirectory(s"graft-shidx-$tag-in").toString
    BundleSink.write(orders, s"$incoming/b", numShards = numShards, partitionMultiples = 2,
      format = "parquet", indexName = "b", alias = Some("live"))
    val install = Files.createTempDirectory(s"graft-shidx-$tag-out").toString
    BundleInstall.installOnce(spark, incoming, install)
    (s"$install/b", install)
  }

  /** A multi-index bundle of orders split by `idx`, installed under
    * `install`; the index named `aliased` gets the alias `live`. */
  private def multiBundle(tag: String, idx: org.apache.spark.sql.Column,
                          aliased: String): (String, String) = {
    val incoming = Files.createTempDirectory(s"graft-shidx-$tag-in").toString
    val install = Files.createTempDirectory(s"graft-shidx-$tag-out").toString
    val src = DocTransform.docs(sf("sf0.001", "orders").withColumn("idx", idx),
      "o_orderkey", Some("o_custkey"), keepCols = Seq("idx"))
    BundleSink.writeMulti(src, s"$incoming/m", "idx", numShards = 3,
      partitionMultiples = 2, format = "parquet",
      aliasFor = i => if (i == aliased) Some("live") else None)
    BundleInstall.installOnce(spark, incoming, install)
    (s"$install/m", install)
  }

  private def load(dir: String): DataFrame = spark.read.format("graft-bundle").load(dir)

  private def viaAlias(install: String): DataFrame =
    spark.read.format("graft-bundle").option("alias", "live").load(install)

  /** The connector's file index in the executed plan of `df`. */
  private def scanIndex(df: DataFrame): BundleShardIndex =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b.scan }
      .collect { case f: FileScan => f.fileIndex }
      .collect { case i: BundleShardIndex => i }
      .getOrElse(fail(s"no bundle shard index in:\n${df.queryExecution.executedPlan}"))

  /** The same directories read the way the connector read them before:
    * Spark's V2 file table over an `InMemoryFileIndex`. */
  private def inMemory(format: String, path: String,
                       options: Map[String, String] = Map.empty): DataFrame = {
    val key = "spark.sql.sources.useV1SourceList"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "")
    try {
      val r = spark.read.options(options)
      if (format == "json") r.schema(BundleStream.bundleSchema).json(path) else r.parquet(path)
    } finally old match {
      case Some(o) => spark.conf.set(key, o)
      case None => spark.conf.unset(key)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private val keys = Seq("42", "7", "1001", "13")

  private def assertSameRead(got: DataFrame, want: DataFrame, label: String): Unit = {
    assert(got.schema === want.schema, s"$label: schema")
    assert(rows(got) === rows(want), s"$label: rows")
    keys.foreach { k =>
      assert(rows(got.filter(col("_routing") === k)) === rows(want.filter(col("_routing") === k)),
        s"$label: lookup $k")
    }
  }

  test("listing law: planning a routed lookup lists its one shard directory, " +
      "directly and through an alias") {
    val (dir, install) = installedBundle("list", numShards = 5)
    keys.foreach { k =>
      val shard = s"_shard=${EsMurmur3.shard(k, 5)}"
      val direct = load(dir).filter(col("_routing") === k)
      assert(scanIndex(direct).listedDirs === Seq(shard), s"direct lookup $k")
      val aliased = viaAlias(install).filter(col("_routing") === k)
      assert(scanIndex(aliased).listedDirs === Seq(shard), s"alias lookup $k")
      // running the lookup lists nothing more
      assert(direct.count() ===
        spark.read.parquet(s"$dir/data").filter(col("_routing") === k).count())
      assert(scanIndex(direct).listedDirs === Seq(shard))
    }
    // a full scan lists every shard directory
    val full = load(dir)
    assert(full.count() === 1500L)
    assert(scanIndex(full).listedDirs === (0 until 5).map(s => s"_shard=$s"))

    // multi-index alias: the scoped index's routed shard only
    val (_, multiInstall) = multiBundle("list-multi",
      concat(lit("t_"), col("o_orderstatus")), aliased = "t_O")
    val k = "42"
    val q = viaAlias(multiInstall).filter(col("_routing") === k)
    assert(scanIndex(q).listedDirs === Seq(s"_index=t_O/_shard=${EsMurmur3.shard(k, 3)}"))
    assert(q.count() > 0)
  }

  test("one-table law: Spark creates one provider per load, and one load builds one table") {
    val (dir, install) = installedBundle("one", numShards = 3)
    // the connector loaded by class name: Spark instantiates exactly the
    // providers it asks for tables (the short-name lookup also instantiates
    // every registered source, the connector included, to read its name)
    val counting = classOf[CountingBundleDataSource].getName
    def built(body: => Any): (Long, Long) = {
      val (p0, t0) = (CountingBundleDataSource.created.get, CountingBundleDataSource.tables.get)
      body
      (CountingBundleDataSource.created.get - p0, CountingBundleDataSource.tables.get - t0)
    }
    assert(built(spark.read.format(counting).load(dir)) === ((1L, 1L)))
    assert(built(spark.read.format(counting).option("alias", "live").load(install)) ===
      ((1L, 1L)))
    assert(built { spark.read.format(counting).load(dir); spark.read.format(counting).load(dir) }
      === ((2L, 2L)))
    // a caller-declared schema skips inferSchema: getTable builds the one table
    val schema = load(dir).schema
    assert(built(spark.read.format(counting).schema(schema).load(dir)) === ((1L, 1L)))
    // planning and running a lookup build no further table
    val df = spark.read.format(counting).load(dir)
    assert(built(df.filter(col("_routing") === "42").collect()) === ((0L, 0L)))
  }

  test("equal to the InMemoryFileIndex read: single-index parquet and JSON bundles, " +
      "CAS appends, an append between load and collect, pathGlobFilter") {
    val pq = bundle("eq-pq")
    assertSameRead(load(pq), inMemory("parquet", s"$pq/data"), "parquet")
    val json = bundle("eq-json", format = "json")
    assertSameRead(load(json), inMemory("json", s"$json/data"), "json")

    // two appends through the manifest CAS chain
    def append(dir: String, n: Int): Unit =
      BundleSink.insertInto(DocTransform.docs(
        sf("sf0.001", "customer").filter(col("c_custkey") % 3 === n), "c_custkey",
        Some("c_custkey")), dir, overwrite = false)
    append(pq, 0)
    append(pq, 1)
    assert(fs(pq).exists(new Path(s"$pq/.manifest-cas")))
    assertSameRead(load(pq), inMemory("parquet", s"$pq/data"), "appended")

    // an append committed between load and collect is read: the files are
    // listed when the scan is planned
    val loaded = load(pq)
    val before = loaded.count()
    val late = load(pq)
    append(pq, 2)
    assertSameRead(late, inMemory("parquet", s"$pq/data"), "append after load")
    assert(late.count() > before)
    // a load is one snapshot per shard: the first plan's listing stays
    assert(loaded.count() === before)

    // pathGlobFilter selects files inside the shard directories
    val glob = Map("pathGlobFilter" -> "i*")
    val globbed = spark.read.format("graft-bundle").options(glob).load(pq)
    assertSameRead(globbed, inMemory("parquet", s"$pq/data", glob), "pathGlobFilter")
    assert(globbed.count() > 0 && globbed.count() < late.count())
  }

  test("equal to the InMemoryFileIndex read: multi-index bundles direct and alias-scoped, " +
      "numeric-looking index names") {
    val (root, install) = multiBundle("eq-multi",
      concat(lit("t_"), col("o_orderstatus")), aliased = "t_O")
    assertSameRead(load(root), inMemory("parquet", s"$root/data"), "multi direct")
    assertSameRead(viaAlias(install),
      inMemory("parquet", s"$root/data/_index=t_O", Map("basePath" -> s"$root/data")),
      "multi alias")

    // numeric-looking names: inference types _index as an int column
    val (nroot, ninstall) = multiBundle("eq-numeric",
      (col("o_orderkey") % 3 + 7).cast("string"), aliased = "8")
    val direct = load(nroot)
    assert(direct.schema("_index").dataType === IntegerType)
    assertSameRead(direct, inMemory("parquet", s"$nroot/data"), "numeric direct")
    val scoped = viaAlias(ninstall)
    assert(scoped.schema("_index").dataType === IntegerType)
    assertSameRead(scoped,
      inMemory("parquet", s"$nroot/data/_index=8", Map("basePath" -> s"$nroot/data")),
      "numeric alias")
    assert(scoped.select("_index").distinct().collect().map(_.getInt(0)).toSeq === Seq(8))
  }

  test("equal to the InMemoryFileIndex read: a shard with no directory; hidden, " +
      "_SUCCESS, ._COPYING_ and zero-byte files") {
    // 8 shards over 3 routing keys: most shards have no directory
    val three = orders.select("_routing").distinct().orderBy("_routing").limit(3)
      .collect().map(_.getString(0)).toSeq
    val few = orders.filter(col("_routing").isin(three: _*))
    val dir = bundle("eq-sparse", numShards = 8, docs = few)
    val present = fs(dir).listStatus(new Path(s"$dir/data")).map(_.getPath.getName).toSet
    val missing = (0 until 8).map(s => s"_shard=$s").filterNot(present)
    assert(missing.nonEmpty)
    assertSameRead(load(dir), inMemory("parquet", s"$dir/data"), "missing shards")
    val absentKey = (0 until 10000).map(_.toString)
      .find(k => missing.contains(s"_shard=${EsMurmur3.shard(k, 8)}")).get
    assert(load(dir).filter(col("_routing") === absentKey).count() === 0)

    // files Spark's listing skips, beside real data
    val shardDir = new Path(s"$dir/data/${present.filter(_.startsWith("_shard=")).min}")
    val part = fs(dir).listStatus(shardDir).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    val f = fs(dir)
    org.apache.hadoop.fs.FileUtil.copy(f, part, f, new Path(shardDir, ".hidden.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(f, part, f, new Path(shardDir, "part-x.parquet._COPYING_"),
      false, spark.sparkContext.hadoopConfiguration)
    f.create(new Path(shardDir, "_SUCCESS")).close()
    f.create(new Path(shardDir, "part-empty.parquet")).close()
    // a shard directory holding no data file at all
    f.mkdirs(new Path(s"$dir/data/${missing.head}"))
    f.create(new Path(s"$dir/data/${missing.head}/_SUCCESS")).close()
    assertSameRead(load(dir), inMemory("parquet", s"$dir/data"), "skipped files")
    assert(load(dir).count() === few.count())
  }

  test("pruning: the index evaluates EqualTo, In and InSet partition filters") {
    val dir = bundle("prune")
    val index = new BundleShardIndex(spark, new Path(s"$dir/data"), Map.empty, None)
    val shard = AttributeReference("_shard", IntegerType)()
    def kept(filters: Expression*): Seq[Int] =
      index.prunePartitions(filters).map(_.values.getInt(0)).sorted
    assert(kept() === (0 until 5))
    assert(kept(EqualTo(shard, Literal(3))) === Seq(3))
    assert(kept(In(shard, Seq(Literal(1), Literal(4), Literal(9)))) === Seq(1, 4))
    assert(kept(InSet(shard, Set[Any](0, 2))) === Seq(0, 2))
    assert(kept(EqualTo(shard, Literal(1)), In(shard, Seq(Literal(1), Literal(2)))) === Seq(1))
    // a filter on a data column leaves the partitions alone
    assert(kept(EqualTo(AttributeReference("_routing", StringType)(), Literal("42"))) ===
      (0 until 5))
    assert(index.listedDirs.isEmpty, "pruning lists no files")

    val (root, _) = multiBundle("prune-multi",
      concat(lit("t_"), col("o_orderstatus")), aliased = "t_O")
    val multi = new BundleShardIndex(spark, new Path(s"$root/data"), Map.empty, None)
    val idx = AttributeReference("_index", StringType)()
    val sh = AttributeReference("_shard", IntegerType)()
    val picked = multi.prunePartitions(Seq(
      InSet(idx, Set[Any](UTF8String.fromString("t_O"), UTF8String.fromString("t_F"))),
      In(sh, Seq(Literal(0), Literal(2)))))
      .map(p => (p.values.getUTF8String(0).toString, p.values.getInt(1))).sorted
    assert(picked === Seq(("t_F", 0), ("t_F", 2), ("t_O", 0), ("t_O", 2)))
  }
}

/** The connector, counting its instances and the tables they build: a
  * table `getTable` builds anew has its own schema instance, the one
  * `inferSchema` built hands back the instance that call returned. */
class CountingBundleDataSource extends BundleDataSource {
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.util.CaseInsensitiveStringMap
  CountingBundleDataSource.created.incrementAndGet()
  private var inferred: Option[StructType] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    CountingBundleDataSource.tables.incrementAndGet()
    val schema = super.inferSchema(options)
    inferred = Some(schema)
    schema
  }

  override def getTable(schema: StructType,
                        partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
                        properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    val table = super.getTable(schema, partitioning, properties)
    if (!inferred.exists(_ eq table.schema())) CountingBundleDataSource.tables.incrementAndGet()
    table
  }
}

object CountingBundleDataSource {
  val created = new java.util.concurrent.atomic.AtomicLong
  val tables = new java.util.concurrent.atomic.AtomicLong
}
