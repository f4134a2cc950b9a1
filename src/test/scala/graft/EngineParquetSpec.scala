package graft

import graft.ext.Search
import graft.sink.{BundleInstall, BundleSink}
import graft.sources.{BundleTable, EngineParquet}
import graft.transform.DocTransform
import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Driver-side reads of the engine's own parquet ([[EngineParquet]]): the
 * serving paths (routed bundle lookups, indexed queries) submit no Spark
 * job for metadata, and what the driver reads equals what Spark's own
 * inference and reads give — in every postings-index state and every
 * bundle layout — with inference kept for each fallback.
 */
class EngineParquetSpec extends SparkSpec {
  import spark.implicits._

  private def fs(dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  private def exists(p: String): Boolean = fs(p).exists(new Path(p))

  /** Spark jobs submitted while `body` runs, counted by a listener between
    * two sentinel jobs (listener delivery is asynchronous; the sentinels
    * bracket exactly the jobs `body` submitted). */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.sentinel"
    val events = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.put(Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .getOrElse("job"))
    }
    def sentinel(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel("start")
      body
      sentinel("end")
      var seen = Vector.empty[String]
      while (!seen.contains("end")) {
        val e = events.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(e != null, "listener never saw the end sentinel")
        seen :+= e
      }
      seen.dropWhile(_ != "start").drop(1).takeWhile(_ != "end").size
    } finally sc.removeSparkListener(listener)
  }

  private val tb = StructField("tb", IntegerType)

  // ---- the pre-change Spark-read forms, kept here as the oracle ----

  private def sparkRecord(path: String): Row = spark.read.parquet(path).head()

  /** Effective stats as the Spark-read implementation computed them. */
  private def sparkReadStats(dir: String): (Long, Long, Int) = {
    val base = spark.read.parquet(s"$dir/stats")
    val r = base.head()
    val cols = base.schema.fieldNames
    val (fe, fd, ft) =
      if (cols.contains("tomb_epoch"))
        (r.getAs[Long]("tomb_epoch"), r.getAs[Long]("tomb_docs"), r.getAs[Long]("tomb_tokens"))
      else (-1L, 0L, 0L)
    val folded = if (cols.contains("folded_batch")) r.getAs[Long]("folded_batch") else -1L
    val (n0, t0, b) = (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"), r.getAs[Int]("buckets"))
    val (n1, t1) =
      if (!exists(s"$dir/batch_stats")) (n0, t0)
      else {
        val d = spark.read.parquet(s"$dir/batch_stats").where(col("batch") > folded)
          .agg(sum("n_docs"), sum("total_tokens")).head()
        (n0 + (if (d.isNullAt(0)) 0L else d.getLong(0)),
          t0 + (if (d.isNullAt(1)) 0L else d.getLong(1)))
      }
    if (!exists(s"$dir/deletes/stats")) (n1, t1, b)
    else {
      val ds = spark.read.parquet(s"$dir/deletes/stats")
      val dr = ds.head()
      val epoch = if (ds.schema.fieldNames.contains("epoch")) dr.getAs[Long]("epoch") else 0L
      val (dd, dt) = (dr.getAs[Long]("n_docs_removed"), dr.getAs[Long]("tokens_removed"))
      if (epoch == fe) (n1 - (dd - fd), t1 - (dt - ft), b) else (n1 - dd, t1 - dt, b)
    }
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Every driver-side read of one index equals its Spark-read form. */
  private def assertIndexReads(dir: String, state: String): Unit = {
    assert(Search.readStats(spark, dir) === sparkReadStats(dir), s"$state: readStats")
    for (rec <- Seq("stats", "deletes/stats") if exists(s"$dir/$rec")) {
      val got = EngineParquet.rows(spark, s"$dir/$rec")
      val want = spark.read.parquet(s"$dir/$rec")
      assert(got.map(_.toSeq) === want.collect().toSeq.map(_.toSeq), s"$state: $rec rows")
      assert(got.head.schema === want.schema, s"$state: $rec row schema")
    }
    if (exists(s"$dir/batch_stats"))
      fs(dir).listStatus(new Path(s"$dir/batch_stats")).filter(_.isDirectory)
        .foreach { d =>
          val p = d.getPath.toString
          assert(EngineParquet.rows(spark, p).map(_.toSeq) ===
            spark.read.parquet(p).collect().toSeq.map(_.toSeq), s"$state: $p rows")
        }
    for (t <- Seq("terms", "deletes/ids") if exists(s"$dir/$t")) {
      assert(EngineParquet.schema(spark, s"$dir/$t").isDefined, s"$state: $t footer")
      assert(EngineParquet.read(spark, Seq(s"$dir/$t")).schema ===
        spark.read.parquet(s"$dir/$t").schema, s"$state: $t schema")
    }
    assert(sorted(Search.termDictionary(spark, dir)) === sorted(
      spark.read.parquet(s"$dir/terms").groupBy("term").agg(sum(col("df")).as("df"))),
      s"$state: term dictionary")
    val flavor = Search.indexFlavor(spark, dir)
    if (EngineParquet.schema(spark, s"$dir/postings").isEmpty)
      assert(flavor.isEmpty, s"$state: no postings file, no flavor")
    else {
      val inferred = spark.read.parquet(s"$dir/postings").schema
      assert(EngineParquet.read(spark, Seq(s"$dir/postings"),
        partitionColumns = Seq(tb)).schema === inferred, s"$state: postings schema")
      assert(flavor === Some(inferred.fieldNames.contains("positions")), s"$state: flavor")
    }
  }

  private def docs = sf("sf0.001", "documents").select("doc_id", "text")

  private def newIndex(tag: String, positional: Boolean = true,
                       corpus: DataFrame = null): String = {
    val dir = Files.createTempDirectory(s"graft-ep-$tag").toString
    Search.buildPostingsIndex(Option(corpus).getOrElse(docs.filter(col("doc_id") < 300)),
      "doc_id", "text", dir, buckets = 4, positional = positional)
    dir
  }

  test("index reads equal Spark's: fresh, appended, streamed, compacted") {
    val dir = newIndex("life")
    assertIndexReads(dir, "fresh")
    Search.appendToPostingsIndex(docs.filter(col("doc_id") >= 300 && col("doc_id") < 380),
      "doc_id", "text", dir)
    assertIndexReads(dir, "appended")
    graft.streaming.PostingsIndexStream.commitBatch(
      docs.filter(col("doc_id") >= 380 && col("doc_id") < 440), 0L, dir, "doc_id", "text")
    graft.streaming.PostingsIndexStream.commitBatch(
      docs.filter(col("doc_id") >= 440), 1L, dir, "doc_id", "text")
    assert(exists(s"$dir/batch_stats"))
    assertIndexReads(dir, "streamed batch_stats")
    Search.compactPostingsIndex(spark, dir)
    assertIndexReads(dir, "compacted")
    assert(Search.readStats(spark, dir)._1 === docs.count())
  }

  test("index reads equal Spark's: tombstoned, fresh-epoch and epoch-equal branches") {
    val dir = newIndex("tomb")
    Search.deleteFromPostingsIndex(spark, dir, Seq(3L, 38L, 97L).toDF("doc_id"))
    // fresh generation: base folded nothing (tomb_epoch -1), deletes epoch 0
    assert(sparkRecord(s"$dir/deletes/stats").getAs[Long]("epoch") !==
      sparkRecord(s"$dir/stats").getAs[Long]("tomb_epoch"))
    assertIndexReads(dir, "tombstoned, fresh epoch")
    // a compact interrupted before the deletes removal: same epoch on both
    val f = fs(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    org.apache.hadoop.fs.FileUtil.copy(f, new Path(s"$dir/deletes"), f,
      new Path(s"$dir/deletes-snap"), false, conf)
    Search.compactPostingsIndex(spark, dir)
    org.apache.hadoop.fs.FileUtil.copy(f, new Path(s"$dir/deletes-snap"), f,
      new Path(s"$dir/deletes"), true, conf)
    assert(sparkRecord(s"$dir/deletes/stats").getAs[Long]("epoch") ===
      sparkRecord(s"$dir/stats").getAs[Long]("tomb_epoch"))
    assertIndexReads(dir, "tombstoned, epoch-equal")
    Search.deleteFromPostingsIndex(spark, dir, Seq(104L).toDF("doc_id"))
    assertIndexReads(dir, "tombstoned again on the epoch-equal record")
  }

  test("index reads equal Spark's: legacy stats, non-positional, empty corpus") {
    val legacy = newIndex("legacy")
    val (n, t, b) = Search.readBaseStats(spark, legacy)
    Seq((n, t, b)).toDF("n_docs", "total_tokens", "buckets")
      .write.mode("overwrite").parquet(s"$legacy/stats")
    assertIndexReads(legacy, "legacy stats (no tomb_*/folded_batch)")
    Search.deleteFromPostingsIndex(spark, legacy, Seq(5L).toDF("doc_id"))
    assertIndexReads(legacy, "legacy stats, tombstoned")

    val bm25Only = newIndex("nonpos", positional = false)
    assertIndexReads(bm25Only, "non-positional")
    assert(Search.indexFlavor(spark, bm25Only) === Some(false))

    val empty = newIndex("empty",
      corpus = docs.limit(5).withColumn("text", lit(null).cast("string")))
    assertIndexReads(empty, "empty corpus")
    assert(Search.readStats(spark, empty) === ((5L, 0L, 4)))
  }

  test("zero-job laws: stats, term dictionary, flavor and bundle loads plan on the driver") {
    val dir = newIndex("jobs")
    graft.streaming.PostingsIndexStream.commitBatch(
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 350), 0L, dir, "doc_id", "text")
    Search.deleteFromPostingsIndex(spark, dir, Seq(7L).toDF("doc_id"))
    // every readStats branch at once: base record, deltas, deletes record
    assert(jobsDuring(Search.readStats(spark, dir)) === 0)
    assert(jobsDuring(Search.termDictionary(spark, dir,
      Some(col("term").startsWith("s")))) === 0)
    assert(jobsDuring(Search.indexFlavor(spark, dir)) === 0)

    val (bundle, install) = parquetBundle("jobs", alias = Some("served"))
    def lookup(df: => DataFrame): Unit =
      df.filter(col("_routing") === "42").queryExecution.executedPlan
    assert(jobsDuring(lookup(spark.read.format("graft-bundle").load(bundle))) === 0)
    assert(jobsDuring(lookup(spark.read.format("graft-bundle").option("alias", "served")
      .load(install))) === 0)
  }

  /** A parquet bundle, installed under an alias when `alias` is given:
    * (bundle dir, install root). */
  private def parquetBundle(tag: String, alias: Option[String] = None): (String, String) = {
    val incoming = Files.createTempDirectory(s"graft-ep-in-$tag").toString
    val src = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(src, s"$incoming/orders_pq", numShards = 3, partitionMultiples = 2,
      format = "parquet", indexName = "orders_pq", alias = alias)
    if (alias.isEmpty) (s"$incoming/orders_pq", "")
    else {
      val install = Files.createTempDirectory(s"graft-ep-out-$tag").toString
      BundleInstall.installOnce(spark, incoming, install)
      (s"$install/orders_pq", install)
    }
  }

  /** The table the connector built before the footer read: no declared
    * schema, so the delegate infers. */
  private def inferredTable(paths: Seq[String], fmt: String,
                            options: Map[String, String] = Map.empty): StructType = {
    val m = new java.util.HashMap[String, String]()
    options.foreach { case (k, v) => m.put(k, v) }
    BundleTable("inferred", spark, new CaseInsensitiveStringMap(m),
      scala.collection.immutable.Seq(paths: _*), None, fmt, 3).schema()
  }

  private def assertLookupsEqual(got: DataFrame, want: DataFrame, label: String): Unit =
    Seq("42", "7", "1001").foreach { k =>
      assert(sorted(got.filter(col("_routing") === k)) ===
        sorted(want.filter(col("_routing") === k)), s"$label: lookup $k")
    }

  test("bundle schemas equal inference: single-index, appended and JSON bundles") {
    val (bundle, _) = parquetBundle("single")
    val read = spark.read.format("graft-bundle").load(bundle)
    assert(read.schema === inferredTable(Seq(s"$bundle/data"), "parquet"))
    assert(read.schema === spark.read.parquet(s"$bundle/data").schema)
    assertLookupsEqual(read, spark.read.parquet(s"$bundle/data"), "single-index")

    BundleSink.insertInto(DocTransform.docs(sf("sf0.001", "customer"), "c_custkey",
      Some("c_custkey")), bundle, overwrite = false)
    val appended = spark.read.format("graft-bundle").load(bundle)
    assert(appended.schema === inferredTable(Seq(s"$bundle/data"), "parquet"))
    assertLookupsEqual(appended, spark.read.parquet(s"$bundle/data"), "appended")

    // json bundles keep the fixed layout; no footer is consulted
    val json = Files.createTempDirectory("graft-ep-json").toString
    BundleSink.write(DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey",
      Some("o_custkey")), s"$json/b", numShards = 3, partitionMultiples = 2)
    assert(spark.read.format("graft-bundle").load(s"$json/b").schema ===
      inferredTable(Seq(s"$json/b/data"), "json"))
  }

  test("bundle schemas equal inference: multi-index bundle, direct and through an alias") {
    val incoming = Files.createTempDirectory("graft-ep-multi-in").toString
    val install = Files.createTempDirectory("graft-ep-multi-out").toString
    val src = DocTransform.docs(
      sf("sf0.001", "orders").withColumn("idx", concat(lit("t_"), col("o_orderstatus"))),
      "o_orderkey", Some("o_custkey"), keepCols = Seq("idx"))
    BundleSink.writeMulti(src, s"$incoming/multi", "idx", numShards = 3,
      partitionMultiples = 2, format = "parquet",
      aliasFor = i => if (i == "t_O") Some("open") else None)
    BundleInstall.installOnce(spark, incoming, install)
    val root = s"$install/multi"
    val direct = spark.read.format("graft-bundle").load(root)
    assert(direct.schema === inferredTable(Seq(s"$root/data"), "parquet"))
    assertLookupsEqual(direct, spark.read.parquet(s"$root/data"), "multi-index")
    val viaAlias = spark.read.format("graft-bundle").option("alias", "open").load(install)
    assert(viaAlias.schema === inferredTable(Seq(s"$root/data/_index=t_O"), "parquet",
      Map("basePath" -> s"$root/data")))
    assertLookupsEqual(viaAlias,
      spark.read.parquet(s"$root/data").filter(col("_index") === "t_O"), "alias")
  }

  test("fallback: schema merging on (read option or session conf) infers") {
    val dir = Files.createTempDirectory("graft-ep-merge").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t/part=1")
    Seq((2L, 3.5)).toDF("id", "d").write.parquet(s"$dir/t/part=2")
    assert(EngineParquet.schema(spark, s"$dir/t").isDefined)
    assert(EngineParquet.schema(spark, s"$dir/t", Map("mergeSchema" -> "true")).isEmpty)
    val merged = EngineParquet.read(spark, Seq(s"$dir/t"), Map("mergeSchema" -> "true"))
    assert(merged.schema === spark.read.option("mergeSchema", "true").parquet(s"$dir/t").schema)
    assert(merged.schema.fieldNames.toSet === Set("id", "s", "d", "part"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(EngineParquet.schema(spark, s"$dir/t").isEmpty)
      assert(EngineParquet.read(spark, Seq(s"$dir/t")).schema ===
        spark.read.parquet(s"$dir/t").schema)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("fallback: a footer without Spark's schema infers, and its rows read through Spark") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-ep-foreign").toString
    val schema = MessageTypeParser.parseMessageType(
      "message rec { required int64 n_docs; required binary name (UTF8); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/rec/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("n_docs", 9L)
      .append("name", "x"))
    finally w.close()
    assert(EngineParquet.schema(spark, s"$dir/rec").isEmpty)
    assert(EngineParquet.read(spark, Seq(s"$dir/rec")).schema ===
      spark.read.parquet(s"$dir/rec").schema)
    val rows = EngineParquet.rows(spark, s"$dir/rec")
    assert(rows.map(_.toSeq) === Seq(Seq(9L, "x")))
    assert(rows.head.getAs[Long]("n_docs") === 9L)
  }

  test("fallback: no data file infers (and fails) as Spark does; a record dir has no rows") {
    val dir = Files.createTempDirectory("graft-ep-nofile").toString
    fs(dir).mkdirs(new Path(s"$dir/t/tb=0"))
    fs(dir).create(new Path(s"$dir/t/_SUCCESS")).close()
    assert(EngineParquet.schema(spark, s"$dir/t").isEmpty)
    assert(EngineParquet.rows(spark, s"$dir/t").isEmpty)
    val ours = intercept[org.apache.spark.sql.AnalysisException](
      EngineParquet.read(spark, Seq(s"$dir/t")))
    val theirs = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(s"$dir/t"))
    assert(ours.getCondition === theirs.getCondition)
  }
}
