package graft

import graft.functions.EsMurmur3
import graft.sink.{BundleReader, BundleSink}
import graft.transform.DocTransform
import java.nio.file.Files
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._

/**
 * Routing -> shard pruning through the V2 connector
 * (`format("graft-bundle")`): the source injects the implied `_shard`
 * partition filter inside pushFilters — native pruning, no session
 * extension (graft.sources.BundleDataSource).
 */
class BundleRoutingPruningSpec extends SparkSpec {

  def writeBundle(): String = {
    val out = Files.createTempDirectory("graft-prune").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(docs, s"$out/idx", numShards = 5,
      partitionMultiples = 2, repartition = true, indexName = "idx")
    s"$out/idx"
  }

  /** The file-source scan of the executed plan. */
  private def fileScan(df: org.apache.spark.sql.DataFrame): FileScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.collect { case f: FileScan => f }
      .getOrElse(fail(s"no V2 file scan in:\n${df.queryExecution.executedPlan}"))

  /** Data files the scan actually plans (post partition pruning). */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    fileScan(df).toBatch.planInputPartitions().toSeq.flatMap {
      case fp: FilePartition => fp.files.map(_.filePath.toString)
      case _ => Seq.empty
    }

  test("V2 connector: routing point lookup prunes to the one matching shard dir") {
    val dir = writeBundle()
    val df = BundleReader.read(spark, dir)
    val routing = "42"
    val expectShard = EsMurmur3.shard(routing, 5)

    val q = df.filter(col("_routing") === routing)
    // the source owns the implied conjunct: it must be a scan PARTITION
    // filter (pre-listing), not a post-scan row filter
    val pf = fileScan(q).partitionFilters.mkString(",")
    assert(pf.contains("_shard") && pf.contains(expectShard.toString),
      s"no injected shard partition filter, got: $pf")
    // and only that shard's files are planned
    val files = plannedFiles(q)
    assert(files.nonEmpty && files.forall(_.contains(s"_shard=$expectShard")),
      s"planned files not pruned to _shard=$expectShard:\n${files.mkString("\n")}")

    // correctness: same rows as a plain reader without the connector
    val plain = spark.read.schema(graft.streaming.BundleStream.bundleSchema)
      .json(s"$dir/data").filter(col("_routing") === routing)
    assert(q.count() === plain.count())
    assert(q.count() > 0)
    assert(q.filter(col("_shard") =!= expectShard).count() === 0)
  }

  test("V2 connector: IN-list routing prunes to the set of implied shards") {
    val dir = writeBundle()
    val df = BundleReader.read(spark, dir)
    val routings = Seq("42", "7", "101")
    val expectShards = routings.map(EsMurmur3.shard(_, 5)).toSet

    val q = df.filter(col("_routing").isin(routings: _*))
    val files = plannedFiles(q)
    assert(files.nonEmpty, "no files planned")
    val plannedShards = files.flatMap("_shard=(\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).toSet
    assert(plannedShards.subsetOf(expectShards),
      s"planned $plannedShards, expected subset of $expectShards")

    val plain = spark.read.schema(graft.streaming.BundleStream.bundleSchema)
      .json(s"$dir/data").filter(col("_routing").isin(routings: _*))
    assert(q.count() === plain.count())
    assert(q.count() > 0)
  }

  test("V2 connector: columnar bundle format auto-detected, pruning applies") {
    val out = Files.createTempDirectory("graft-prune-col").toString
    val docs = DocTransform.docsColumnar(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(docs, s"$out/idx", numShards = 5,
      partitionMultiples = 2, repartition = true, format = "columnar", indexName = "idx")
    assert(BundleReader.format(spark, s"$out/idx") === "columnar")
    val df = BundleReader.read(spark, s"$out/idx") // no format hint needed
    assert(df.columns.contains("o_totalprice"), df.columns.mkString(","))
    val routing = "42"
    val expectShard = EsMurmur3.shard(routing, 5)
    val q = df.filter(col("_routing") === routing)
    val files = plannedFiles(q)
    assert(files.nonEmpty && files.forall(_.contains(s"_shard=$expectShard")),
      s"planned files not pruned:\n${files.mkString("\n")}")
    assert(q.count() > 0)
    assert(q.filter(col("_shard") =!= expectShard).count() === 0)
  }

  test("V2 connector: non-routing filters plan every shard dir (no false pruning)") {
    val dir = writeBundle()
    val df = BundleReader.read(spark, dir)
    val q = df.filter(col("_id") === "17")
    assert(fileScan(q).partitionFilters.isEmpty,
      s"unexpected partition filters: ${fileScan(q).partitionFilters}")
    val shards = plannedFiles(q)
      .flatMap("_shard=(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toInt).toSet
    assert(shards === (0 until 5).toSet, s"expected all shards planned, got $shards")
    assert(q.count() === 1)
  }

  test("V2 connector: multi-index bundle reads with _index + _shard pruning") {
    val out = Files.createTempDirectory("graft-multi-v2").toString
    val src = sf("sf0.001", "orders")
      .withColumn("idx", concat(lit("t_"), col("o_orderstatus")))
    val docs = DocTransform.docs(src, "o_orderkey", Some("o_custkey"), keepCols = Seq("idx"))
    BundleSink.writeMulti(docs, out, "idx", numShards = 3, partitionMultiples = 2)
    val df = spark.read.format("graft-bundle").load(out)
    assert(df.columns.contains("_index") && df.columns.contains("_shard"),
      df.columns.mkString(","))
    val routing = "42"
    val expectShard = EsMurmur3.shard(routing, 3)
    val q = df.filter(col("_index") === "t_O" && col("_routing") === routing)
    val files = plannedFiles(q)
    assert(files.nonEmpty &&
      files.forall(f => f.contains("_index=t_O") && f.contains(s"_shard=$expectShard")),
      s"not pruned to one (_index,_shard) dir:\n${files.mkString("\n")}")
    assert(q.count() > 0)
  }

  test("alias option: read resolves through the install root; _index + _shard pruning preserved") {
    val incoming = Files.createTempDirectory("graft-alias-prune-in").toString
    val installed = Files.createTempDirectory("graft-alias-prune-out").toString
    val src = sf("sf0.001", "orders")
      .withColumn("idx", concat(lit("t_"), col("o_orderstatus")))
    val docs = DocTransform.docs(src, "o_orderkey", Some("o_custkey"), keepCols = Seq("idx"))
    BundleSink.writeMulti(docs, s"$incoming/orders_v1", "idx", numShards = 3,
      partitionMultiples = 2,
      aliasFor = i => if (i == "t_O") Some("open_live") else None)
    graft.sink.BundleInstall.installOnce(spark, incoming, installed)

    // the connector option resolves alias -> (bundle, index) and scopes the
    // multi bundle to the alias's _index partition IN THE FILE LISTING
    val q0 = spark.read.format("graft-bundle").option("alias", "open_live")
      .load(installed)
    assert(q0.columns.contains("_index"), q0.columns.mkString(","))
    val direct = spark.read.format("graft-bundle").load(s"$installed/orders_v1")
      .filter(col("_index") === "t_O")
    assert(q0.count() === direct.count() && q0.count() > 0)
    assert(plannedFiles(q0).forall(_.contains("_index=t_O")),
      s"alias read listed other indices' files:\n${plannedFiles(q0).mkString("\n")}")

    // routing pruning still fires THROUGH the indirection: one (_index,
    // _shard) dir planned for a point lookup
    val routing = "42"
    val expectShard = EsMurmur3.shard(routing, 3)
    val q = q0.filter(col("_routing") === routing)
    val files = plannedFiles(q)
    assert(files.nonEmpty &&
      files.forall(f => f.contains("_index=t_O") && f.contains(s"_shard=$expectShard")),
      s"not pruned to the alias's (_index,_shard) dir:\n${files.mkString("\n")}")
    assert(q.count() > 0)

    // readAlias delegates to the same path
    val ra = graft.sink.BundleInstall.readAlias(spark, installed, "open_live")
    assert(ra.count() === q0.count())

    // the alias option is a read indirection only
    val e = intercept[Exception] {
      spark.range(1).selectExpr("'x' _id", "'x' _routing", "'{}' doc")
        .write.format("graft-bundle").option("alias", "open_live")
        .mode("append").save(installed)
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("READ indirection"), e.toString)

    // unknown alias fails loudly
    val e2 = intercept[Exception] {
      spark.read.format("graft-bundle").option("alias", "nope").load(installed).count()
    }
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse(""))
      .contains("resolves to nothing"), e2.toString)
  }

  test("catalog DDL: CREATE TABLE USING graft-bundle reads the bundle; writes keep the contract") {
    val dir = writeBundle()
    spark.sql("DROP TABLE IF EXISTS ddl_bundle")
    spark.sql(s"CREATE TABLE ddl_bundle USING `graft-bundle` LOCATION '$dir'")
    try {
      assert(spark.sql("SELECT count(*) FROM ddl_bundle").head().getLong(0) === 1500L)
      // _shard is an ordinary partition column on the catalog path
      val one = spark.sql("SELECT count(*) FROM ddl_bundle WHERE _shard = 1").head().getLong(0)
      assert(one > 0 && one < 1500L)
      // the write side of the table contract is owned by BundleSink — since
      // round 7, direct DataFrame writes delegate to BundleSink.insertInto
      // (placement recomputed from _routing, manifest refreshed) rather
      // than refusing or dropping unsharded files (full laws in
      // BundleWriteV2Spec)
      spark.range(1).selectExpr("'x' _id", "'x' _routing", "'{}' doc", "0 _shard")
        .write.format("graft-bundle").mode("append").save(dir)
      assert(spark.sql("SELECT count(*) FROM ddl_bundle").head().getLong(0) === 1501L)
      assert(graft.sources.BundleManifest.shardCounts(spark, dir).get.values.sum === 1501L)
    } finally spark.sql("DROP TABLE IF EXISTS ddl_bundle")
  }
}
