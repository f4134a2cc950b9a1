package graft

import graft.functions.EsMurmur3
import graft.pipeline.Hive2Es
import graft.pipeline.Hive2Es.GraftConfig
import java.nio.file.{Files, Paths}

/** End-to-end pipeline test (SURVEY.md §7.4, t1 shape): sf0.001 lineitem ->
  * filtered scan -> doc transform -> es_shard routing -> 3-shard bundle. */
class BundleSinkSpec extends SparkSpec {

  def tmpDir(): String = Files.createTempDirectory("graft-bundle").toString

  test("end-to-end: per-shard counts match the reference hash, manifest written") {
    import org.apache.spark.sql.functions._
    val out = tmpDir()
    val src = sf("sf0.001", "lineitem")
      .withColumn("li_id", concat(col("l_orderkey"), lit("-"), col("l_linenumber")))
    val view = "graft_li_view"
    src.createOrReplaceTempView(view)

    val numShards = 3
    val cfg = GraftConfig(
      input = s"/root/testdata/sf0.001/lineitem.parquet",
      outDir = out, indexName = "li_idx", numShards = numShards,
      where = "l_shipdate < timestamp'1996-01-01 00:00:00'",
      id = null, repartition = true, partitionMultiples = 2)
    // build id inside the pipeline via a pre-projected DataFrame instead:
    val df = src.where("l_shipdate < timestamp'1996-01-01 00:00:00'")
    val docs = graft.transform.DocTransform.docs(df, "li_id", None)
    val res = graft.sink.BundleSink.write(docs, s"$out/li_idx", numShards,
      partitionMultiples = 2, repartition = true)

    // oracle: count per shard computed with the scala reference hash on the
    // driver from the same source rows
    val keys = df.select(col("li_id")).collect().map(_.getString(0))
    val expected = keys.groupBy(k => EsMurmur3.shard(k, numShards)).view.mapValues(_.length.toLong).toMap
    assert(res.totalDocs === keys.length.toLong)
    assert(res.shardCounts === expected)

    // bundle layout: data/_shard=k dirs + manifest.json, no _STARTED left
    for (s <- 0 until numShards)
      assert(Files.exists(Paths.get(s"$out/li_idx/data/_shard=$s")), s"missing shard dir $s")
    assert(Files.exists(Paths.get(s"$out/li_idx/manifest.json")))
    assert(!Files.exists(Paths.get(s"$out/li_idx/_STARTED")))

    // docs are valid JSON: read back and count matches
    val back = spark.read.json(s"$out/li_idx/data")
    assert(back.count() === keys.length.toLong)

    // shard_state.json (reference _state parity): per-shard docs/files/bytes
    val state = Files.readString(Paths.get(s"$out/li_idx/shard_state.json"))
    val docCounts = """"docs":(\d+)""".r.findAllMatchIn(state).map(_.group(1).toLong).toSeq
    assert(docCounts.sum === keys.length.toLong, state)
    val byteCounts = """"bytes":(\d+)""".r.findAllMatchIn(state).map(_.group(1).toLong).toSeq
    assert(byteCounts.forall(_ > 0), state)

    // re-run idempotency (create-or-replace parity, ESContainer.scala:155-158)
    val res2 = graft.sink.BundleSink.write(docs, s"$out/li_idx", numShards,
      partitionMultiples = 2, repartition = true)
    assert(res2.shardCounts === expected)
  }

  test("commit protocol is inert for a write it was not armed for") {
    // a concurrent write on the same session can pick up the session-global
    // commitProtocolClass mid-bundle-write; the path guard must make it
    // behave as the stock protocol (no _STARTED/shard_state.json dropped
    // next to the foreign output)
    val out = tmpDir()
    val key = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[graft.sources.BundleCommitProtocol].getName)
    try {
      spark.range(100).toDF("id").write.mode("overwrite").parquet(s"$out/plain")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    assert(spark.read.parquet(s"$out/plain").count() === 100L)
    assert(!Files.exists(Paths.get(s"$out/_STARTED")),
      "unarmed protocol must not mark a foreign write")
    assert(!Files.exists(Paths.get(s"$out/shard_state.json")))
  }

  test("many-shard layout (>64) counts via map-valued observe, placement still exact") {
    import org.apache.spark.sql.functions._
    val out = tmpDir()
    val docs = graft.transform.DocTransform.docs(
      sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    val numShards = 100
    val res = graft.sink.BundleSink.write(docs, s"$out/many", numShards,
      partitionMultiples = 1, repartition = true)
    assert(res.totalDocs === 1500L)
    val keys = sf("sf0.001", "orders")
      .select(coalesce(col("o_custkey").cast("string"), col("o_orderkey").cast("string")))
      .collect().map(_.getString(0))
    val expected = (0 until numShards).map(i =>
      i -> keys.count(k => EsMurmur3.shard(k, numShards) == i).toLong).toMap
    assert(res.shardCounts === expected)
  }

  test("runGeneric + runInferred over events (map-free) produce identical counts") {
    val out = tmpDir()
    val cfg = GraftConfig(
      input = "/root/testdata/sf0.001/events.parquet",
      outDir = out, indexName = "ev", numShards = 2,
      where = "event_type <> 'error'", id = "event_id", routing = "user_id",
      repartition = true, partitionMultiples = 2, format = "parquet")
    val r1 = Hive2Es.runGeneric(spark, cfg)
    val r2 = Hive2Es.runInferred(spark, cfg.copy(indexName = "ev2"))
    assert(r1.totalDocs === r2.totalDocs)
    assert(r1.shardCounts === r2.shardCounts)
    assert(Files.exists(Paths.get(s"$out/ev2/mapping.json")))
    val n = sf("sf0.001", "events").where("event_type <> 'error'").count()
    assert(r1.totalDocs === n)
  }

  test("columnar bundles: typed fields, same placement, projection pushdown into docs") {
    val out = tmpDir()
    val cfg = GraftConfig(input = "/root/testdata/sf0.001/orders.parquet",
      outDir = out, indexName = "colr", numShards = 3, id = "o_orderkey",
      routing = "o_custkey", repartition = true, partitionMultiples = 2,
      format = "columnar")
    val res = Hive2Es.runGeneric(spark, cfg)
    assert(res.totalDocs === 1500L)
    // placement identical to the json-doc path on the same routing
    val jsonRes = Hive2Es.runGeneric(spark,
      cfg.copy(indexName = "jsn", format = "json"))
    assert(res.shardCounts === jsonRes.shardCounts)
    val back = spark.read.parquet(s"$out/colr/data")
    // typed columns survived (not one doc string)
    assert(back.schema("o_totalprice").dataType.typeName === "double")
    assert(back.schema("o_orderkey").dataType.typeName === "long")
    assert(back.columns.contains("_id") && back.columns.contains("_routing"))
    // projection pushdown: a 2-field read scans 2 doc columns, not the doc
    val narrow = back.select("o_orderkey", "o_totalprice")
    val p = narrow.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"expected pruned 2-column ReadSchema:\n$p")
    // predicate pushdown into a document field
    val filtered = back.filter(org.apache.spark.sql.functions.col("o_totalprice") > 100000)
    val fp = filtered.queryExecution.executedPlan.toString
    assert(fp.contains("PushedFilters") && fp.contains("o_totalprice"), fp)
    // manifest records the format
    assert(Files.readString(Paths.get(s"$out/colr/manifest.json"))
      .contains("\"format\":\"columnar\""))
    // inferred mode refuses columnar
    intercept[IllegalArgumentException] {
      Hive2Es.runInferred(spark, cfg.copy(indexName = "colr2"))
    }
  }

  test("multi-index sink: one scan, per-index bundles with exact placement") {
    val out = tmpDir()
    val docs = graft.transform.DocTransform.docs(
        sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
      .withColumn("idx",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("tenant_"),
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("_id").cast("long"),
            org.apache.spark.sql.functions.lit(3))))
    val results = graft.sink.BundleSink.writeMulti(docs, s"$out/multi", "idx",
      numShards = 4, partitionMultiples = 2)
    assert(results.keySet === Set("tenant_0", "tenant_1", "tenant_2"))
    assert(results.values.map(_.totalDocs).sum === 1500L)
    // per-index placement law: every doc's shard = es murmur3 of its routing
    val keys = sf("sf0.001", "orders")
      .select(org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.col("o_custkey").cast("string"),
          org.apache.spark.sql.functions.col("o_orderkey").cast("string")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    for ((idx, res) <- results) {
      val t = idx.stripPrefix("tenant_").toLong
      val expected = keys.filter(_._1 % 3 == t)
        .groupBy(k => EsMurmur3.shard(k._2, 4)).view.mapValues(_.length.toLong).toMap
      val full = (0 until 4).map(s => s -> expected.getOrElse(s, 0L)).toMap
      assert(res.shardCounts === full, s"index $idx")
      assert(Files.exists(Paths.get(s"$out/multi/manifest_$idx.json")))
    }
    // `_index`, the column insertIntoMulti requires, routes a write too:
    // same per-index counts, same rows under the same index directories
    val viaIndex = graft.sink.BundleSink.writeMulti(
      docs.withColumnRenamed("idx", "_index"), s"$out/multi_index", "_index",
      numShards = 4, partitionMultiples = 2)
    assert(viaIndex.view.mapValues(_.shardCounts).toMap ===
      results.view.mapValues(_.shardCounts).toMap)
    def rowsOf(root: String): Seq[String] =
      spark.read.json(s"$root/data").collect().map(_.toString).toSeq.sorted
    assert(rowsOf(s"$out/multi_index") === rowsOf(s"$out/multi"))
    assert(!Files.exists(Paths.get(s"$out/multi_index/_STARTED")))
  }

  test("empty input: zero-doc bundle still commits a complete manifest") {
    val out = tmpDir()
    val docs = graft.transform.DocTransform.docs(
      sf("sf0.001", "orders").filter("o_orderkey < 0"), "o_orderkey", Some("o_custkey"))
    val res = graft.sink.BundleSink.write(docs, s"$out/empty", numShards = 3,
      partitionMultiples = 2, repartition = true, indexName = "empty")
    assert(res.totalDocs === 0L)
    assert(res.shardCounts === Map(0 -> 0L, 1 -> 0L, 2 -> 0L))
    val manifest = Files.readString(Paths.get(s"$out/empty/manifest.json"))
    assert(manifest.contains("\"totalDocs\":0") && manifest.contains("\"state\":\"completed\""))
    assert(!Files.exists(Paths.get(s"$out/empty/_STARTED")))
  }

  test("bulk knobs size output files; alias + final settings land in the manifest") {
    val out = tmpDir()
    val docs = graft.transform.DocTransform.docs(
      sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    def partFiles(dir: String): Seq[java.nio.file.Path] = {
      val it = Files.walk(Paths.get(dir)).iterator()
      scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
        .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
    }
    // baseline: 2 writer tasks x 3 shards -> bounded file count
    graft.sink.BundleSink.write(docs, s"$out/plain", numShards = 3,
      partitionMultiples = 2, repartition = true, indexName = "plain")
    val plainFiles = partFiles(s"$out/plain/data").size
    // --bulk-actions 100: no file may exceed 100 docs -> strictly more files
    val res = graft.sink.BundleSink.write(docs, s"$out/bulked", numShards = 3,
      partitionMultiples = 2, repartition = true, indexName = "bulked",
      bulkActions = Some(100L),
      alias = Some("orders_live"),
      finalSettings = Map("index.number_of_replicas" -> "1",
        "index.refresh_interval" -> "1s"))
    assert(res.totalDocs === 1500L)
    val bulked = partFiles(s"$out/bulked/data")
    assert(bulked.size > plainFiles,
      s"bulk-actions=100 should split files: ${bulked.size} !> $plainFiles")
    import org.apache.spark.sql.functions.input_file_name
    val perFile = spark.read.json(s"$out/bulked/data")
      .groupBy(input_file_name()).count().collect().map(_.getLong(1))
    assert(perFile.forall(_ <= 100L), s"file over bulk-actions cap: ${perFile.max}")
    val manifest = Files.readString(Paths.get(s"$out/bulked/manifest.json"))
    assert(manifest.contains("\"alias\":\"orders_live\""), manifest)
    assert(manifest.contains("\"index.number_of_replicas\":\"1\""), manifest)
    assert(manifest.contains("\"index.refresh_interval\":\"1s\""), manifest)
    // CLI wiring: reference spellings reach the writer config
    val (cfg, _) = Main.parse(Array("--input", "x", "--out", "y", "--index", "z",
      "--bulk-actions", "100", "--bulk-size", "8",
      "--alias", "orders_live", "--final-index-setting",
      "index.number_of_replicas=1,index.refresh_interval=1s"))
    assert(cfg.bulkActions === Some(100L) && cfg.bulkSizeMb === Some(8L))
    assert(cfg.alias === Some("orders_live"))
    assert(cfg.finalSettings === Map("index.number_of_replicas" -> "1",
      "index.refresh_interval" -> "1s"))
  }

  test("validate: green on an intact bundle; flags deleted files and misplacement") {
    val out = tmpDir()
    val docs = graft.transform.DocTransform.docs(
      sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    graft.sink.BundleSink.write(docs, s"$out/v", numShards = 3,
      partitionMultiples = 2, repartition = true, indexName = "v")
    val rep = graft.sink.BundleValidate.validate(spark, s"$out/v")
    assert(rep.ok, rep.problems.mkString("; "))
    assert(rep.shards.map(_.docs).sum === 1500L)
    assert(rep.shards.forall(_.misplaced == 0))
    // tamper: drop one part file -> docs + files + bytes all flag
    val shard0 = java.nio.file.Paths.get(s"$out/v/data/_shard=0")
    val victim = scala.jdk.CollectionConverters.IteratorHasAsScala(
        Files.list(shard0).iterator()).asScala
      .find(p => p.getFileName.toString.startsWith("part-"))
      .getOrElse(fail("no part file in shard 0"))
    Files.delete(victim)
    val bad = graft.sink.BundleValidate.validate(spark, s"$out/v")
    assert(!bad.ok)
    assert(bad.problems.exists(_.startsWith("shard 0")), bad.problems.mkString("; "))
  }

  test("compression knob: parquet zstd round-trips, json zstd rejected, manifest records codec") {
    val out = tmpDir()
    val docs = graft.transform.DocTransform.docs(
      sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    val res = graft.sink.BundleSink.write(docs, s"$out/z", numShards = 3,
      partitionMultiples = 2, repartition = true, format = "parquet",
      compression = Some("zstd"))
    assert(res.totalDocs === 1500L)
    val files = Files.walk(Paths.get(s"$out/z/data")).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
    assert(names.nonEmpty && names.forall(_.contains(".zstd.")),
      s"expected zstd part files, got $names")
    // reads back identically
    val back = spark.read.parquet(s"$out/z/data")
    assert(back.count() === 1500L)
    val manifest = Files.readString(Paths.get(s"$out/z/manifest.json"))
    assert(manifest.contains("\"compression\":\"zstd\""))
    // json + zstd fails fast with guidance, before any write job runs
    val e = intercept[IllegalArgumentException] {
      graft.sink.BundleSink.write(docs, s"$out/bad", 3, 2, repartition = true,
        format = "json", compression = Some("zstd"))
    }
    assert(e.getMessage.contains("parquet"))
    // the multi-index writer checks the same table up front: no _STARTED,
    // no data/ left behind by a pair its writer cannot produce
    val em = intercept[IllegalArgumentException] {
      graft.sink.BundleSink.writeMulti(docs.withColumn("idx",
        org.apache.spark.sql.functions.lit("a")), s"$out/badm", "idx", 3,
        format = "json", compression = Some("zstd"))
    }
    assert(em.getMessage.contains("parquet"))
    assert(!Files.exists(Paths.get(s"$out/badm/_STARTED")) &&
      !Files.exists(Paths.get(s"$out/badm/data")))
  }

  test("validate: a pretty-printed shard_state.json is parsed, its files entry checked") {
    val out = tmpDir()
    val docs = graft.transform.DocTransform.docs(
      sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    graft.sink.BundleSink.write(docs, s"$out/v", numShards = 3,
      partitionMultiples = 2, repartition = true, indexName = "v")
    prettyPrint(s"$out/v/shard_state.json")()
    val intact = graft.sink.BundleValidate.validate(spark, s"$out/v")
    assert(intact.ok, intact.problems.mkString("; "))
    // one shard's recorded file count off by one: flagged, not skipped
    prettyPrint(s"$out/v/shard_state.json") { tree =>
      val e = tree.get(1).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      e.put("files", e.get("files").asLong + 1)
    }
    val bad = graft.sink.BundleValidate.validate(spark, s"$out/v")
    assert(!bad.ok)
    assert(bad.problems.exists(p => p.startsWith(s"shard ${bad.shards(1).shard}:") &&
      p.contains("files")), bad.problems.mkString("; "))
  }

  test("manifest fields are JSON-escaped: a quote and backslash in typeName round-trip") {
    val out = tmpDir()
    val installed = tmpDir()
    val typeName = "a\"b\\c"
    val docs = graft.transform.DocTransform.docs(
      sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    graft.sink.BundleSink.write(docs, s"$out/esc", numShards = 3,
      partitionMultiples = 2, repartition = true, indexName = "esc",
      typeName = typeName)
    assert(graft.sources.BundleManifest.typeName(spark, s"$out/esc") === typeName)
    val rep = graft.sink.BundleValidate.validate(spark, s"$out/esc")
    assert(rep.ok, rep.problems.mkString("; "))
    val pass = graft.sink.BundleInstall.installOnce(spark, out, installed)
    assert(pass.collect { case i: graft.sink.BundleInstall.Installed => i.bundle } === Seq("esc"))
    assert(graft.sources.BundleManifest.typeName(spark, s"$installed/esc") === typeName)
  }

  /** Every writer's manifest and shard_state.json content, in write order,
    * with the fixture's temp root replaced by `<tmp>`. Single-partition
    * inputs and no exchange keep the data files (hence shard_state bytes)
    * deterministic. */
  private def writerOutputs(): Seq[(String, String)] = {
    import graft.sink.BundleSink
    import graft.transform.DocTransform
    import org.apache.spark.sql.functions._
    val tmp = tmpDir()
    val seen = Seq.newBuilder[(String, String)]
    def pin(step: String, files: String*): Unit = files.foreach { f =>
      seen += s"$step $f" -> Files.readString(Paths.get(tmp, f)).replace(tmp, "<tmp>")
    }
    val orders = sf("sf0.001", "orders").coalesce(1)
    def delta(tag: String) = DocTransform.docs(sf("sf0.001", "region").coalesce(1)
      .withColumn("rid", concat(lit(s"$tag-"), col("r_regionkey"))), "rid", None)
    val docs = DocTransform.docs(orders, "o_orderkey", Some("o_custkey"))
    BundleSink.write(docs, s"$tmp/j", 3, repartition = false, indexName = "j",
      alias = Some("j_live"), finalSettings = Map("index.refresh_interval" -> "1s"))
    pin("write-json", "j/manifest.json", "j/shard_state.json")
    BundleSink.write(docs, s"$tmp/p", 3, repartition = false, format = "parquet",
      indexName = "p")
    pin("write-parquet", "p/manifest.json", "p/shard_state.json")
    BundleSink.insertInto(delta("a"), s"$tmp/j", overwrite = false)
    pin("append", "j/manifest.json", "j/shard_state.json", "j/.manifest-cas/v1.json")
    val tiered = docs.withColumn("tier", concat(lit("t"), pmod(col("_id").cast("long"), lit(2))))
    BundleSink.writeMulti(tiered, s"$tmp/m", "tier", 3, repartition = false,
      aliasFor = i => Some(s"${i}_live"))
    pin("write-multi", "m/manifest_t0.json", "m/manifest_t1.json")
    BundleSink.insertIntoMulti(delta("b").withColumn("_index", lit("t0")), s"$tmp/m")
    pin("append-multi", "m/manifest_t0.json", "m/.manifest-cas_t0/v1.json")
    BundleSink.insertIntoMulti(delta("c").withColumn("_index", lit("t1")), s"$tmp/m",
      overwrite = true)
    pin("overwrite-multi", "m/manifest_t1.json")
    orders.write.parquet(s"$tmp/src")
    val stream = spark.readStream.schema(orders.schema).parquet(s"$tmp/src")
    graft.streaming.BundleStreamWriter.start(
      DocTransform.docs(stream, "o_orderkey", Some("o_custkey")), s"$tmp/s", 3,
      checkpointDir = s"$tmp/ckpt").awaitTermination(120000)
    pin("stream", "s/manifest.json")
    graft.streaming.BundleStreamWriter.seal(spark, s"$tmp/s", 3, indexName = "s")
    pin("seal", "s/manifest.json", "s/shard_state.json")
    seen.result()
  }

  test("every writer's manifest and shard_state.json bytes are pinned") {
    val expected = scala.io.Source.fromResource("graft/pinned_writer_outputs.tsv")
      .getLines().filter(_.nonEmpty).map { line =>
        val Array(k, v) = line.split("\t", 2); k -> v
      }.toSeq
    val actual = writerOutputs()
    assert(actual.map(_._1) === expected.map(_._1))
    for (((k, got), (_, want)) <- actual.zip(expected)) assert(got === want, k)
  }
}
