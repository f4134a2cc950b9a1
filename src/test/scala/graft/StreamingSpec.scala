package graft

import graft.sink.BundleSink
import graft.streaming.{BundleStream, EventStreams}
import graft.transform.DocTransform
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class StreamingSpec extends SparkSpec {

  test("bundle consumer: drains a written bundle with AvailableNow, counts per shard") {
    val out = Files.createTempDirectory("graft-stream").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    val res = BundleSink.write(docs, s"$out/idx", numShards = 3,
      partitionMultiples = 2, repartition = true)

    val stream = BundleStream.read(spark, s"$out/idx")
    assert(stream.isStreaming)
    val q = BundleStream.consolidate(stream, s"$out/ckpt", availableNow = true)
    q.awaitTermination(120000)
    val got = spark.table("bundle_progress").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === res.shardCounts)
  }

  test("connector streaming read: readStream.format(graft-bundle) drains, picks up new files exactly once") {
    val out = Files.createTempDirectory("graft-stream-v2").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    val res = BundleSink.write(docs, s"$out/idx", numShards = 3,
      partitionMultiples = 2, repartition = true)
    // schema + format + partition layout all come from the manifest — the
    // caller specifies nothing
    val stream = spark.readStream.format("graft-bundle").load(s"$out/idx")
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq ===
      BundleStream.bundleSchema.fieldNames.toSeq)
    val counts = stream.groupBy(col("_shard")).agg(count(lit(1)).as("docs"))
    val q = counts.writeStream.format("memory").queryName("bundle_v2_progress")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("bundle_v2_progress").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === res.shardCounts)
    // mark-complete semantics: new files appear, a second AvailableNow pass
    // on the SAME checkpoint consumes only the delta (seen-files log)
    DocTransform.docs(sf("sf0.001", "customer"), "c_custkey", None)
      .withColumn("_shard", graft.functions.EsFunctions.es_shard(col("_routing"), 3))
      .write.mode("append").partitionBy("_shard").json(s"$out/idx/data")
    val q2 = spark.readStream.format("graft-bundle").load(s"$out/idx")
      .groupBy(col("_shard")).agg(count(lit(1)).as("docs"))
      .writeStream.format("memory").queryName("bundle_v2_progress")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val total2 = spark.table("bundle_v2_progress").collect().map(_.getLong(1)).sum
    assert(total2 === 1500L + 150L)
  }

  test("connector streaming read: parquet bundle schema from footers") {
    val out = Files.createTempDirectory("graft-stream-v2pq").toString
    val docs = DocTransform.docs(sf("sf0.001", "region"), "r_regionkey", None)
    val res = BundleSink.write(docs, s"$out/idx", numShards = 2,
      partitionMultiples = 2, repartition = true, format = "parquet")
    val stream = spark.readStream.format("graft-bundle").load(s"$out/idx")
    val q = stream.groupBy(col("_shard")).agg(count(lit(1)).as("docs"))
      .writeStream.format("memory").queryName("bundle_v2_pq")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("bundle_v2_pq").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === res.shardCounts.filter(_._2 > 0))
  }

  test("streaming ANN index maintenance: appended batches served, replay-safe commit") {
    import graft.ext.Similarity
    val dim = 16
    val rnd = new scala.util.Random(67)
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-annidx-stream").toString
    Similarity.buildIndex(mk(0 until 200).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/idx", nlist = 8, kmeansIters = 2, m = 4, k = 8)
    // arriving vectors land as parquet files; the stream drains them into
    // the index with the stored quantizer
    mk(200 until 300).toDF("vec_id", "embedding").write.mode("append").parquet(s"$dir/in")
    mk(300 until 400).toDF("vec_id", "embedding").write.mode("append").parquet(s"$dir/in")
    val src = spark.read.parquet(s"$dir/in")
    val stream = spark.readStream.schema(src.schema).parquet(s"$dir/in")
    val q = graft.streaming.AnnIndexStream.start(stream, s"$dir/idx",
      "vec_id", "embedding", s"$dir/ckpt")
    q.awaitTermination(120000)
    val cells = spark.read.parquet(s"$dir/idx/cells")
    assert(cells.count() === 400)
    assert(cells.select("nid").distinct().count() === 400)
    // replay safety: re-committing an already-committed batchId with the
    // same content is a no-op (deterministic names + rename-if-absent)
    graft.streaming.AnnIndexStream.commitBatch(
      spark.read.parquet(s"$dir/in"), 0L, s"$dir/idx", "vec_id", "embedding")
    val after = spark.read.parquet(s"$dir/idx/cells")
    assert(after.count() === 400 &&
      after.select("nid").distinct().count() === 400,
      "replayed commit must not duplicate rows")
    // streamed rows are served like built ones
    val qdf = mk(320 until 336).toDF("vec_id", "embedding")
    val got = Similarity.indexTopK(qdf, s"$dir/idx", "vec_id", "embedding",
        k = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got.forall { case (qid, nid) => qid != nid })
    // each query's top-3 should include a same-cluster mate
    val hits = got.groupBy(_._1).count { case (qid, ns) =>
      ns.exists { case (_, nid) => nid % 8 == qid % 8 }
    }
    assert(hits >= 14, s"cluster-mate hits $hits/16")
  }

  test("incremental arrival: second batch of files is picked up exactly once") {
    val out = Files.createTempDirectory("graft-stream2").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(docs, s"$out/idx", 2, 2, repartition = true)
    val stream = BundleStream.read(spark, s"$out/idx")
    val q1 = BundleStream.consolidate(stream, s"$out/ckpt", availableNow = true)
    q1.awaitTermination(120000)
    val first = spark.table("bundle_progress").collect().map(_.getLong(1)).sum
    // more files arrive (same docs, new part files, overwrite=false append dir)
    DocTransform.docs(sf("sf0.001", "customer"), "c_custkey", None)
      .withColumn("_shard", graft.functions.EsFunctions.es_shard(col("_routing"), 2))
      .write.mode("append").partitionBy("_shard").json(s"$out/idx/data")
    val q2 = BundleStream.consolidate(BundleStream.read(spark, s"$out/idx"),
      s"$out/ckpt", availableNow = true)
    q2.awaitTermination(120000)
    val second = spark.table("bundle_progress").collect().map(_.getLong(1)).sum
    assert(first === 1500L)
    assert(second === 1500L + 150L) // complete-mode totals include new files once
  }

  test("tumbling/sliding/session windows + watermark over a file stream") {
    // stream the events parquet through the file source
    val dir = Files.createTempDirectory("graft-ev").toString
    sf("sf0.001", "events").write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")

    val tq = EventStreams.tumblingCounts(stream).writeStream
      .format("memory").queryName("tumbling").outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/c1").trigger(Trigger.AvailableNow()).start()
    tq.awaitTermination(120000)
    // append mode only emits windows the watermark has passed; with a
    // single batch the final windows stay open, so compare the emitted
    // subset against the batch computation
    val batch = sf("sf0.001", "events")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getAs[java.sql.Timestamp](0), r.getString(1)) -> r.getLong(2)).toMap
    val emitted = spark.table("tumbling").collect()
    assert(emitted.nonEmpty, "no tumbling windows emitted")
    assert(emitted.forall { r =>
      batch.get((r.getAs[java.sql.Timestamp](0), r.getString(1))).contains(r.getLong(2))
    })

    val sq = EventStreams.sessionCounts(stream).writeStream
      .format("memory").queryName("sessions").outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/c2").trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination(120000)
    assert(spark.table("sessions").count() > 0)
  }

  test("watermark accepts an NTZ-inferred parquet event-time stream (Spark 4.x)") {
    // Spark 4.x infers parquet timestamps written without UTC adjustment as
    // TIMESTAMP_NTZ (inferTimestampNTZ defaults true); withWatermark rejects
    // NTZ, so EventStreams must normalize at the entry point. This spec
    // pins that end-to-end: NTZ parquet -> file stream -> watermark -> agg.
    val dir = Files.createTempDirectory("graft-ntz").toString
    sf("sf0.001", "events")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.parquet(s"$dir/in")
    val inferred = spark.read.parquet(s"$dir/in").schema
    assert(inferred("ts").dataType === org.apache.spark.sql.types.TimestampNTZType,
      "precondition lost: parquet round-trip no longer infers NTZ — " +
        "revisit EventStreams.watermarked and this spec")
    val stream = spark.readStream.schema(inferred).parquet(s"$dir/in")
    val q = EventStreams.tumblingCounts(stream).writeStream
      .format("memory").queryName("ntz_tumbling").outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/c").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // emitted (closed) windows agree with the batch computation under the
    // same NTZ->LTZ session-local interpretation
    val batch = spark.read.parquet(s"$dir/in")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getAs[java.sql.Timestamp](0), r.getString(1)) -> r.getLong(2)).toMap
    val emitted = spark.table("ntz_tumbling").collect()
    assert(emitted.nonEmpty, "no windows emitted from the NTZ stream")
    assert(emitted.forall { r =>
      batch.get((r.getAs[java.sql.Timestamp](0), r.getString(1))).contains(r.getLong(2))
    })
  }

  test("streaming bundle writer: micro-batches land in correct shard dirs") {
    val dir = Files.createTempDirectory("graft-sbw").toString
    // stream docs from a file source built out of the batch transform
    val docsBatch = DocTransform.docs(sf("sf0.001", "customer"), "c_custkey", None)
    docsBatch.write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(docsBatch.schema).parquet(s"$dir/in")
    val q = graft.streaming.BundleStreamWriter.start(stream, s"$dir/out", 3,
      s"$dir/ckpt", availableNow = true)
    q.awaitTermination(120000)
    val back = spark.read.schema(graft.streaming.BundleStream.bundleSchema)
      .json(s"$dir/out/data")
    assert(back.count() === docsBatch.count())
    // placement law: every row's _shard equals es_shard(_routing)
    val misplaced = back.filter(
      col("_shard") =!= graft.functions.EsFunctions.es_shard(col("_routing"), 3)).count()
    assert(misplaced === 0L)
  }

  test("streaming writer commit is idempotent under batch replay") {
    val dir = Files.createTempDirectory("graft-replay").toString
    val docs = DocTransform.docs(sf("sf0.001", "region"), "r_regionkey", None)
    // simulate foreachBatch replay: same batchId committed twice
    graft.streaming.BundleStreamWriter.commitBatch(docs, 7L, s"$dir/out", 2)
    graft.streaming.BundleStreamWriter.commitBatch(docs, 7L, s"$dir/out", 2)
    val back = spark.read.schema(BundleStream.bundleSchema).json(s"$dir/out/data")
    assert(back.count() === 5L, "replayed batch duplicated docs")
    // a NEW batch still appends
    graft.streaming.BundleStreamWriter.commitBatch(docs, 8L, s"$dir/out", 2)
    assert(spark.read.schema(BundleStream.bundleSchema).json(s"$dir/out/data").count() === 10L)
  }

  test("consumer tolerates corrupt files: malformed lines become nulls, valid docs intact") {
    val out = Files.createTempDirectory("graft-corrupt").toString
    val docs = DocTransform.docs(sf("sf0.001", "region"), "r_regionkey", None)
    val res = BundleSink.write(docs, s"$out/idx", 2, 1, repartition = true)
    // a corrupt (non-json, non-tmp) file appears in a shard dir
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/idx/data/_shard=0/garbage.json"),
      "not json at all {{{".getBytes)
    val q = BundleStream.consolidate(BundleStream.read(spark, s"$out/idx"),
      s"$out/ckpt", availableNow = true)
    q.awaitTermination(120000)
    val rows = spark.table("bundle_progress").collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0)) -> r.getLong(1)).toMap
    // all real docs still counted under their shards; the corrupt line shows
    // up as a null-shard bucket instead of failing the stream (PERMISSIVE)
    assert(rows.getOrElse(0, 0L) + rows.getOrElse(1, 0L) === res.totalDocs)
  }

  test("stream-static broadcast join enriches events with dimension rows") {
    val dir = Files.createTempDirectory("graft-ss").toString
    sf("sf0.001", "events").write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    // dimension: user_id -> segment (from customer, key aligned to user space)
    val dim = sf("sf0.001", "customer")
      .select((col("c_custkey") - 1).as("dim_user"), col("c_mktsegment"))
    val q = graft.streaming.EventStreams.enriched(stream, dim, "user_id", "dim_user")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$dir/ckpt").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("enriched").collect()
      .map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    val expect = sf("sf0.001", "events").join(dim,
        col("user_id") === col("dim_user"), "left_outer")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt")).collect()
      .map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("mapGroupsWithState: running per-user totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Ev]
    val q = EventStreams.runningUserTotals(input.toDS()).writeStream
      .format("memory").queryName("user_totals").outputMode(OutputMode.Update())
      .start()
    def ev(id: Long, u: Long, v: Double) =
      EventStreams.Ev(id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, "click", v)
    input.addData(ev(1, 7, 1.5), ev(2, 7, 2.5), ev(3, 8, 10.0))
    q.processAllAvailable()
    input.addData(ev(4, 7, 6.0))
    q.processAllAvailable()
    val rows = spark.table("user_totals").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.maxBy(_.getLong(1))).toMap
    assert(rows(7L).getLong(1) === 3L)
    assert(math.abs(rows(7L).getDouble(2) - 10.0) < 1e-9)
    assert(rows(8L).getLong(1) === 1L)
    q.stop()
  }

  test("streaming near-dup: doc in batch 2 matches its batch-1 original, incrementally") {
    import graft.streaming.StreamingDedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(3)
      def sentence() = (0 until 30).map(_ => s"w${rnd.nextInt(5000)}").mkString(" ")
      val originals = (0L until 20L).map(i => (i, sentence()))
      val input = MemoryStream[(Long, String)]
      val q = StreamingDedup.matches(input.toDF().toDF("doc_id", "text"),
          "doc_id", "text", threshold = 0.9)
        .writeStream.format("memory").queryName("near_dups")
        .outputMode(OutputMode.Append()).start()
      input.addData(originals: _*)
      q.processAllAvailable()
      val early = spark.table("near_dups").count()
      assert(early === 0, s"random originals should not match, got $early")
      // batch 2: clones of docs 3 and 7 (ids 103, 107) + fresh docs
      input.addData((103L, originals(3)._2), (107L, originals(7)._2),
        (200L, sentence()), (201L, sentence()))
      q.processAllAvailable()
      val pairs = spark.table("near_dups")
        .select("doc_id", "matched_id").distinct().as[(Long, Long)].collect().toSet
      assert(pairs === Set((103L, 3L), (107L, 7L)), s"got $pairs")
      // batch 3: a clone of a CLONE still resolves against all prior state
      input.addData((300L, originals(3)._2))
      q.processAllAvailable()
      val all = spark.table("near_dups")
        .select("doc_id", "matched_id").distinct().as[(Long, Long)].collect().toSet
      assert(all === Set((103L, 3L), (107L, 7L), (300L, 3L), (300L, 103L)), s"got $all")
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming embedding near-dup: batch-2 clone matches its batch-1 original exactly") {
    import graft.streaming.StreamingEmbedDedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the state encoder's generated code must compile (see the AUTO test)
    try assert(!errorsLogged {
      val dim = 16
      val rnd = new scala.util.Random(11)
      val centers = (0 until 20).map(_ => Array.fill(dim)(rnd.nextGaussian()))
      def near(c: Array[Double]) = c.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat).toSeq
      val originals = (0L until 20L).map(i => (i, near(centers(i.toInt))))
      val input = MemoryStream[(Long, Seq[Float])]
      val q = StreamingEmbedDedup.matches(input.toDF().toDF("vec_id", "embedding"),
          "vec_id", "embedding", dim = dim, threshold = 0.98)
        .writeStream.format("memory").queryName("embed_dups")
        .outputMode(OutputMode.Append()).start()
      input.addData(originals: _*)
      q.processAllAvailable()
      assert(spark.table("embed_dups").count() === 0,
        "distinct cluster centers should not match at 0.98")
      // batch 2: near-copies of vectors 3 and 7 + two fresh directions
      input.addData((103L, near(centers(3))), (107L, near(centers(7))),
        (200L, near(Array.fill(dim)(rnd.nextGaussian()))),
        (201L, near(Array.fill(dim)(rnd.nextGaussian()))))
      q.processAllAvailable()
      val pairs = spark.table("embed_dups")
        .select("vec_id", "matched_id").distinct().as[(Long, Long)].collect().toSet
      assert(pairs === Set((103L, 3L), (107L, 7L)), s"got $pairs")
      // scores are exact cosines, all >= threshold
      assert(spark.table("embed_dups").select("cosine").as[Double].collect()
        .forall(c => c >= 0.98 && c <= 1.0 + 1e-9))
      // clone-of-clone resolves against ALL prior state
      input.addData((300L, near(centers(3))))
      q.processAllAvailable()
      val all = spark.table("embed_dups")
        .select("vec_id", "matched_id").distinct().as[(Long, Long)].collect().toSet
      assert(all === Set((103L, 3L), (107L, 7L), (300L, 3L), (300L, 103L)), s"got $all")
      q.stop()
    }.exists(_.contains("Failed to compile")))
    finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming SemDeDup: monotone batches == batch semDedup, with " +
      "shuffled in-batch arrival; replay state survives") {
    import graft.streaming.StreamingSemDedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the state encoder's generated code must compile (see the AUTO test)
    try assert(!errorsLogged {
      val e = sf("sf0.001", "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("embedding"))
      val cents = e.filter(col("vec_id").isin(0L, 3L, 11L, 17L))
        .orderBy("vec_id").select("embedding")
        .collect().map(_.getSeq[Double](0).toSeq).toIndexedSeq
      val tau = 0.35
      val rows = e.as[(Long, Seq[Double])].collect().sortBy(_._1)
      // three monotone-id batches, each REVERSED so arrival order inside
      // a batch contradicts id order (the processor must sort)
      val batches = rows.grouped(rows.length / 3 + 1).toSeq.map(_.reverse)
      val input = MemoryStream[(Long, Seq[Double])]
      val q = StreamingSemDedup.kept(
          input.toDF().toDF("vec_id", "embedding"),
          "vec_id", "embedding", cents, threshold = tau)
        .writeStream.format("memory").queryName("semdedup_kept")
        .outputMode(OutputMode.Append()).start()
      for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("semdedup_kept")
        .as[(Long, Int)].collect().toMap
      val batch = graft.ext.Dedup.semDedup(e, "vec_id", "embedding", cents,
          threshold = tau)
        .select("vec_id", "cluster_id")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === batch,
        "stream over monotone batches must equal the batch operator")
      assert(got.size < rows.length,
        "sf0.001 embeddings should contain semantic dups")
      q.stop()
    }.exists(_.contains("Failed to compile")))
    finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("TTL state: duplicate key dropped within TTL, accepted again after expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Long)]
      val q = EventStreams.dedupWithTtl(input.toDS(), java.time.Duration.ofSeconds(10))
        .writeStream.format("memory").queryName("ttl_dedup")
        .outputMode(OutputMode.Update()).start()
      // NOTE: under TimeMode.ProcessingTime the operator keeps scheduling
      // no-data batches to advance TTL eviction, so processAllAvailable
      // never quiesces — poll the sink with a deadline instead
      def rows(): Set[(String, Long)] = spark.table("ttl_dedup").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      def awaitRows(expect: Set[(String, Long)], ms: Long = 60000): Unit = {
        val deadline = System.currentTimeMillis + ms
        while (rows() != expect && System.currentTimeMillis < deadline)
          Thread.sleep(200)
        assert(rows() === expect)
      }
      input.addData(("k1", 1L), ("k2", 2L))
      awaitRows(Set(("k1", 1L), ("k2", 2L)))
      input.addData(("k1", 3L)) // within TTL -> dropped
      Thread.sleep(3000)        // give the batch time to (not) emit
      assert(rows() === Set(("k1", 1L), ("k2", 2L)), s"dup leaked: ${rows()}")
      Thread.sleep(10000) // let the 10s TTL lapse
      input.addData(("k1", 4L)) // expired -> accepted again
      awaitRows(Set(("k1", 1L), ("k2", 2L), ("k1", 4L)))
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("registered timers: session closes after inactivity, new events re-open") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStreams.Ev]
      val q = EventStreams.sessionsByInactivity(input.toDS(), idleMs = 3000)
        .writeStream.format("memory").queryName("inactive_sessions")
        .outputMode(OutputMode.Update()).start()
      def ev(id: Long, u: Long, v: Double) =
        EventStreams.Ev(id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, "click", v)
      def sessions(): Seq[(Long, Long, Double)] = spark.table("inactive_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      def awaitSessions(n: Int, ms: Long = 90000): Unit = {
        val deadline = System.currentTimeMillis + ms
        while (sessions().size < n && System.currentTimeMillis < deadline)
          Thread.sleep(250)
        assert(sessions().size >= n, s"only ${sessions()} after ${ms}ms")
      }
      input.addData(ev(1, 7, 1.0), ev(2, 7, 2.0))
      Thread.sleep(1000)
      input.addData(ev(3, 7, 3.0)) // extends the deadline — still one session
      awaitSessions(1)             // fires ~3s after the last event
      val s1 = sessions()
      assert(s1 === Seq((7L, 3L, 6.0)), s"got $s1")
      // activity after close opens a NEW session that closes independently
      input.addData(ev(4, 7, 10.0))
      awaitSessions(2)
      assert(sessions().toSet === Set((7L, 3L, 6.0), (7L, 1L, 10.0)), sessions().toString)
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState: same totals as mapGroupsWithState, RocksDB-backed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStreams.Ev]
      val q = EventStreams.runningUserTotalsTws(input.toDS()).writeStream
        .format("memory").queryName("user_totals_tws").outputMode(OutputMode.Update())
        .start()
      def ev(id: Long, u: Long, v: Double) =
        EventStreams.Ev(id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, "click", v)
      // same feed as the mapGroupsWithState test -> must match its outputs
      input.addData(ev(1, 7, 1.5), ev(2, 7, 2.5), ev(3, 8, 10.0))
      q.processAllAvailable()
      input.addData(ev(4, 7, 6.0))
      q.processAllAvailable()
      val rows = spark.table("user_totals_tws").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.maxBy(_.getLong(1))).toMap
      assert(rows(7L).getLong(1) === 3L)
      assert(math.abs(rows(7L).getDouble(2) - 10.0) < 1e-9)
      assert(rows(8L).getLong(1) === 1L)
      q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("adaptive embed-dedup foundations: signature prefix law + depthFor candidate bound") {
    import graft.ext.Similarity
    import graft.streaming.StreamingEmbedDedup
    import spark.implicits._
    // prefix law: the b-bit signature IS the low-b-bit mask of the deep one,
    // for every table — this is what lets the adaptive processor deepen its
    // comparison mask without re-keying already-banded state
    val dim = 16
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L).map(i => (i, Array.fill(dim)(rnd.nextGaussian()).toSeq))
      .toDF("vec_id", "v").withColumn("v", col("v").cast("array<double>"))
    for (table <- Seq(0, 3); b <- Seq(4, 8, 11)) {
      val bad = vecs.select(
        Similarity.lshSignature(col("v"), dim, table, b).as("shallow"),
        Similarity.lshSignature(col("v"), dim, table, 14)
          .bitwiseAND(lit((1L << b) - 1L)).as("masked"))
        .filter(col("shallow") =!= col("masked")).count()
      assert(bad === 0L, s"prefix law broken at table=$table bits=$b")
    }
    // depthFor: monotone in count, clamped at maxBits, and while unclamped
    // the expected depth-prefix bucket occupancy stays <= targetBucket
    // (count / 2^(depth - keyBits) <= targetBucket) — the bounded-work law
    val (keyBits, maxBits, tb) = (8, 20, 64)
    var last = 0
    for (c <- Seq(1, 63, 64, 65, 128, 1000, 10000, 1000000)) {
      val d = StreamingEmbedDedup.depthFor(c, keyBits, maxBits, tb)
      assert(d >= last, s"depthFor not monotone at $c"); last = d
      assert(d >= keyBits && d <= maxBits)
      if (d < maxBits)
        assert(c.toDouble / (1L << (d - keyBits)) <= tb.toDouble,
          s"occupancy bound broken at count=$c depth=$d")
    }
    assert(StreamingEmbedDedup.depthFor(Int.MaxValue, keyBits, maxBits, tb) === maxBits)
  }

  test("streaming embedding near-dup AUTO: clones resolve across batches and " +
      "comparisons stay bounded as accumulated state grows") {
    import graft.streaming.StreamingEmbedDedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the state encoder's generated code must compile: a state class the
    // generated Java cannot reach logs "Failed to compile" for its state
    // reads and writes, which fall back to an interpreted projection
    try assert(!errorsLogged {
      val dim = 8
      val rnd = new scala.util.Random(23)
      def fresh() = Array.fill(dim)(rnd.nextGaussian()).toSeq
      // small knobs to make depth adaptation visible at test scale:
      // keyBits=4 -> 16 grouping keys per table, targetBucket=8 -> buckets
      // outgrow the target ~20x by end of stream
      val (tables, keyBits, maxBits, targetBucket) = (4, 4, 12, 8)
      val n = 3000
      val base = (0L until n.toLong).map(i => (i, fresh()))
      val input = MemoryStream[(Long, Seq[Double])]
      val bucketed = StreamingEmbedDedup.bucketedAdaptive(
        input.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim, tables, keyBits, maxBits)
      val q = bucketed.groupByKey(_.bucket)
        .transformWithState(
          new StreamingEmbedDedup.AdaptiveEmbedDupProcessor(
            0.98, keyBits, maxBits, targetBucket, 10000),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
        .writeStream.format("memory").queryName("embed_dups_auto")
        .outputMode(OutputMode.Append()).start()
      StreamingEmbedDedup.compareCount.reset()
      // batch 1: half the corpus; batch 2: the rest; batch 3: exact clones —
      // exact dups share the FULL deep signature, so depth growth can never
      // hide them (they collide in every table at every epoch)
      input.addData(base.take(n / 2): _*)
      q.processAllAvailable()
      val firstHalf = StreamingEmbedDedup.compareCount.sum()
      input.addData(base.drop(n / 2): _*)
      q.processAllAvailable()
      val secondHalf = StreamingEmbedDedup.compareCount.sum() - firstHalf
      input.addData((10003L, base(3)._2), (10007L, base(7)._2))
      q.processAllAvailable()
      val pairs = spark.table("embed_dups_auto")
        .filter(col("vec_id") >= 10000L)
        .select("vec_id", "matched_id").distinct().as[(Long, Long)].collect().toSet
      assert(pairs.contains((10003L, 3L)) && pairs.contains((10007L, 7L)),
        s"clones must match their originals through accumulated state, got $pairs")
      // bounded-work law: with ~188-member end-state buckets a FIXED
      // keyBits-depth processor pays ~sum(c^2/2) ~= 2.2M dots across
      // 4 tables; the adaptive mask keeps per-arrival candidates near
      // targetBucket — assert well under half the fixed cost and within
      // a generous absolute budget of rows*tables*targetBucket*6
      val total = StreamingEmbedDedup.compareCount.sum()
      val fixedCost = tables.toLong * (1 << keyBits) *
        ((n.toLong / (1 << keyBits)) * (n.toLong / (1 << keyBits)) / 2)
      assert(total < fixedCost / 2,
        s"adaptive cost $total should be far under fixed-depth ~$fixedCost")
      assert(total <= n.toLong * tables * targetBucket * 6,
        s"adaptive cost $total exceeded the bounded-work budget")
      // flat cost curve: the second half of the stream arrives into state
      // twice as large, but per-row cost must not scale with state size
      // (fixed bits would make it ~3x the first half's)
      assert(secondHalf <= firstHalf * 5 / 2,
        s"second-half comparisons $secondHalf vs first-half $firstHalf — " +
          "per-row cost is scaling with accumulated state")
      q.stop()
    }.exists(_.contains("Failed to compile")))
    finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming embedding near-dup: tables=0/bits=0 routes to AUTO and still " +
      "finds batch-2 clones") {
    import graft.streaming.StreamingEmbedDedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dim = 16
      val rnd = new scala.util.Random(31)
      val centers = (0 until 12).map(_ => Array.fill(dim)(rnd.nextGaussian()))
      def near(c: Array[Double]) = c.map(x => x + 0.01 * rnd.nextGaussian()).toSeq
      val originals = (0L until 12L).map(i => (i, near(centers(i.toInt))))
      val input = MemoryStream[(Long, Seq[Double])]
      // the public contract under test is the tables=0/bits=0 routing into
      // matchesAuto (default 10M horizon -> 40 tables x 18 bits; 12 vectors
      // of dim 16 keep the explode trivial at spec scale)
      val q = StreamingEmbedDedup.matches(
          input.toDF().toDF("vec_id", "embedding"),
          "vec_id", "embedding", dim = dim, tables = 0, bits = 0,
          threshold = 0.98)
        .writeStream.format("memory").queryName("embed_dups_auto2")
        .outputMode(OutputMode.Append()).start()
      input.addData(originals: _*)
      q.processAllAvailable()
      assert(spark.table("embed_dups_auto2").count() === 0)
      input.addData((103L, near(centers(3))), (107L, near(centers(7))))
      q.processAllAvailable()
      val pairs = spark.table("embed_dups_auto2")
        .select("vec_id", "matched_id").distinct().as[(Long, Long)].collect().toSet
      assert(pairs === Set((103L, 3L), (107L, 7L)), s"got $pairs")
      assert(spark.table("embed_dups_auto2").select("cosine").as[Double]
        .collect().forall(c => c >= 0.98 && c <= 1.0 + 1e-9))
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
