package graft

import graft.sink.{BundleCompact, BundleSink}
import graft.streaming.BundleStream
import graft.transform.DocTransform
import java.nio.file.Files
import org.apache.spark.sql.functions._

class BundleCompactSpec extends SparkSpec {

  test("compaction: many small batch files -> filesPerShard, counts preserved, reads intact") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(docs, s"$dir/idx", 3, 2, repartition = true)
    // simulate streaming fragmentation: several extra batch commits
    for (b <- 1 to 4)
      graft.streaming.BundleStreamWriter.commitBatch(
        DocTransform.docs(sf("sf0.001", "customer"), "c_custkey", None),
        b.toLong, s"$dir/idx", 3)
    val preCount = spark.read.schema(BundleStream.bundleSchema)
      .json(s"$dir/idx/data").count()

    val r = BundleCompact.compact(spark, s"$dir/idx", filesPerShard = 1)
    assert(r.docs === preCount)
    assert(r.filesAfter < r.filesBefore)
    assert(r.filesAfter <= 3L * 2) // ~filesPerShard per shard (hash collisions may split)

    val back = spark.read.schema(BundleStream.bundleSchema).json(s"$dir/idx/data")
    assert(back.count() === preCount)
    // placement still holds after the rewrite
    val misplaced = back.filter(col("_shard") =!=
      graft.functions.EsFunctions.es_shard(col("_routing"), 3)).count()
    assert(misplaced === 0L)
    // no leftover staging dirs
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/idx/data-staging")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/idx/data-old")))
  }

  test("parquet bundle compaction: format from manifest, typed columns intact") {
    // the earlier json-schema-only rewrite would have parsed parquet bytes
    // as json lines and swapped garbage into place — this pins the
    // format-aware path end to end on a COLUMNAR (typed-field) bundle, at
    // the default codec and at one the manifest must carry through
    for (compression <- Seq(None, Some("snappy"))) {
      val dir = Files.createTempDirectory("graft-compact-pq").toString
      val docs = DocTransform.docsColumnar(
        sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
      BundleSink.write(docs, s"$dir/idx", 3, 4, repartition = true, format = "columnar",
        compression = compression)
      val pre = spark.read.parquet(s"$dir/idx/data")
      val preCount = pre.count()
      val preSum = pre.agg(sum("o_totalprice")).head().getDouble(0)

      val r = BundleCompact.compact(spark, s"$dir/idx", filesPerShard = 1)
      assert(r.docs === preCount)
      assert(r.filesAfter <= 3L)

      val back = spark.read.parquet(s"$dir/idx/data")
      assert(back.count() === preCount)
      // typed content survived byte-exactly enough to re-aggregate
      assert(math.abs(back.agg(sum("o_totalprice")).head().getDouble(0) - preSum) < 1e-6)
      val misplaced = back.filter(col("_shard") =!=
        graft.functions.EsFunctions.es_shard(col("_routing"), 3)).count()
      assert(misplaced === 0L)
      val suffix = s".${compression.getOrElse("zstd")}.parquet"
      val files = new java.io.File(s"$dir/idx/data").listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).map(_.getName).filter(_.startsWith("part-"))
      assert(files.nonEmpty && files.forall(_.endsWith(suffix)), files.toSeq)
    }
  }

  test("multi-index bundle compaction: per (index, shard), layout preserved") {
    val dir = Files.createTempDirectory("graft-compact-multi").toString
    val src = sf("sf0.001", "orders")
      .withColumn("idx", concat(lit("t_"), col("o_orderstatus")))
    val docs = DocTransform.docs(src, "o_orderkey", Some("o_custkey"), keepCols = Seq("idx"))
    BundleSink.writeMulti(docs, s"$dir/multi", "idx", numShards = 3,
      partitionMultiples = 4, format = "parquet")
    val preCount = spark.read.parquet(s"$dir/multi/data").count()

    val r = BundleCompact.compact(spark, s"$dir/multi", filesPerShard = 1)
    assert(r.docs === preCount)

    val back = spark.read.parquet(s"$dir/multi/data")
    assert(back.count() === preCount)
    assert(back.select("_index").distinct().count() === 3)
    // both partition levels survived on disk
    val idxDirs = new java.io.File(s"$dir/multi/data").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("_index="))
    assert(idxDirs.length === 3, idxDirs.toSeq)
    assert(new java.io.File(s"$dir/multi/data/${idxDirs.head}").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("_shard=")))
    // post-compaction the bundle still validates per index
    val reps = graft.sink.BundleValidate.validateMulti(spark, s"$dir/multi")
    assert(reps.values.forall(_.ok),
      reps.toSeq.flatMap { case (i, rep) => rep.problems.map(s"$i: " + _) }.mkString("; "))
  }
}
