package graft

import graft.sink.{BundleSink, BundleValidate}
import graft.sources.BundleManifest
import graft.transform.DocTransform
import java.nio.file.Files
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/**
 * Concurrent-append manifest coordination (the round-6 "serialize appends
 * per bundle" restriction, lifted): N appends race on one bundle and NO
 * count may be lost. The mechanism under test is the `.manifest-cas/`
 * version chain — atomic claim of the next version, re-read + re-merge on
 * a lost claim — with `manifest.json` kept as a converging mirror for
 * legacy readers. The reference serialized this through its ZK leader
 * (`ServerNotifier.scala:21-50` registers the job, the elected leader owns
 * index state transitions); the chain gets the same no-lost-update
 * guarantee from the filesystem's own atomic namespace ops, so appends
 * from independent Spark jobs need no coordinator at all.
 */
class ConcurrentAppendSpec extends SparkSpec {

  private def mkBundle(): (String, BundleSink.Result) = {
    val out = Files.createTempDirectory("graft-casapp").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    val res = BundleSink.write(docs, s"$out/idx", numShards = 3,
      partitionMultiples = 2, repartition = true, indexName = "idx")
    (s"$out/idx", res)
  }

  /** 5 region docs with thread-unique ids/routing, distinguishable in the
    * merged bundle. */
  private def delta(tag: String) =
    DocTransform.docs(
      sf("sf0.001", "region").withColumn("rid",
        concat(lit(s"$tag-"), col("r_regionkey"))), "rid", None)

  test("racing appends lose no counts; manifest, mirror and data agree") {
    val (dir, before) = mkBundle()
    val writers = 6
    // all appends in flight at once on the shared session: every loser of
    // a version claim must re-read the winner's counts and re-merge
    val fs = Await.result(Future.sequence((0 until writers).map(i =>
      Future(BundleSink.insertInto(delta(s"t$i"), dir, overwrite = false)))),
      5.minutes)
    val expected = before.totalDocs + writers * 5
    // every append's Result already reflects a merged state >= its own
    // contribution; the largest one is the final state
    assert(fs.map(_.totalDocs).max === expected)

    val back = spark.read.format("graft-bundle").load(dir)
    assert(back.count() === expected)
    // authoritative counts (chain head) match the data exactly, per shard
    val counts = BundleManifest.shardCounts(spark, dir).get
    assert(counts.values.sum === expected, "a lost update dropped counts")
    val actual = back.groupBy("_shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.filter(_._2 > 0) === actual)
    // chain published every version exactly once: v1..vN content files
    val chain = new java.io.File(dir, ".manifest-cas").listFiles()
      .map(_.getName).filter(_.endsWith(".json")).sorted
    assert(chain.toSeq === (1 to writers).map(v => s"v$v.json").sorted)
    // the legacy mirror converged to the chain head
    val mirror = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    assert(s""""totalDocs":$expected""".r.findFirstIn(mirror).isDefined,
      s"manifest.json mirror lagging: $mirror")
    assert(BundleValidate.validate(spark, dir).ok)
  }

  /** One index under one bundle layout, as the chain laws drive it: its
    * chain dir, its manifest mirror, its docs before any append, an append
    * of [[delta]], its authoritative per-shard counts, and its validation. */
  private case class Target(layout: String, chain: java.io.File,
                            mirror: java.nio.file.Path, before: Long,
                            append: String => Unit,
                            counts: () => Map[Int, Long], valid: () => Boolean)

  /** A fresh single-index bundle, and index t0 of a fresh multi-index one. */
  private def targets(): Seq[Target] = {
    val (dir, before) = mkBundle()
    val root = Files.createTempDirectory("graft-casapp-multi").toString + "/multi"
    val tiered = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
      .withColumn("tier", concat(lit("t"), pmod(col("_id").cast("long"), lit(2))))
    val multi = BundleSink.writeMulti(tiered, root, "tier", numShards = 2,
      partitionMultiples = 2)
    def t0 = BundleValidate.validateMulti(spark, root)
    Seq(
      Target("single-index", new java.io.File(dir, ".manifest-cas"),
        java.nio.file.Paths.get(dir, "manifest.json"), before.totalDocs,
        tag => BundleSink.insertInto(delta(tag), dir, overwrite = false),
        () => BundleManifest.shardCounts(spark, dir).get,
        () => BundleValidate.validate(spark, dir).ok),
      Target("multi-index", new java.io.File(root, ".manifest-cas_t0"),
        java.nio.file.Paths.get(root, "manifest_t0.json"), multi("t0").totalDocs,
        tag => BundleSink.insertIntoMulti(delta(tag).withColumn("_index", lit("t0")), root),
        () => t0("t0").shards.map(s => s.shard -> s.expectedDocs).toMap,
        () => t0.values.forall(_.ok)))
  }

  test("a stale mirror never wins: readers prefer the chain head") {
    for (t <- targets()) {
      val stale = java.nio.file.Files.readAllBytes(t.mirror)
      t.append("x")
      val good = t.counts()
      assert(good.values.sum === t.before + 5, t.layout)
      // wind the mirror back to the pre-append manifest (a racing appender's
      // in-flight overwrite, frozen at the worst moment)
      java.nio.file.Files.write(t.mirror, stale)
      java.nio.file.Files.deleteIfExists(
        t.mirror.resolveSibling(s".${t.mirror.getFileName}.crc"))
      assert(t.counts() === good,
        s"${t.layout}: manifest reads must come from the CAS chain while one exists")
      assert(t.valid(),
        s"${t.layout}: validation must judge the chain head, not the stale mirror")
    }
  }

  test("sequential appends keep versioning; chain pruned behind the head") {
    for (t <- targets()) {
      for (i <- 1 to 10) t.append(s"s$i")
      assert(t.counts().values.sum === t.before + 50, t.layout)
      val versions = t.chain.listFiles().map(_.getName).filter(_.endsWith(".json"))
        .map(_.stripPrefix("v").stripSuffix(".json").toInt).sorted
      assert(versions.max === 10, t.layout)
      assert(versions.min > 2,
        s"${t.layout}: entries >8 behind the head must be pruned: ${versions.toSeq}")
      assert(t.valid(), t.layout)
    }
  }

  test("a full overwrite deletes the chain: manifest.json is the authority again") {
    val (dir, _) = mkBundle()
    BundleSink.insertInto(delta("y"), dir, overwrite = false)
    assert(new java.io.File(dir, ".manifest-cas").exists())
    BundleSink.insertInto(delta("z"), dir, overwrite = true)
    assert(!new java.io.File(dir, ".manifest-cas").exists(),
      "stale chain would shadow the fresh manifest")
    assert(BundleManifest.shardCounts(spark, dir).get.values.sum === 5)
    assert(BundleValidate.validate(spark, dir).ok)
  }
  test("racing multi-index appends: same-index races merge, cross-index never contend, validateMulti green") {
    val out = Files.createTempDirectory("graft-casapp-multi").toString
    val root = s"$out/multi"
    val base = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
      .withColumn("tier", concat(lit("t"), pmod(col("_id").cast("long"), lit(2))))
    val before = BundleSink.writeMulti(base, root, "tier", numShards = 2,
      partitionMultiples = 2)
    // 6 racing appends: 4 into t0 (same-index CAS contention), 2 into t1,
    // each with thread-unique ids
    def d(tag: String, tier: String) = DocTransform.docs(
      sf("sf0.001", "region").withColumn("rid",
        concat(lit(s"$tag-"), col("r_regionkey"))), "rid", None)
      .withColumn("_index", lit(tier))
    val fs = Await.result(Future.sequence(
      (0 until 4).map(i => Future(BundleSink.insertIntoMulti(d(s"a$i", "t0"), root))) ++
      (0 until 2).map(i => Future(BundleSink.insertIntoMulti(d(s"b$i", "t1"), root)))),
      5.minutes)
    val expT0 = before("t0").totalDocs + 4 * 5
    val expT1 = before("t1").totalDocs + 2 * 5
    // final chain state per index carries every delta
    assert(fs.flatMap(_.get("t0")).map(_.totalDocs).max === expT0,
      "a lost update dropped t0 counts")
    assert(fs.flatMap(_.get("t1")).map(_.totalDocs).max === expT1,
      "a lost update dropped t1 counts")
    // mirrors converged and every index validates (counts + placement)
    val reports = BundleValidate.validateMulti(spark, root)
    assert(reports("t0").shards.map(_.docs).sum === expT0)
    assert(reports("t1").shards.map(_.docs).sum === expT1)
    assert(reports.values.forall(_.ok),
      reports.map { case (i, r) => s"$i: ${r.problems}" }.mkString("; "))
    // data agrees with the manifests
    val t0 = spark.read.json(s"$root/data/_index=t0").count()
    assert(t0 === expT0)
  }
}
