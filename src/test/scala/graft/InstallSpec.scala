package graft

import graft.sink.{BundleInstall, BundleSink}
import graft.transform.DocTransform
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Consumer install daemon (reference IndexBuilder poll/verify/install/mark
  * semantics): arrival order, in-flight skipping, tamper rejection,
  * idempotent re-runs, completion-marker drain. */
class InstallSpec extends SparkSpec {

  private def writeBundle(root: String, name: String): Unit = {
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(docs, s"$root/$name", numShards = 3,
      partitionMultiples = 2, repartition = true, indexName = name)
  }

  test("arrival order: ready bundle installs, in-flight producer is skipped until done") {
    val incoming = Files.createTempDirectory("graft-install-in").toString
    val installed = Files.createTempDirectory("graft-install-out").toString
    writeBundle(incoming, "idx_a")
    writeBundle(incoming, "idx_b")
    // simulate a producer mid-write on idx_b (protocol creates _STARTED in
    // setupJob; it is only deleted after the manifest lands)
    Files.createFile(Paths.get(s"$incoming/idx_b/_STARTED"))

    val pass1 = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass1.collect { case i: BundleInstall.Installed => i.bundle } === Seq("idx_a"))
    assert(pass1.collect { case s: BundleInstall.Skipped => (s.bundle, s.reason) }
      .exists { case (b, r) => b == "idx_b" && r.contains("_STARTED") })
    assert(Files.exists(Paths.get(s"$installed/idx_a/_INSTALLED")))
    assert(!Files.exists(Paths.get(s"$incoming/idx_a")), "installed bundle should MOVE")
    // the installed bundle serves reads through the connector
    assert(spark.read.format("graft-bundle").load(s"$installed/idx_a").count() === 1500L)

    // producer finishes idx_b -> next pass installs it; nothing else to do
    Files.delete(Paths.get(s"$incoming/idx_b/_STARTED"))
    val pass2 = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass2.collect { case i: BundleInstall.Installed => i.bundle } === Seq("idx_b"))
    val pass3 = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass3.forall(_.isInstanceOf[BundleInstall.Skipped]) && pass3.isEmpty)
  }

  test("pretty-printed manifests: a completed one installs, a streaming one is skipped") {
    val incoming = Files.createTempDirectory("graft-install-pretty").toString
    val installed = Files.createTempDirectory("graft-install-pout").toString
    writeBundle(incoming, "idx_done")
    writeBundle(incoming, "idx_live")
    prettyPrint(s"$incoming/idx_done/manifest.json")()
    prettyPrint(s"$incoming/idx_live/manifest.json") { m =>
      m.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("state", "streaming")
    }
    assert(Files.readString(Paths.get(incoming, "idx_done", "manifest.json"))
      .contains("\"state\" : \"completed\""), "precondition: pretty-printed")
    val pass = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass.collect { case i: BundleInstall.Installed => i.bundle } === Seq("idx_done"))
    assert(pass.collect { case s: BundleInstall.Skipped => (s.bundle, s.reason) }
      .exists { case (b, r) => b == "idx_live" && r.contains("manifest state not completed") },
      pass.toString)
    assert(spark.read.format("graft-bundle").load(s"$installed/idx_done").count() === 1500L)
  }

  test("tamper: a bundle missing a committed data file is marked _INVALID, never installed") {
    val incoming = Files.createTempDirectory("graft-install-tamper").toString
    val installed = Files.createTempDirectory("graft-install-tout").toString
    writeBundle(incoming, "idx_t")
    // delete one committed data file from a shard dir (half-copied bundle)
    val shardDir = new java.io.File(s"$incoming/idx_t/data/_shard=0")
    val victim = shardDir.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")).head
    assert(victim.delete())

    val pass = BundleInstall.installOnce(spark, incoming, installed)
    val bad = pass.collect { case i: BundleInstall.Invalid => i }
    assert(bad.map(_.bundle) === Seq("idx_t"))
    assert(bad.head.problems.exists(_.contains("shard 0")), bad.head.problems)
    assert(Files.exists(Paths.get(s"$incoming/idx_t/_INVALID")))
    assert(!Files.exists(Paths.get(s"$installed/idx_t")), "invalid bundle must not install")
    // idempotent: marked-invalid bundles are skipped, not revalidated
    val again = BundleInstall.installOnce(spark, incoming, installed)
    assert(again.collect { case s: BundleInstall.Skipped => s.reason }
      .exists(_.contains("invalid")))
  }

  test("streaming bundle: in-flight (state streaming) is skipped; sealed bundle validates and installs") {
    import org.apache.spark.sql.functions._
    val incoming = Files.createTempDirectory("graft-install-stream").toString
    val installed = Files.createTempDirectory("graft-install-sout").toString
    val srcDir = Files.createTempDirectory("graft-install-src").toString
    sf("sf0.001", "orders").write.mode("overwrite").parquet(srcDir)
    val src = spark.read.parquet(srcDir)
    val stream = spark.readStream.schema(src.schema).parquet(srcDir)
    val docs = DocTransform.docs(stream, "o_orderkey", Some("o_custkey"))
    val out = s"$incoming/idx_s"
    val q = graft.streaming.BundleStreamWriter.start(docs, out, numShards = 3,
      checkpointDir = Files.createTempDirectory("graft-install-ckpt").toString)
    q.awaitTermination(120000)

    // drained but UNSEALED: manifest still says state streaming -> in-flight
    val pass1 = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass1.collect { case s: BundleInstall.Skipped => s.reason }
      .exists(_.contains("manifest state not completed")), pass1.toString)
    assert(!Files.exists(Paths.get(s"$incoming/idx_s/_INVALID")),
      "in-flight streaming bundle must not be quarantined")

    // seal -> full manifest + shard_state; now validates green and installs
    val res = graft.streaming.BundleStreamWriter.seal(spark, out, numShards = 3,
      indexName = "idx_s")
    assert(res.totalDocs === 1500L)
    val report = graft.sink.BundleValidate.validate(spark, out)
    assert(report.ok, report.problems.mkString("; "))
    val pass2 = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass2.collect { case i: BundleInstall.Installed => i.bundle } === Seq("idx_s"))
    assert(spark.read.format("graft-bundle").load(s"$installed/idx_s").count() === 1500L)
  }

  test("multi-index bundle: per-index validation, installs whole bundle, tamper caught per index") {
    import org.apache.spark.sql.functions._
    val incoming = Files.createTempDirectory("graft-install-multi").toString
    val installed = Files.createTempDirectory("graft-install-mout").toString
    val src = sf("sf0.001", "orders")
      .withColumn("idx", concat(lit("t_"), col("o_orderstatus")))
    val docs = DocTransform.docs(src, "o_orderkey", Some("o_custkey"), keepCols = Seq("idx"))
    BundleSink.writeMulti(docs, s"$incoming/multi_a", "idx", numShards = 3,
      partitionMultiples = 2)

    // validateMulti: every index green against its own manifest
    val reports = graft.sink.BundleValidate.validateMulti(spark, s"$incoming/multi_a")
    assert(reports.keySet === Set("t_O", "t_F", "t_P"))
    assert(reports.values.forall(_.ok),
      reports.toSeq.flatMap { case (i, r) => r.problems.map(s"$i: " + _) }.mkString("; "))

    // daemon installs the whole multi bundle
    val pass = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass.collect { case i: BundleInstall.Installed => (i.bundle, i.docs) } ===
      Seq(("multi_a", 1500L)))
    assert(spark.read.format("graft-bundle").load(s"$installed/multi_a")
      .select("_index").distinct().count() === 3)

    // tamper one index -> Invalid names the index, bundle not installed
    BundleSink.writeMulti(docs, s"$incoming/multi_b", "idx", numShards = 3,
      partitionMultiples = 2)
    val victimDir = new java.io.File(s"$incoming/multi_b/data/_index=t_O/_shard=0")
    val victim = victimDir.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")).head
    assert(victim.delete())
    val pass2 = BundleInstall.installOnce(spark, incoming, installed)
    val bad = pass2.collect { case i: BundleInstall.Invalid => i }
    assert(bad.map(_.bundle) === Seq("multi_b"))
    assert(bad.head.problems.exists(_.startsWith("[t_O]")), bad.head.problems)
    assert(!Files.exists(Paths.get(s"$installed/multi_b")))
  }

  test("multi-index bundle: data _index with no manifest is flagged, bundle refused") {
    import org.apache.spark.sql.functions._
    val incoming = Files.createTempDirectory("graft-install-orphan").toString
    val installed = Files.createTempDirectory("graft-install-oout").toString
    val src = sf("sf0.001", "orders")
      .withColumn("idx", concat(lit("t_"), col("o_orderstatus")))
    val docs = DocTransform.docs(src, "o_orderkey", Some("o_custkey"), keepCols = Seq("idx"))
    BundleSink.writeMulti(docs, s"$incoming/multi_o", "idx", numShards = 3,
      partitionMultiples = 2)
    // simulate a producer that died mid-manifest-loop: data for t_O exists
    // but its manifest never landed
    Files.delete(Paths.get(s"$incoming/multi_o/manifest_t_O.json"))
    val reports = graft.sink.BundleValidate.validateMulti(spark, s"$incoming/multi_o")
    assert(reports.contains("t_O"), "orphan index must be reported")
    assert(!reports("t_O").ok, "orphan index must fail validation")
    // daemon refuses the bundle instead of installing it minus an index
    val pass = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass.collect { case i: BundleInstall.Invalid => i.bundle } === Seq("multi_o"))
    assert(!Files.exists(Paths.get(s"$installed/multi_o")))
  }

  test("one broken bundle does not abort the pass for the others") {
    val incoming = Files.createTempDirectory("graft-install-broken").toString
    val installed = Files.createTempDirectory("graft-install-bout").toString
    // aaa_broken sorts FIRST: manifest claims completed but has no numShards
    // and no data — validation throws. Before per-bundle containment, that
    // exception aborted installOnce and zzz_good never installed.
    Files.createDirectories(Paths.get(s"$incoming/aaa_broken"))
    Files.writeString(Paths.get(s"$incoming/aaa_broken/manifest.json"),
      """{"state":"completed"}""")
    writeBundle(incoming, "zzz_good")
    val pass = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass.collect { case i: BundleInstall.Installed => i.bundle } === Seq("zzz_good"))
    assert(pass.collect { case s: BundleInstall.Skipped => (s.bundle, s.reason) }
      .exists { case (b, r) => b == "aaa_broken" && r.contains("install error") })
    // transient classification: no _INVALID marker, a later pass retries
    assert(!Files.exists(Paths.get(s"$incoming/aaa_broken/_INVALID")))
  }

  test("watch: drains arrived bundles, compacts on request, stops on _COMPLETE") {
    val incoming = Files.createTempDirectory("graft-install-watch").toString
    val installed = Files.createTempDirectory("graft-install-wout").toString
    writeBundle(incoming, "idx_w")
    Files.createFile(Paths.get(s"$incoming/_COMPLETE"))
    val outcomes = BundleInstall.watch(spark, incoming, installed,
      compact = true, pollMs = 100L, timeoutMs = 120000L)
    assert(outcomes.collect { case i: BundleInstall.Installed => i.bundle } === Seq("idx_w"))
    // compaction ran: one file per shard
    for (s <- 0 to 2) {
      val files = new java.io.File(s"$installed/idx_w/data/_shard=$s").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(files.length === 1, s"shard $s not compacted: ${files.length} files")
    }
    assert(spark.read.format("graft-bundle").load(s"$installed/idx_w").count() === 1500L)
  }
  test("finalize: finalSettings recorded once, alias swap repoints to the newest bundle, heal + idempotent re-pass") {
    val incoming = Files.createTempDirectory("graft-install-fin-in").toString
    val installed = Files.createTempDirectory("graft-install-fin-out").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(docs, s"$incoming/idx_v1", numShards = 2,
      partitionMultiples = 2, repartition = true, indexName = "idx_v1",
      alias = Some("orders_live"),
      finalSettings = Map("refresh_interval" -> "1s", "number_of_replicas" -> "2"))

    val pass = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass.collect { case i: BundleInstall.Installed => i.bundle } === Seq("idx_v1"))
    // applied-settings record: the manifest's finalSettings became the
    // bundle's effective serving settings, atomically, at install time
    val markerPath = Paths.get(s"$installed/idx_v1/_FINALIZED")
    assert(Files.exists(markerPath), "_FINALIZED record missing after install")
    val rec = new String(Files.readAllBytes(markerPath), "UTF-8")
    assert(rec.contains("\"number_of_replicas\":\"2\"") &&
      rec.contains("\"refresh_interval\":\"1s\"") &&
      rec.contains("\"alias\":\"orders_live\""), rec)
    // alias resolvable: the reference alias-swap's lookup indirection
    assert(BundleInstall.resolveAlias(spark, installed, "orders_live")
      === Some(("idx_v1", "idx_v1")))
    assert(BundleInstall.resolveAlias(spark, installed, "nope") === None)

    // applied ONCE: a re-pass must not rewrite the record
    val mtime1 = Files.getLastModifiedTime(markerPath)
    Thread.sleep(1200)
    val again = BundleInstall.installOnce(spark, incoming, installed)
    assert(again.forall(_.isInstanceOf[BundleInstall.Skipped]))
    assert(Files.getLastModifiedTime(markerPath) === mtime1,
      "idempotent re-pass rewrote the _FINALIZED record")

    // heal: a crash between rename and finalize (installed, no record) is
    // repaired by the next pass without reinstalling
    Files.delete(markerPath)
    BundleInstall.installOnce(spark, incoming, installed)
    assert(Files.exists(markerPath), "heal pass did not restore _FINALIZED")
    assert(BundleInstall.resolveAlias(spark, installed, "orders_live")
      === Some(("idx_v1", "idx_v1")))

    // swap: a newer bundle finalized under the SAME alias repoints it
    // (reference remove+add pair); the old bundle keeps its own record
    BundleSink.write(docs, s"$incoming/idx_v2", numShards = 2,
      partitionMultiples = 2, repartition = true, indexName = "idx_v2",
      alias = Some("orders_live"),
      finalSettings = Map("number_of_replicas" -> "3"))
    val pass2 = BundleInstall.installOnce(spark, incoming, installed)
    assert(pass2.collect { case i: BundleInstall.Installed => i.bundle } === Seq("idx_v2"))
    assert(BundleInstall.resolveAlias(spark, installed, "orders_live")
      === Some(("idx_v2", "idx_v2")))
    assert(Files.exists(markerPath), "old bundle's record must survive the swap")
  }
  test("unsafe alias names refused: finalize fails loudly, resolveAlias rejects traversal") {
    val incoming = Files.createTempDirectory("graft-install-ua-in").toString
    val installed = Files.createTempDirectory("graft-install-ua-out").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    // Jackson-escaped manifests happily carry a traversal string — the
    // guard must live at the path interpolation, not the serialization
    BundleSink.write(docs, s"$incoming/evil", numShards = 2,
      partitionMultiples = 2, repartition = true, indexName = "evil",
      alias = Some("x/../../owned"))
    // per-bundle containment turns the loud failure into a Skipped
    // outcome (transient: a later pass retries) — the point is that the
    // alias file is NEVER written outside the root
    val pass = BundleInstall.installOnce(spark, incoming, installed)
    val skipped = pass.collect { case s: BundleInstall.Skipped => s }
    assert(skipped.exists(_.reason.contains("unsafe alias")),
      s"expected an unsafe-alias skip, got $pass")
    assert(!Files.exists(Paths.get(s"$installed/owned")) &&
      !Files.exists(java.nio.file.Paths.get(installed).getParent.resolve("owned")),
      "traversal alias escaped the install root")
    for (bad <- Seq("../x", "a/b", ".hidden", "")) {
      val e2 = intercept[IllegalArgumentException] {
        BundleInstall.resolveAlias(spark, installed, bad)
      }
      assert(e2.getMessage.contains("unsafe alias"), s"'$bad': ${e2.getMessage}")
    }
  }

  test("readAlias: the alias serves reads, swap repoints them to the new bundle") {
    val incoming = Files.createTempDirectory("graft-install-ra-in").toString
    val installed = Files.createTempDirectory("graft-install-ra-out").toString
    val orders = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(orders, s"$incoming/v1", numShards = 2,
      partitionMultiples = 2, repartition = true, indexName = "v1",
      alias = Some("live"))
    BundleInstall.installOnce(spark, incoming, installed)
    assert(BundleInstall.readAlias(spark, installed, "live").count() === 1500L)
    // newer bundle under the same alias: reads follow the swap
    val nations = DocTransform.docs(sf("sf0.001", "nation"), "n_nationkey", None)
    BundleSink.write(nations, s"$incoming/v2", numShards = 2,
      partitionMultiples = 2, repartition = true, indexName = "v2",
      alias = Some("live"))
    BundleInstall.installOnce(spark, incoming, installed)
    assert(BundleInstall.readAlias(spark, installed, "live").count() === 25L)
    intercept[java.util.NoSuchElementException] {
      BundleInstall.readAlias(spark, installed, "ghost")
    }
  }

  test("multi-consumer: two concurrent installers partition the shards, " +
      "no shard installed twice, assembled bundle == single-consumer install") {
    val incoming = Files.createTempDirectory("graft-mc-in").toString
    val installed = Files.createTempDirectory("graft-mc-out").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(docs, s"$incoming/idx_mc", numShards = 8,
      partitionMultiples = 2, repartition = true, indexName = "idx_mc")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(BundleInstall.installShardsOnce(spark, incoming, "idx_mc",
      installed, "consumer-a"))
    val fb = Future(BundleInstall.installShardsOnce(spark, incoming, "idx_mc",
      installed, "consumer-b"))
    val oa = Await.result(fa, 120.seconds)
    val ob = Await.result(fb, 120.seconds)
    val instA = oa.collect { case i: BundleInstall.ShardInstalled => i.shard }
    val instB = ob.collect { case i: BundleInstall.ShardInstalled => i.shard }
    // the partition law: every shard installed EXACTLY once across the two
    assert((instA ++ instB).sorted === (0 until 8).toSeq,
      s"a=$instA b=$instB")
    assert(instA.toSet.intersect(instB.toSet).isEmpty)
    // any consumer may assemble once all shards are done
    assert(BundleInstall.assembleIfComplete(spark, incoming, "idx_mc",
      installed, "consumer-a"))
    assert(Files.exists(Paths.get(s"$installed/idx_mc/_INSTALLED")))
    val r = graft.sink.BundleValidate.validate(spark, s"$installed/idx_mc")
    assert(r.ok, r.problems)
    assert(spark.read.format("graft-bundle").load(s"$installed/idx_mc")
      .count() === 1500L)
    // re-run: everything skips, assembly stays idempotent
    val again = BundleInstall.installShardsOnce(spark, incoming, "idx_mc",
      installed, "consumer-c")
    assert(again.forall(_.isInstanceOf[BundleInstall.ShardSkipped]))
    assert(BundleInstall.assembleIfComplete(spark, incoming, "idx_mc",
      installed, "consumer-c"))
  }

  test("multi-consumer: killing one installer mid-install lets the survivor " +
      "take over its stale claims and finish; partial shard dirs are wiped") {
    val incoming = Files.createTempDirectory("graft-mc2-in").toString
    val installed = Files.createTempDirectory("graft-mc2-out").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(docs, s"$incoming/idx_ko", numShards = 6,
      partitionMultiples = 2, repartition = true, indexName = "idx_ko")
    // simulate a consumer that died mid-install: it claimed shards 0 and 3
    // (claims now stale) and left shard 0 half-copied in the install root
    val claims = Paths.get(s"$incoming/idx_ko/_claims")
    Files.createDirectories(claims)
    for (k <- Seq(0, 3)) {
      val c = claims.resolve(s"shard_$k.claim")
      Files.write(c, """{"consumer":"dead-consumer","gen":1}""".getBytes("UTF-8"))
      c.toFile.setLastModified(System.currentTimeMillis() - 600000L)
    }
    val partial = Paths.get(s"$installed/idx_ko/data/_shard=0")
    Files.createDirectories(partial)
    Files.write(partial.resolve("part-garbage.json.gz"), Array[Byte](1, 2, 3))

    val out = BundleInstall.installShardsOnce(spark, incoming, "idx_ko",
      installed, "survivor", claimTtlMs = 1000L)
    val inst = out.collect { case i: BundleInstall.ShardInstalled => i }
    assert(inst.map(_.shard).sorted === (0 until 6).toSeq, out)
    assert(inst.filter(i => i.shard == 0 || i.shard == 3).forall(_.takenOver),
      "stale claims must be taken over, not fresh-claimed")
    assert(!Files.exists(partial.resolve("part-garbage.json.gz")),
      "the dead consumer's partial copy must be wiped, not merged into")
    // the steal republished the claim at generation 2 under the survivor
    val claim0 = new String(Files.readAllBytes(claims.resolve("shard_0.claim")), "UTF-8")
    assert(claim0.contains("survivor") && claim0.contains("\"gen\":2"), claim0)
    assert(BundleInstall.assembleIfComplete(spark, incoming, "idx_ko",
      installed, "survivor"))
    val r = graft.sink.BundleValidate.validate(spark, s"$installed/idx_ko")
    assert(r.ok, r.problems)
    assert(spark.read.format("graft-bundle").load(s"$installed/idx_ko")
      .count() === 1500L)
    // a LIVE claim (fresh mtime) is NOT stolen: recreate one and re-run
    Files.delete(Paths.get(s"$installed/idx_ko/_INSTALLED"))
    Files.delete(Paths.get(s"$installed/idx_ko/_shard_done_5"))
    Files.write(claims.resolve("shard_5.claim"),
      """{"consumer":"alive-elsewhere","gen":7}""".getBytes("UTF-8"))
    val out2 = BundleInstall.installShardsOnce(spark, incoming, "idx_ko",
      installed, "survivor", claimTtlMs = 3600000L)
    val s5 = out2.find(_.shard == 5).get
    assert(s5.isInstanceOf[BundleInstall.ShardSkipped],
      s"a live claim must be respected: $s5")
  }

  test("multi-consumer healing: unreadable claims heal via TTL+steal; a " +
      "dead assembler's stale _ASSEMBLED gate is taken over") {
    val incoming = Files.createTempDirectory("graft-mc3-in").toString
    val installed = Files.createTempDirectory("graft-mc3-out").toString
    val docs = DocTransform.docs(sf("sf0.001", "orders"), "o_orderkey", Some("o_custkey"))
    BundleSink.write(docs, s"$incoming/idx_heal", numShards = 4,
      partitionMultiples = 2, repartition = true, indexName = "idx_heal")
    // a ZERO-BYTE claim (failed write / racing reader artifact) on shard 1
    // with a stale mtime: must heal through the steal path, not crash
    val claims = Paths.get(s"$incoming/idx_heal/_claims")
    Files.createDirectories(claims)
    val broken = claims.resolve("shard_1.claim")
    Files.write(broken, Array.emptyByteArray)
    broken.toFile.setLastModified(System.currentTimeMillis() - 600000L)
    val out = BundleInstall.installShardsOnce(spark, incoming, "idx_heal",
      installed, "healer", claimTtlMs = 1000L)
    val inst = out.collect { case i: BundleInstall.ShardInstalled => i }
    assert(inst.map(_.shard).sorted === (0 until 4).toSeq, out)
    assert(inst.find(_.shard == 1).get.takenOver,
      "the unreadable claim must heal via takeover")
    // dead assembler: _ASSEMBLED exists (stale), _INSTALLED does not —
    // a survivor must take the gate over instead of wedging forever
    val gate = Paths.get(s"$installed/idx_heal/_ASSEMBLED")
    Files.write(gate, "dead-assembler".getBytes("UTF-8"))
    gate.toFile.setLastModified(System.currentTimeMillis() - 600000L)
    assert(!Files.exists(Paths.get(s"$installed/idx_heal/_INSTALLED")))
    // a FRESH gate is respected (returns false, no takeover)
    assert(!BundleInstall.assembleIfComplete(spark, incoming, "idx_heal",
      installed, "survivor", claimTtlMs = 3600000L))
    // a STALE gate is taken over and assembly completes
    assert(BundleInstall.assembleIfComplete(spark, incoming, "idx_heal",
      installed, "survivor", claimTtlMs = 1000L))
    assert(Files.exists(Paths.get(s"$installed/idx_heal/_INSTALLED")))
    val r = graft.sink.BundleValidate.validate(spark, s"$installed/idx_heal")
    assert(r.ok, r.problems)
  }

  // ---------- round-16 chaos laws (VERDICT task 5 / r15 ADVICE) ----------

  private class ChaosKill extends RuntimeException("chaos kill")

  /** The marker-over-missing-shard invariant: a done marker may only ever
    * cover a dst dir holding the COMPLETE source file set. */
  private def assertDoneImpliesComplete(incoming: String, installed: String,
                                        name: String, shards: Int,
                                        ctx: String): Unit =
    for (k <- 0 until shards
         if Files.exists(Paths.get(s"$installed/$name/_shard_done_$k"))) {
      val srcDir = Paths.get(s"$incoming/$name/data/_shard=$k")
      val dstDir = Paths.get(s"$installed/$name/data/_shard=$k")
      assert(Files.exists(dstDir), s"[$ctx] done marker over MISSING shard $k")
      val src = Files.list(srcDir)
      val srcFiles = try {
        import scala.jdk.CollectionConverters._
        src.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.getFileName.toString -> Files.size(p)).toMap
      } finally src.close()
      val dst = Files.list(dstDir)
      val dstFiles = try {
        import scala.jdk.CollectionConverters._
        dst.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.getFileName.toString -> Files.size(p)).toMap
      } finally dst.close()
      assert(dstFiles === srcFiles,
        s"[$ctx] done marker over INCOMPLETE shard $k: dst=$dstFiles src=$srcFiles")
    }

  test("chaos law: a consumer killed at ANY protocol point leaves an " +
      "assemblable bundle and never a done marker over a missing/incomplete " +
      "shard (50 seeds x random kill points)") {
    val incoming = Files.createTempDirectory("graft-chaos-in").toString
    val installed0 = Files.createTempDirectory("graft-chaos-out").toString
    // one immutable bundle (3 shards, 25 docs); per-seed state = a fresh
    // install root + wiped claims
    val docs = DocTransform.docs(sf("sf0.001", "nation"), "n_nationkey", None)
    BundleSink.write(docs, s"$incoming/idx_ch", numShards = 3,
      partitionMultiples = 2, repartition = true, indexName = "idx_ch")
    val claims = Paths.get(s"$incoming/idx_ch/_claims")
    def wipe(dir: java.nio.file.Path): Unit = if (Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      val all = Files.walk(dir)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally all.close()
    }
    try {
      for (seed <- 0 until 50) {
        wipe(claims)
        val installed = s"$installed0/run_$seed"
        val rnd = new scala.util.Random(seed)
        // victim: dies at the Nth protocol step it reaches (N in [1, 16] —
        // wide enough to land in every window incl. per-file copies of a
        // later shard; overshooting N just means a clean full install)
        val killAt = 1 + rnd.nextInt(16)
        val steps = new java.util.concurrent.atomic.AtomicInteger(0)
        BundleInstall.chaosHook = (_, _) =>
          if (steps.incrementAndGet() == killAt) throw new ChaosKill
        val died = try {
          BundleInstall.installShardsOnce(spark, incoming, "idx_ch",
            installed, s"victim-$seed"); false
        } catch { case _: ChaosKill => true }
        BundleInstall.chaosHook = (_, _) => ()
        // THE invariant, checked at the instant of death
        assertDoneImpliesComplete(incoming, installed, "idx_ch", 3,
          s"seed=$seed killAt=$killAt died=$died post-kill")
        // age every claim the victim left, then a survivor finishes
        if (Files.exists(claims)) {
          import scala.jdk.CollectionConverters._
          val s = Files.list(claims)
          try s.iterator().asScala.foreach(
            _.toFile.setLastModified(System.currentTimeMillis() - 600000L))
          finally s.close()
        }
        val out = BundleInstall.installShardsOnce(spark, incoming, "idx_ch",
          installed, s"survivor-$seed", claimTtlMs = 1000L)
        assertDoneImpliesComplete(incoming, installed, "idx_ch", 3,
          s"seed=$seed post-survivor")
        // every shard done exactly once across victim+survivor; assembly
        // completes and validates — the bundle is indistinguishable from a
        // single-consumer install
        for (k <- 0 until 3)
          assert(Files.exists(Paths.get(s"$installed/idx_ch/_shard_done_$k")),
            s"seed=$seed: shard $k not finished: $out")
        assert(BundleInstall.assembleIfComplete(spark, incoming, "idx_ch",
          installed, s"survivor-$seed", claimTtlMs = 1000L), s"seed=$seed")
        val rep = graft.sink.BundleValidate.validate(spark, s"$installed/idx_ch")
        assert(rep.ok, s"seed=$seed: ${rep.problems}")
        assert(spark.read.format("graft-bundle").load(s"$installed/idx_ch")
          .count() === 25L, s"seed=$seed")
      }
    } finally BundleInstall.chaosHook = (_, _) => ()
  }

  test("fence done-marker check: a racing owner's late publish during my " +
      "copy makes me SKIP, never delete the done-marked dst (r15 ADVICE)") {
    val incoming = Files.createTempDirectory("graft-fence-in").toString
    val installed = Files.createTempDirectory("graft-fence-out").toString
    val docs = DocTransform.docs(sf("sf0.001", "nation"), "n_nationkey", None)
    BundleSink.write(docs, s"$incoming/idx_f", numShards = 2,
      partitionMultiples = 2, repartition = true, indexName = "idx_f")
    // while THIS consumer copies shard 0, simulate a prior owner's late
    // publish landing: dst appears complete AND done-marked between the
    // top-of-install done check and the fence
    import scala.jdk.CollectionConverters._
    val hitPrePublish = new java.util.concurrent.atomic.AtomicBoolean(false)
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    BundleInstall.chaosHook = (point, k) => point match {
      case "copied" if k == 0 && !injected.getAndSet(true) =>
        val src = Paths.get(s"$incoming/idx_f/data/_shard=0")
        val dst = Paths.get(s"$installed/idx_f/data/_shard=0")
        Files.createDirectories(dst)
        val s = Files.list(src)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach(f =>
          Files.copy(f, dst.resolve(f.getFileName.toString)))
        finally s.close()
        Files.write(Paths.get(s"$installed/idx_f/_shard_done_0"),
          "late-owner".getBytes("UTF-8"))
      case "pre-publish" if k == 0 => hitPrePublish.set(true)
      case _ => ()
    }
    try {
      val out = BundleInstall.installShardsOnce(spark, incoming, "idx_f",
        installed, "racer")
      val s0 = out.find(_.shard == 0).get
      assert(s0.isInstanceOf[BundleInstall.ShardSkipped],
        s"must skip the done-marked shard, got $s0")
      assert(!hitPrePublish.get(),
        "fence must not reach delete(dst)+rename once the done marker exists")
      // the late owner's dst survived untouched and the bundle assembles
      assert(Files.exists(Paths.get(s"$installed/idx_f/data/_shard=0")))
      assert(BundleInstall.assembleIfComplete(spark, incoming, "idx_f",
        installed, "racer"))
      val rep = graft.sink.BundleValidate.validate(spark, s"$installed/idx_f")
      assert(rep.ok, rep.problems)
    } finally BundleInstall.chaosHook = (_, _) => ()
  }
}
