package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Consumer-side install daemon — the analog of the reference server's
 * incremental download/install loop (`IndexBuilder.java:154-203`: poll a
 * work dir, skip in-flight producers, verify what arrived, install it, mark
 * it done so a restart never re-installs). Composes this engine's existing
 * consumer pieces into the one loop an operator runs:
 *
 *   poll `incomingDir` -> for each READY bundle (has manifest.json — the
 *   producer's "completed" record — and no `_STARTED` in-flight marker):
 *     1. [[BundleValidate]]: counts/files/bytes/placement vs manifest +
 *        shard_state.json (a tampered or half-copied bundle cannot pass)
 *     2. optional [[BundleCompact]]: many small producer files -> one per
 *        shard (the forceMerge-before-serve analog)
 *     3. install = atomic rename into `installDir` (same-filesystem move,
 *        like the reference's rename-into-place), then `_INSTALLED` marker
 *   invalid bundles get `_INVALID` (with the problem list) and are left in
 *   place for inspection — never installed, never retried silently.
 *
 * The loop stops when `incomingDir/_COMPLETE` exists and no ready bundles
 * remain (the reference's external completion marker), or at `timeoutMs`.
 * Driver-side orchestration only; the per-bundle verification/compaction
 * work inside is distributed Spark jobs.
 */
object BundleInstall {

  /** Test-only fault injection for the per-shard install protocol
    * (InstallSpec's chaos law). Invoked with (point, shard) at each
    * protocol step — "claimed", "copied" (per file), "fenced",
    * "pre-publish" (between delete(dst) and rename — THE r15-ADVICE
    * window), "published", "done". A hook that throws models the
    * consumer dying at that exact point; the default is a no-op and the
    * production path never assigns it. */
  private[graft] var chaosHook: (String, Int) => Unit = (_, _) => ()

  sealed trait Outcome { def bundle: String }
  case class Installed(bundle: String, docs: Long, compacted: Boolean) extends Outcome
  case class Invalid(bundle: String, problems: Seq[String]) extends Outcome
  case class Skipped(bundle: String, reason: String) extends Outcome

  /** One poll pass: examine every subdirectory of `incomingDir`, install
    * the ready+valid ones, mark the broken ones. Idempotent: installed and
    * invalid bundles are marker-skipped on re-runs. */
  def installOnce(spark: SparkSession, incomingDir: String, installDir: String,
                  compact: Boolean = false): Seq[Outcome] = {
    val fs = FileSystem.get(new java.net.URI(incomingDir),
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(installDir))
    // heal sweep over the install root FIRST: a crash between a bundle's
    // rename and its finalize leaves it installed (the dir moved out of
    // incoming, so the candidate loop below will never revisit it) but
    // without its _FINALIZED record — finalize is marker-gated, so the
    // sweep is a no-op for every healthy bundle
    fs.listStatus(new Path(installDir)).filter(_.isDirectory).foreach { d =>
      if (fs.exists(new Path(d.getPath, "_INSTALLED")) &&
          !fs.exists(new Path(d.getPath, "_FINALIZED")))
        try finalizeBundle(fs, installDir, d.getPath.getName)
        catch { case _: Exception => () } // containment, like the loop below
    }
    val candidates = fs.listStatus(new Path(incomingDir))
      .filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
    candidates.toSeq.map { dir =>
      val name = dir.getName
      // per-bundle containment: one failing bundle (validation crash, rename
      // collision with a half-installed dir, fs hiccup) must not abort the
      // pass — and with it the watch daemon — for every OTHER arriving
      // bundle. Errors become Skipped outcomes (transient: no _INVALID
      // marker, so a later pass retries once the cause clears).
      try installBundle(spark, fs, dir, name, installDir, compact)
      catch {
        case e: Exception =>
          Skipped(name, s"install error: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  private def installBundle(spark: SparkSession, fs: FileSystem, dir: Path,
                            name: String, installDir: String,
                            compact: Boolean): Outcome = {
    {
      if (fs.exists(new Path(dir, "_INVALID")))
        Skipped(name, "previously marked invalid")
      else if (fs.exists(new Path(installDir, s"$name/_INSTALLED")))
        Skipped(name, "already installed")
      else if (fs.exists(new Path(dir, "_STARTED")))
        Skipped(name, "producer still writing (_STARTED present)")
      else {
        val single = fs.exists(new Path(dir, "manifest.json"))
        val multi = !single && fs.listStatus(dir)
          .exists(_.getPath.getName.matches("manifest_.*\\.json"))
        if (!single && !multi) Skipped(name, "no manifest yet")
        else if (single && !manifestCompleted(fs, dir))
          // a streaming producer's manifest says state:"streaming" until the
          // bundle is sealed (BundleStreamWriter.seal) — in-flight, not broken
          Skipped(name, "producer still writing (manifest state not completed)")
        else {
          // multi-index bundles validate every index against ITS manifest
          val (ok, docs, problems) =
            if (single) {
              val r = BundleValidate.validate(spark, dir.toString)
              (r.ok, r.shards.map(_.docs).sum, r.problems)
            } else {
              val rs = BundleValidate.validateMulti(spark, dir.toString)
              (rs.values.forall(_.ok),
                rs.values.flatMap(_.shards.map(_.docs)).sum,
                rs.toSeq.sortBy(_._1).flatMap { case (idx, r) =>
                  r.problems.map(p => s"[$idx] $p") })
            }
          if (!ok) {
            val out = fs.create(new Path(dir, "_INVALID"), true)
            out.write(problems.mkString("\n").getBytes("UTF-8")); out.close()
            Invalid(name, problems)
          } else {
            // compaction is format- and layout-aware (BundleCompact reads
            // the bundle's own manifest), so multi-index bundles compact too
            if (compact) BundleCompact.compact(spark, dir.toString)
            val target = new Path(installDir, name)
            // marker BEFORE the rename: it rides the move, so there is no
            // crash window between "renamed into installDir" and "marked" —
            // a stray marker in a source dir whose rename then failed is
            // harmless (the skip check reads installDir, not incoming)
            fs.create(new Path(dir, "_INSTALLED"), true).close()
            if (!fs.rename(dir, target)) {
              fs.delete(new Path(dir, "_INSTALLED"), false)
              throw new IllegalStateException(s"could not install $dir -> $target")
            }
            finalizeBundle(fs, installDir, name)
            Installed(name, docs, compact)
          }
        }
      }
    }
  }

  /**
   * Post-install finalization — the reference leader's final-settings +
   * alias-swap step once a build completes (`NodeService.java:129-152`:
   * apply `finalIndexSetting`, wait for green, raise replica count;
   * `ESClient.java:155-171` `updateAlies`: remove the alias from the old
   * index, add it to the new one). This engine serves bundles from files,
   * not a live cluster, so "apply" means: record each manifest's
   * `finalSettings` as the bundle's EFFECTIVE serving settings in an
   * atomic `_FINALIZED` record (downstream loaders read the record, not
   * the build-time settings — the refresh-off/replicas-0 load profile
   * gives way to the recorded serving profile exactly once), and repoint
   * the install root's alias file: `_aliases/<alias>` holds
   * `{"bundle": ..., "indexName": ...}` for whatever was finalized under
   * that alias most recently — one tmp+rename overwrite, the same
   * swap-visibility the reference's remove+add alias pair provides.
   * Idempotent: `_FINALIZED` present means applied; a re-pass (or the
   * heal path for a crash between rename and finalize) changes nothing.
   */
  private def finalizeBundle(fs: FileSystem, installDir: String,
                             name: String): Unit = {
    val bundle = new Path(installDir, name)
    val marker = new Path(bundle, "_FINALIZED")
    if (fs.exists(marker)) return
    val manifests = fs.listStatus(bundle).map(_.getPath)
      .filter(p => p.getName == "manifest.json" ||
        p.getName.matches("manifest_.*\\.json"))
      .sortBy(_.getName)
    if (manifests.isEmpty) return
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val entries = manifests.map { mp =>
      val in = fs.open(mp)
      val root = try mapper.readTree(in.readAllBytes()) finally in.close()
      val idx = Option(root.get("indexName")).map(_.asText).getOrElse(name)
      val alias = Option(root.get("alias")).filterNot(_.isNull).map(_.asText)
      val settings = Option(root.get("finalSettings")).map { s =>
        val it = s.fields()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText }
        b.result()
      }.getOrElse(Seq.empty)
      (idx, alias, settings)
    }
    // alias swap first, record last: a crash in between re-runs both (the
    // alias overwrite is idempotent), while the reverse order could leave
    // an "applied" record whose alias still points at the old bundle
    // records serialized with Jackson (reading already is): a name or
    // settings value containing a quote/backslash must round-trip, not
    // produce JSON the readers then fail to parse
    fs.mkdirs(new Path(installDir, "_aliases"))
    entries.foreach { case (idx, alias, _) =>
      alias.foreach { a =>
        // alias names are path segments under _aliases/: a '/', '..' or
        // leading dot would escape or nest — fail the finalize loudly
        // (Jackson-escaped manifests happily carry such strings, so the
        // guard must live here, at the interpolation)
        require(safeAliasName(a),
          s"unsafe alias name (allowed: [A-Za-z0-9._-]+, no leading " +
            s"dot): '$a' in bundle $name")
        val rec = mapper.createObjectNode()
        rec.put("bundle", name); rec.put("indexName", idx)
        // overwrite-ATOMIC publish: a plain delete+rename leaves a window
        // in which concurrent resolveAlias/readAlias see no alias file at
        // all — the reference's alias update has no such gap
        FsAtomic.publish(fs, new Path(installDir, s"_aliases/$a"),
          mapper.writeValueAsBytes(rec))
      }
    }
    val applied = mapper.createArrayNode()
    entries.foreach { case (idx, alias, settings) =>
      val e = mapper.createObjectNode()
      e.put("indexName", idx)
      alias match {
        case Some(a) => e.put("alias", a)
        case None    => e.putNull("alias")
      }
      val st = mapper.createObjectNode()
      settings.sorted.foreach { case (k, v) => st.put(k, v) }
      e.set[com.fasterxml.jackson.databind.node.ObjectNode]("appliedSettings", st)
      applied.add(e)
      ()
    }
    val rec = mapper.createObjectNode()
    rec.set[com.fasterxml.jackson.databind.node.ObjectNode]("applied", applied)
    FsAtomic.publish(fs, marker, mapper.writeValueAsBytes(rec))
  }

  /** Path-segment-safe alias/bundle name: the charset the `_index` guard
    * enforces on the write side ([A-Za-z0-9._-]+, no leading dot). */
  private def safeAliasName(a: String): Boolean =
    a.nonEmpty && a.head != '.' && a.forall(c =>
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '-')

  /** Resolve an alias at the install root: the `{bundle, indexName}` the
    * alias currently points to (the lookup indirection the reference's
    * alias swap provides), or None while nothing finalized under it. */
  def resolveAlias(spark: SparkSession, installDir: String,
                   alias: String): Option[(String, String)] = {
    require(safeAliasName(alias),
      s"unsafe alias name (allowed: [A-Za-z0-9._-]+, no leading dot): '$alias'")
    val fs = FileSystem.get(new java.net.URI(installDir),
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(installDir, s"_aliases/$alias")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val root = try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(in.readAllBytes()) finally in.close()
      Some((root.get("bundle").asText, root.get("indexName").asText))
    }
  }

  /** Read through an alias: resolve it at the install root and open the
    * bundle it points to with the connector — the reference search
    * client's "query the alias, not the index" usage. Delegates to the
    * connector's own alias option, so multi-index bundles get their
    * `_index=` partition scoped in the FILE LISTING (other indices'
    * files are never listed) with `_shard` routing pruning intact. */
  def readAlias(spark: SparkSession, installDir: String,
                alias: String): org.apache.spark.sql.DataFrame =
    spark.read.format("graft-bundle").option("alias", alias).load(installDir)

  /** The producer's manifest records `state` completed (Jackson-parsed:
    * pretty-printed manifests count; a half-written one does not). */
  private def manifestCompleted(fs: FileSystem, dir: Path): Boolean =
    BundleSink.readFile(fs, new Path(dir, "manifest.json")).exists(m =>
      scala.util.Try(graft.sources.BundleManifest.jsonNode(m).path("state")
        .asText == "completed").getOrElse(false))

  // ===================================================================
  // Multi-consumer shard assignment — the reference server's
  // shard->host assignment + dead-host relocation
  // (NodeService.java:230-297 assigns shards across live nodes and
  // relocates them off dead ones; IndexBuilder.java:70-88 has each host
  // build only ITS shards), re-expressed with NO external coordinator:
  // the shared filesystem is the coordination medium, create-exclusive
  // is the only atomic primitive, and liveness is claim-file mtime
  // (heartbeat-touched during the copy) instead of a ZK session.
  //
  // Protocol, per shard k of a ready bundle:
  //   1. done-marker check: <install>/<bundle>/_shard_done_k => finished.
  //   2. claim: create-exclusive <incoming>/<bundle>/_claims/shard_k.claim
  //      holding {consumer, gen}. Exactly one creator wins (NIO
  //      createFile on file://, HDFS create(overwrite=false) elsewhere).
  //   3. stale takeover: a claim whose mtime is older than claimTtlMs and
  //      whose shard has no done marker belongs to a dead consumer. The
  //      steal races through a SECOND create-exclusive —
  //      _claims/shard_k.steal.<gen+1> — so concurrent survivors elect
  //      exactly one new owner per generation; the winner republishes the
  //      claim (renameReplace) with gen+1 and proceeds.
  //   4. install (generation-fenced): copy into a PRIVATE per-
  //      (consumer, gen) staging dir — dst is never written in place —
  //      heartbeating the claim mtime per file; then re-read the claim
  //      and, ONLY while it still names this consumer+gen, publish via
  //      delete(dst)+rename(staging). A stalled-but-alive owner whose
  //      claim was stolen aborts at the fence (its staging dir sweeps);
  //      dst only ever transitions empty -> one owner's COMPLETE copy.
  //   5. finish: create-exclusive done marker, AFTER the publish rename.
  //      If it already exists the shard was finished by a racing owner
  //      during a takeover window — racing publishes are complete
  //      identical-byte copies; only the marker creator reports
  //      "installed", so no shard counts twice.
  // When every shard has its done marker, ONE consumer (create-exclusive
  // _ASSEMBLED) copies the bundle's control files and finalizes — the
  // same _INSTALLED/_FINALIZED records the single-consumer path leaves,
  // so downstream loaders cannot tell which path installed the bundle.
  // ===================================================================

  sealed trait ShardOutcome { def shard: Int }
  case class ShardInstalled(shard: Int, consumer: String,
                            takenOver: Boolean) extends ShardOutcome
  case class ShardSkipped(shard: Int, reason: String) extends ShardOutcome

  /** Atomic create-if-absent: true exactly once across racing creators.
    * file:// goes through NIO createFile (POSIX O_EXCL — Hadoop's local
    * create(overwrite=false) is check-then-create, a real race); other
    * schemes use create(overwrite=false), atomic on HDFS and object-store
    * committers. */
  private def claimIfAbsent(fs: FileSystem, p: Path, body: String): Boolean = {
    if (fs.getScheme == "file") {
      try {
        val nio = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.createDirectories(nio.getParent)
        java.nio.file.Files.write(nio, body.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }

  private def readClaim(fs: FileSystem, p: Path): Option[(String, Long, Long)] =
    try {
      val st = fs.getFileStatus(p)
      // parse failures do NOT abort the pass: a zero-byte claim (a racing
      // reader between create and close on HDFS, or a failed write inside
      // claimIfAbsent) reads as owner "<unreadable>" — nobody's id — so
      // the TTL+steal path HEALS it instead of every pass crashing on it
      val parsed = try {
        val in = fs.open(p)
        val root = try new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(in.readAllBytes()) finally in.close()
        for {
          c <- Option(root).flatMap(r => Option(r.get("consumer")))
          g <- Option(root.get("gen"))
        } yield (c.asText, g.asLong)
      } catch { case _: Exception => None }
      val (c, g) = parsed.getOrElse(("<unreadable>", 0L))
      Some((c, g, st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }

  private def claimBody(consumer: String, gen: Long): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = m.createObjectNode()
    n.put("consumer", consumer); n.put("gen", gen)
    m.writeValueAsString(n)
  }

  /**
   * One assignment pass over a ready bundle's shards for `consumerId`:
   * claim-or-skip each shard, install the claimed ones, take over stale
   * claims. Call repeatedly (or from [[watch]]-style loops) until
   * [[assembleIfComplete]] reports the bundle whole. Returns one outcome
   * per shard. Liveness knob: `claimTtlMs` must exceed the slowest
   * single-file copy plus a heartbeat period, NOT the whole shard install
   * — the claim mtime refreshes per copied file.
   */
  def installShardsOnce(spark: SparkSession, incomingDir: String,
                        bundleName: String, installDir: String,
                        consumerId: String,
                        claimTtlMs: Long = 60000L): Seq[ShardOutcome] = {
    val fs = FileSystem.get(new java.net.URI(incomingDir),
      spark.sparkContext.hadoopConfiguration)
    val bundle = new Path(incomingDir, bundleName)
    require(fs.exists(new Path(bundle, "manifest.json")) &&
      manifestCompleted(fs, bundle) && !fs.exists(new Path(bundle, "_STARTED")),
      s"bundle $bundleName is not ready (no completed manifest, or producer " +
        "still writing)")
    val dataDir = new Path(bundle, "data")
    val shards = fs.listStatus(dataDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_shard="))
      .map(_.getPath.getName.stripPrefix("_shard=").toInt).sorted.toSeq
    val target = new Path(installDir, bundleName)
    fs.mkdirs(new Path(target, "data"))
    // rotate the visit order by consumer so concurrent installers start on
    // different shards instead of racing every claim in sequence
    val rot = math.abs(consumerId.hashCode) % math.max(1, shards.length)
    val visit = shards.drop(rot) ++ shards.take(rot)
    visit.map { k =>
      installShard(spark, fs, bundle, target, k, consumerId, claimTtlMs)
    }.sortBy(_.shard)
  }

  private def installShard(spark: SparkSession, fs: FileSystem, bundle: Path,
                           target: Path, k: Int, consumerId: String,
                           claimTtlMs: Long): ShardOutcome = {
    val done = new Path(target, s"_shard_done_$k")
    if (fs.exists(done)) return ShardSkipped(k, "already installed")
    val claim = new Path(bundle, s"_claims/shard_$k.claim")
    val (owned, takenOver, myGen) =
      if (claimIfAbsent(fs, claim, claimBody(consumerId, 1L))) (true, false, 1L)
      else readClaim(fs, claim) match {
        case None => (false, false, 0L) // vanished mid-read: next pass retries
        case Some((owner, gen, _)) if owner == consumerId =>
          (true, false, gen) // my own earlier claim (resume after restart)
        case Some((_, gen, mtime))
          if System.currentTimeMillis() - mtime > claimTtlMs =>
          // stale: the owner stopped heartbeating. One survivor per
          // generation wins the steal marker; the winner republishes.
          val steal = new Path(bundle, s"_claims/shard_$k.steal.${gen + 1}")
          if (claimIfAbsent(fs, steal, consumerId)) {
            FsAtomic.publish(fs, claim, claimBody(consumerId, gen + 1).getBytes("UTF-8"))
            (true, true, gen + 1)
          } else (false, false, 0L)
        case Some(_) => (false, false, 0L) // live owner
      }
    if (!owned) return ShardSkipped(k, "claimed by another consumer")
    chaosHook("claimed", k)
    // double-check the done marker AFTER winning the claim: a takeover
    // can race an owner that finished between our staleness read and now
    if (fs.exists(done)) return ShardSkipped(k, "already installed")
    // GENERATION-FENCED install (a stalled-but-alive owner is NOT a dead
    // one): copy into a PRIVATE per-(consumer, gen) temp dir — never into
    // dst — then publish with delete+rename and re-verify the claim
    // before the done marker. The unfenced wipe+copy-in-place form had a
    // real hole: owner A stalls past the TTL mid-copy, stealer B wipes
    // dst and starts recopying, A wakes and finishes its REMAINING files
    // into the dir B wiped, A creates the done marker, B dies -> done
    // marker over a dst missing the files only-A had copied. With private
    // staging, dst only ever transitions empty -> one owner's COMPLETE
    // copy, and a superseded owner aborts at the fence instead of
    // publishing. Heartbeat the claim per copied file so a slow shard
    // never reads as stale while its owner is alive.
    val src = new Path(bundle, s"data/_shard=$k")
    val dst = new Path(target, s"data/_shard=$k")
    val stage = new Path(target, s"data/.shard_$k.install.$consumerId.$myGen")
    fs.delete(stage, true)
    fs.mkdirs(stage)
    try
      fs.listStatus(src).filter(_.isFile).sortBy(_.getPath.getName).foreach { f =>
        org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
          new Path(stage, f.getPath.getName), false, fs.getConf)
        fs.setTimes(claim, System.currentTimeMillis(), -1) // heartbeat
        chaosHook("copied", k)
      }
    catch { case _: java.io.IOException =>
      // a successor's post-publish sweep deleting this (superseded)
      // staging dir mid-copy lands here — same outcome as the fence
      fs.delete(stage, true)
      return ShardSkipped(k, "superseded during install (staging swept)")
    }
    // FENCE: publish only while the claim still names (me, my gen). A
    // stolen claim means a successor owns the shard now — abort and let
    // the successor's complete copy win; my staging dir is swept.
    readClaim(fs, claim) match {
      case Some((owner, gen, _)) if owner == consumerId && gen == myGen =>
        chaosHook("fenced", k)
        // Done-marker check BEFORE touching dst: a marker can only exist
        // after some owner fully published (racing copies are identical
        // bytes), so deleting a done-marked dst here would risk a
        // marker-over-missing-shard hole if we died between delete and
        // rename. An existing marker means the shard is complete — keep it.
        if (fs.exists(done)) {
          fs.delete(stage, true)
          return ShardSkipped(k, "finished by another consumer")
        }
        fs.delete(dst, true)
        chaosHook("pre-publish", k)
        if (!fs.rename(stage, dst)) {
          fs.delete(stage, true)
          return ShardSkipped(k, "publish rename lost to a racing owner")
        }
        // sweep abandoned staging dirs of dead prior owners for this shard
        try fs.listStatus(new Path(target, "data"))
          .filter(_.getPath.getName.startsWith(s".shard_$k.install."))
          .foreach(s => fs.delete(s.getPath, true))
        catch { case _: Exception => () }
        chaosHook("published", k)
        // exactly-once accounting: only the done-marker CREATOR reports
        // installed (racing complete copies are identical bytes; one marker)
        if (claimIfAbsent(fs, done, consumerId)) {
          chaosHook("done", k)
          ShardInstalled(k, consumerId, takenOver)
        } else ShardSkipped(k, "finished by another consumer")
      case _ =>
        fs.delete(stage, true)
        ShardSkipped(k, "superseded during install (claim stolen)")
    }
  }

  /**
   * Assemble check: when every shard of `bundleName` has its done marker,
   * ONE consumer (create-exclusive `_ASSEMBLED` gate) copies the control
   * files (manifest + shard_state) and finalizes — the installed bundle
   * is indistinguishable from a single-consumer [[installOnce]] install.
   * Returns true once the bundle is fully installed (idempotent).
   */
  def assembleIfComplete(spark: SparkSession, incomingDir: String,
                         bundleName: String, installDir: String,
                         consumerId: String,
                         claimTtlMs: Long = 60000L): Boolean = {
    val fs = FileSystem.get(new java.net.URI(incomingDir),
      spark.sparkContext.hadoopConfiguration)
    val bundle = new Path(incomingDir, bundleName)
    val target = new Path(installDir, bundleName)
    if (fs.exists(new Path(target, "_INSTALLED"))) return true
    val shards = fs.listStatus(new Path(bundle, "data"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_shard="))
      .map(_.getPath.getName.stripPrefix("_shard=").toInt).toSet
    val doneCnt = shards.count(k => fs.exists(new Path(target, s"_shard_done_$k")))
    if (doneCnt < shards.size) return false
    val gate = new Path(target, "_ASSEMBLED")
    if (!claimIfAbsent(fs, gate, consumerId)) {
      if (fs.exists(new Path(target, "_INSTALLED"))) return true
      // the gate's own dead-assembler path (same crash model as the shard
      // claims): a consumer that died between winning the gate and writing
      // _INSTALLED must not wedge the bundle forever. Assembly is
      // idempotent (overwrite-copies of control files, overwrite marker,
      // marker-gated finalize), so a survivor can simply REDO it once the
      // gate goes stale — a racing pair of stealers both assembling is
      // harmless for the same reason.
      val stale = try {
        System.currentTimeMillis() -
          fs.getFileStatus(gate).getModificationTime > claimTtlMs
      } catch { case _: java.io.FileNotFoundException => false }
      if (!stale) return false
      fs.setTimes(gate, System.currentTimeMillis(), -1) // re-arm the TTL
    }
    fs.listStatus(bundle).filter(_.isFile).map(_.getPath)
      .filter(p => p.getName == "manifest.json" ||
        p.getName.matches("manifest_.*\\.json") ||
        p.getName == "shard_state.json")
      .foreach { p =>
        org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
          new Path(target, p.getName), false, true, fs.getConf)
      }
    fs.create(new Path(target, "_INSTALLED"), true).close()
    finalizeBundle(fs, installDir, bundleName)
    true
  }

  /** Polling daemon: repeat [[installOnce]] until `incomingDir/_COMPLETE`
    * exists and the last pass installed/invalidated nothing new, or until
    * `timeoutMs` elapses. Returns every outcome in arrival order. */
  def watch(spark: SparkSession, incomingDir: String, installDir: String,
            compact: Boolean = false, pollMs: Long = 10000L,
            timeoutMs: Long = 600000L): Seq[Outcome] = {
    val fs = FileSystem.get(new java.net.URI(incomingDir),
      spark.sparkContext.hadoopConfiguration)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    val all = scala.collection.mutable.ArrayBuffer.empty[Outcome]
    var done = false
    while (!done) {
      val pass = installOnce(spark, incomingDir, installDir, compact)
      all ++= pass.filterNot(_.isInstanceOf[Skipped])
      val progressed = pass.exists(o =>
        o.isInstanceOf[Installed] || o.isInstanceOf[Invalid])
      val complete = fs.exists(new Path(incomingDir, "_COMPLETE"))
      if (complete && !progressed) done = true
      else if (System.nanoTime() > deadline) done = true
      else if (!progressed) Thread.sleep(pollMs)
    }
    all.toSeq
  }
}
