package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/**
 * Streaming surface (SURVEY.md §2.10 + §2.11 streaming categories).
 *
 * The reference's server daemon implements an incremental file consumer in
 * imperative Java: poll an HDFS dir every 10 s, skip `*_tmp`/empty files,
 * process only newly-appeared paths, stop on an external completion marker
 * (`IndexBuilder.java:154-203`, `HdfsClient.java:45-62`). Structured
 * Streaming's file source provides exactly those semantics declaratively:
 * the seen-files log replaces `processedPaths`, `Trigger.ProcessingTime`
 * replaces the sleep loop, `Trigger.AvailableNow` replaces drain-and-stop,
 * and the committer's temp+rename means half-written files never appear.
 */
object BundleStream {

  /** Schema of bundle data files written by [[graft.sink.BundleSink]]. */
  val bundleSchema: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("_routing", StringType),
    StructField("doc", StringType),
    StructField("_shard", IntegerType)))

  /** Incremental reader over a bundle's data directory (file source =
    * exactly-once per file, like the server's processedPaths diff). */
  def read(spark: SparkSession, bundleDir: String,
           maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(bundleSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.json(s"$bundleDir/data")
  }

  /** Continuously consolidate arriving bundle files into per-shard doc
    * counts (the server's per-shard progress view). `availableNow = true`
    * drains what exists and stops — the reference's completion semantics. */
  def consolidate(stream: DataFrame, checkpointDir: String,
                  availableNow: Boolean = true,
                  pollInterval: String = "10 seconds"): StreamingQuery = {
    // corrupt lines parse PERMISSIVE to ALL-null content rows (they still
    // inherit _shard from the directory); a legitimately null _id alone
    // (doc built without an id column) must still count
    val counts = stream
      .filter(col("_id").isNotNull || col("_routing").isNotNull || col("doc").isNotNull)
      .groupBy(col("_shard")).agg(count(lit(1)).as("docs"))
    val w = counts.writeStream
      .format("memory")
      .queryName("bundle_progress")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpointDir)
    (if (availableNow) w.trigger(Trigger.AvailableNow())
     else w.trigger(Trigger.ProcessingTime(pollInterval))).start()
  }
}

object BundleStreamWriter {

  /**
   * Streaming ingestion into shard bundles: each micro-batch of documents
   * (any stream with _id/_routing/doc) is sharded with the ES routing hash
   * and lands under `out/data/_shard=k/` — the streaming counterpart of
   * [[graft.sink.BundleSink]].
   *
   * Exactly-once despite foreachBatch's at-least-once replay: the batch is
   * written to a batch-scoped staging dir (overwrite — a replay rewrites it
   * cleanly), then each part file is renamed into the shard dirs under a
   * DETERMINISTIC name derived from (batchId, partition index). A replay
   * after a mid-commit crash regenerates identical partition content
   * (offsets are checkpointed), so rename-if-absent completes the commit
   * without duplicating files that already made it.
   */
  def start(docs: org.apache.spark.sql.DataFrame, outDir: String, numShards: Int,
            checkpointDir: String,
            availableNow: Boolean = true): StreamingQuery = {
    import org.apache.spark.sql.DataFrame
    // job-record manifest from the start (state "streaming"), so tooling
    // (BundleReader, compaction, Lookup) works on streaming bundles too
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(outDir),
      docs.sparkSession.sparkContext.hadoopConfiguration)
    val mPath = new org.apache.hadoop.fs.Path(outDir, "manifest.json")
    if (!fs.exists(mPath)) {
      val out = fs.create(mPath, true)
      try out.write(graft.sources.BundleManifest.render("", "doc", outDir,
        numShards, "json", completed = None).getBytes("UTF-8"))
      finally out.close()
    }
    val w = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, batchId, outDir, numShards)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow())
     else w.trigger(Trigger.ProcessingTime("10 seconds"))).start()
  }

  /**
   * Seal a drained streaming bundle: one aggregated scan for per-shard doc
   * counts, a commit-style listing for shard_state.json, and the full
   * manifest with `state:"completed"` — after which the bundle passes
   * [[graft.sink.BundleValidate]] and installs through
   * [[graft.sink.BundleInstall]] exactly like a batch-written one (the
   * reference's started→completed job-record transition for the
   * incremental producer). Until sealed, the manifest says
   * `state:"streaming"` and the install daemon treats the bundle as
   * in-flight.
   */
  def seal(spark: SparkSession, outDir: String, numShards: Int,
           indexName: String = "", typeName: String = "doc"): graft.sink.BundleSink.Result = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(outDir),
      spark.sparkContext.hadoopConfiguration)
    val perShard: Map[Int, Long] = {
      val counted = spark.read.schema(BundleStream.bundleSchema)
        .json(s"$outDir/data")
        .groupBy(col("_shard")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      (0 until numShards).map(s => s -> counted.getOrElse(s, 0L)).toMap
    }
    // state + manifest publication is shared with the connector append
    // path — docs from the counts above, files/bytes from one listing per
    // shard dir
    graft.sink.BundleSink.publishState(spark, outDir, numShards, perShard,
      indexName, typeName, "json", "gzip")
  }

  private[graft] def commitBatch(batch: org.apache.spark.sql.DataFrame,
                                     batchId: Long, outDir: String,
                                     numShards: Int): Unit = {
    import graft.functions.EsFunctions
    import org.apache.hadoop.fs.Path
    val staging = s"$outDir/.staging/batch=$batchId"
    batch
      .withColumn("_shard", EsFunctions.es_shard(col("_routing"), numShards))
      .write.mode("overwrite").partitionBy("_shard")
      .option("compression", "gzip").json(staging)
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    graft.sink.BundleSink.renameStaged(fs, new Path(staging),
      new Path(s"$outDir/data"), s"b$batchId")
    fs.delete(new Path(staging), true)
  }
}

object AnnIndexStream {

  /**
   * Streaming maintenance of a [[graft.ext.Similarity.buildIndex]]
   * directory: each micro-batch of (id, vector) rows is assigned to the
   * STORED centroids and encoded with the STORED codebooks (no retraining
   * on the hot path), then committed into the `cent_id=` cell partitions.
   *
   * Exactly-once despite foreachBatch's at-least-once replay — the same
   * scheme as [[BundleStreamWriter]]: the batch lands in a batch-scoped
   * staging dir (overwrite, so a replay rewrites it cleanly), then each
   * part file renames into its cell dir under a DETERMINISTIC name
   * derived from (batchId, partition index); rename-if-absent makes a
   * replayed commit a no-op for files that already made it. A plain
   * `mode("append")` here would double-append on replay.
   */
  def start(rows: DataFrame, indexDir: String, idCol: String, vecCol: String,
            checkpointDir: String, availableNow: Boolean = true,
            cellSalt: Int = 1): StreamingQuery = {
    val w = rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, batchId, indexDir, idCol, vecCol, cellSalt)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow())
     else w.trigger(Trigger.ProcessingTime("10 seconds"))).start()
  }

  private[graft] def commitBatch(batch: DataFrame, batchId: Long,
                                 indexDir: String, idCol: String,
                                 vecCol: String, cellSalt: Int = 1): Unit = {
    import org.apache.hadoop.fs.Path
    val staging = s"$indexDir/.staging/batch=$batchId"
    // the appendToIndex rows: a tombstoned id fails the batch loudly (the
    // PostingsIndexStream guard mirrored — compact, then resume), and cells
    // co-locate before the staging write. Replay-safe: the exchange is
    // deterministic for a given batch AND its partition count is PINNED
    // (pin=true), so part indices — hence the deterministic rename targets
    // below — are stable across foreachBatch replays. An AQE-coalesced
    // column-only repartition could renumber parts between attempt and
    // replay and double-ingest under fresh file names.
    graft.ext.Similarity.encodeForIndex(batch, idCol, vecCol, indexDir, cellSalt,
        pin = true)
      .write.mode("overwrite").partitionBy("cent_id").parquet(staging)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), batch.sparkSession.sparkContext.hadoopConfiguration)
    graft.sink.BundleSink.renameStaged(fs, new Path(staging),
      new Path(s"$indexDir/cells"), s"b$batchId")
    fs.delete(new Path(staging), true)
  }
}

object PostingsIndexStream {

  /**
   * Streaming maintenance of a [[graft.ext.Search.buildPostingsIndex]]
   * directory — the full-text twin of [[AnnIndexStream]]: each
   * micro-batch of (id, text) documents explodes into postings bucketed
   * by the index's OWN `buckets` law and commits into the `tb=`
   * partitions, so a standing corpus index keeps up with an arriving
   * corpus without rebuilds. Queries stay bit-identical to a fresh
   * build over everything ingested so far (exact df from the postings
   * themselves; exact N/avgdl via the per-batch stats deltas below).
   *
   * Exactly-once despite foreachBatch's at-least-once replay, twice
   * over: postings land in a batch-scoped staging dir and rename into
   * `postings/tb=K/` under DETERMINISTIC `b<batchId>-p<idx>` names
   * (rename-if-absent — the [[AnnIndexStream.commitBatch]] scheme; the
   * pre-staging exchange is pinned to `buckets` partitions so part
   * indices are replay-stable), and the corpus-stats delta writes to
   * `batch_stats/batch=<id>` with mode overwrite — a replayed batch
   * rewrites the SAME delta rather than double counting N/avgdl.
   */
  def start(docs: DataFrame, indexDir: String, idCol: String, textCol: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery = {
    val w = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, batchId, indexDir, idCol, textCol)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow())
     else w.trigger(Trigger.ProcessingTime("10 seconds"))).start()
  }

  private[graft] def commitBatch(batch: DataFrame, batchId: Long,
                                 indexDir: String, idCol: String,
                                 textCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    // buckets from the index's own base stats (a parquet footer read):
    // the bucket law MUST be the build's or queries would prune wrongly
    val (_, _, buckets) = graft.ext.Search.readBaseStats(spark, indexDir)
    // new postings CONFORM to the index's flavor (positional or
    // BM25-only): a mixed-schema index would silently never phrase-match
    // the non-positional docs. Empty index defaults to positional.
    val positional = graft.ext.Search.indexFlavor(spark, indexDir)
      .getOrElse(true)
    // a tombstoned id arriving on the stream is the delete→re-ingest
    // trap: its rows would be query-invisible yet stats-counted, then
    // physically dropped at compaction. Fail the batch loudly — compact,
    // then resume the stream.
    graft.ext.Search.requireNotTombstonedIds(batch, idCol, indexDir)
    val staging = s"$indexDir/.staging/batch=$batchId"
    // the batch's token total rides the staged write as an observe()
    // metric (sum(tf) over the postings == sum(size(tokens)) over the
    // batch — the buildPostingsIndex trick, guide §1.2): the stats delta
    // below needs no second tokenize pass. A replayed batch re-runs this
    // write and observes the SAME deterministic values, so the
    // replay-idempotence of the stats delta is unchanged.
    val obsTok = org.apache.spark.sql.Observation()
    graft.ext.Search.postings(batch, idCol, textCol, buckets, positional)
      // pinned partition count (see AnnIndexStream): deterministic
      // row->part mapping makes the rename targets replay-stable
      .repartition(buckets, col("tb"))
      .observe(obsTok, coalesce(sum(col("tf")), lit(0.0)).as("_tt"))
      .write.mode("overwrite").partitionBy("tb").parquet(staging)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val partIdx = "part-(\\d+)".r
    // term-dictionary delta DERIVED from the just-staged postings (they
    // hold one row per (doc, term) by construction, so df(term) is a
    // bare count) instead of a THIRD tokenize pass over the batch — read
    // it back before the staging dir renames away. Batch-delta-sized.
    // Same superset invariant, same rename-if-absent replay safety; an
    // empty batch stages no data files (nothing to read, nothing to add).
    val stagedHasData = fs.exists(new Path(staging)) &&
      fs.listStatus(new Path(staging)).filter(_.isDirectory).exists(d =>
        fs.listStatus(d.getPath).exists(f => f.isFile &&
          f.getPath.getName.startsWith("part-")))
    if (stagedHasData && fs.exists(new Path(s"$indexDir/terms"))) {
      val tStaging = s"$indexDir/.staging-terms/batch=$batchId"
      spark.read.parquet(staging)
        .groupBy("term").agg(count(lit(1)).as("df"))
        .coalesce(1) // vocabulary-delta-sized; pins the part index
        .write.mode("overwrite").parquet(tStaging)
      for (f <- fs.listStatus(new Path(tStaging))
           if f.getPath.getName.startsWith("part-")) {
        val idx = partIdx.findFirstMatchIn(f.getPath.getName)
          .map(_.group(1)).getOrElse("0")
        val suffix = f.getPath.getName.replaceAll("part-\\d+-[0-9a-f-]+", "")
        val dest = new Path(s"$indexDir/terms", s"b$batchId-t$idx$suffix")
        if (!fs.exists(dest) && !fs.rename(f.getPath, dest))
          throw new java.io.IOException(
            s"term-dictionary commit rename failed: ${f.getPath} -> $dest")
      }
      fs.delete(new Path(s"$indexDir/.staging-terms/batch=$batchId"), true)
    }
    graft.sink.BundleSink.renameStaged(fs, new Path(staging),
      new Path(s"$indexDir/postings"), s"b$batchId")
    fs.delete(new Path(staging), true)
    // idempotent per-batch stats delta (replay rewrites, never adds):
    // n_docs is a bare count (every batch row, empty/null texts included);
    // the token total came off the staged write above — no extra tokenize
    import spark.implicits._
    val nDocs = batch.count()
    val dTok = obsTok.get("_tt") match {
      case d: java.lang.Double => d.toLong
      case other => other.asInstanceOf[Number].longValue()
    }
    Seq((nDocs, dTok))
      .toDF("n_docs", "total_tokens")
      .write.mode("overwrite").parquet(s"$indexDir/batch_stats/batch=$batchId")
  }
}

object EventStreams {

  /** Normalize event-time to session-local TIMESTAMP and apply the
    * watermark. Spark 4.x file streams infer parquet timestamp columns as
    * TIMESTAMP_NTZ (`spark.sql.parquet.inferTimestampNTZ.enabled` defaults
    * true), and `withWatermark` rejects NTZ with
    * EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — so every event-time entry point
    * funnels through this cast. The cast is a no-op for an already-LTZ
    * column, so batch DataFrames and explicit-schema streams are unaffected. */
  private def watermarked(events: DataFrame, tsCol: String,
                          watermark: String): DataFrame =
    events.withColumn(tsCol, col(tsCol).cast(TimestampType))
      .withWatermark(tsCol, watermark)

  /** Tumbling-window counts with a watermark (late data beyond the
    * watermark is dropped — the reference's "files after completion are
    * ignored" analog, §2.10). */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    watermarked(events, "ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Session windows with a 30-minute gap (built-in session_window —
    * the streaming form of the q29 gaps-and-islands query). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    watermarked(events, "ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("events_in_session"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("events_in_session"))

  /** Stream-static enrichment: join the event stream against a (periodically
    * reloaded by Spark per micro-batch) dimension table — the streaming form
    * of the broadcast dimension join (§2.6). */
  def enriched(events: DataFrame, dim: DataFrame, eventKey: String,
               dimKey: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      events(eventKey) === dim(dimKey), "left_outer")

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double)
  case class UserState(events: Long, totalValue: Double)
  case class UserSummary(user_id: Long, events: Long, totalValue: Double)

  /** Custom keyed state via mapGroupsWithState: running per-user event count
    * and value total (the §2.10 "stateful progress" analog, checkpointed by
    * the engine instead of a concurrent map). */
  def runningUserTotals(events: Dataset[Ev]): Dataset[UserSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserSummary](GroupStateTimeout.NoTimeout()) {
        (userId, evs, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          val batch = evs.toSeq
          val next = UserState(prev.events + batch.size,
            prev.totalValue + batch.map(_.value).sum)
          state.update(next)
          UserSummary(userId, next.events, next.totalValue)
      }
  }

  /** Same running totals on transformWithState (Spark 4 arbitrary-state v2):
    * typed per-key state variables on a RocksDB-backed store (the scale
    * story — state lives off-heap and incrementally checkpoints via SST
    * changelogs, where mapGroupsWithState's HDFS store rewrites full
    * snapshots). Needs
    * `spark.sql.streaming.stateStore.providerClass=...RocksDBStateStoreProvider`
    * (set by [[graft.GraftSession]]). Differential twin of
    * [[runningUserTotals]] in StreamingSpec. */
  class UserTotalsProcessor extends StatefulProcessor[Long, Ev, UserSummary] {
    @transient private var totals: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserState]("totals",
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[UserSummary] = {
      val prev = if (totals.exists()) totals.get() else UserState(0L, 0.0)
      var n = 0L
      var sum = 0.0
      rows.foreach { e => n += 1; sum += e.value }
      val next = UserState(prev.events + n, prev.totalValue + sum)
      totals.update(next)
      Iterator.single(UserSummary(userId, next.events, next.totalValue))
    }
  }

  def runningUserTotalsTws(events: Dataset[Ev]): Dataset[UserSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** First-seen-wins dedup whose memory EXPIRES: per-key state carries a
    * processing-time TTL, so a key reappearing after `ttl` is accepted
    * again — bounded-age dedup state (the "state must not grow forever"
    * answer for infinite keyspaces; RocksDB evicts expired entries).
    * Operational note: TimeMode.ProcessingTime keeps scheduling no-data
    * micro-batches to advance TTL eviction — `processAllAvailable` on such
    * a query never quiesces; monitor by sink contents, not by drain. */
  class TtlSeenProcessor(ttl: java.time.Duration)
    extends StatefulProcessor[String, (String, Long), (String, Long)] {
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig(ttl))
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 timerValues: TimerValues): Iterator[(String, Long)] = {
      if (seen.exists() || rows.isEmpty) Iterator.empty
      else { seen.update(true); Iterator.single(rows.next()) }
    }
  }

  def dedupWithTtl(rows: Dataset[(String, Long)],
                   ttl: java.time.Duration): Dataset[(String, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .transformWithState(new TtlSeenProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  case class SessionClosed(user_id: Long, events: Long, totalValue: Double)

  /** Inactivity-closed sessions via REGISTERED TIMERS: every event extends
    * the user's deadline by `idleMs`; when the timer fires with no new
    * events, the session summary is emitted from handleExpiredTimer and
    * state clears — the push-based session close the reference's drain
    * loop approximates by polling (§2.10). Same no-data-batch note as TTL:
    * monitor by sink contents. */
  class SessionTimeoutProcessor(idleMs: Long)
    extends StatefulProcessor[Long, Ev, SessionClosed] {
    @transient private var agg: ValueState[UserState] = _
    @transient private var deadline: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[UserState]("agg",
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)
      deadline = getHandle.getValueState[Long]("deadline",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(userId: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[SessionClosed] = {
      val prev = if (agg.exists()) agg.get() else UserState(0L, 0.0)
      var n = 0L; var sum = 0.0
      rows.foreach { e => n += 1; sum += e.value }
      agg.update(UserState(prev.events + n, prev.totalValue + sum))
      // slide the inactivity deadline: drop the old timer, arm a new one
      if (deadline.exists()) getHandle.deleteTimer(deadline.get())
      val due = timerValues.getCurrentProcessingTimeInMs + idleMs
      getHandle.registerTimer(due)
      deadline.update(due)
      Iterator.empty
    }
    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[SessionClosed] = {
      val s = if (agg.exists()) agg.get() else UserState(0L, 0.0)
      agg.clear(); deadline.clear()
      Iterator.single(SessionClosed(userId, s.events, s.totalValue))
    }
  }

  def sessionsByInactivity(events: Dataset[Ev], idleMs: Long): Dataset[SessionClosed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(idleMs),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }
}
