package graft.streaming

import java.util.concurrent.atomic.LongAdder

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/**
 * Streaming incremental EMBEDDING near-dup: vectors arrive as a stream and
 * are checked against everything accepted so far — the embedding analog of
 * [[StreamingDedup]] (which keys on MinHash band buckets over text).
 *
 * Shape: per vector, sign-LSH signatures for `tables` tables (same fmix64
 * hyperplanes as the batch path [[graft.ext.Similarity.cosineNearDupsLsh]]);
 * the stream is keyed by (table:signature) bucket, a transformWithState
 * processor keeps each bucket's (vec_id, unit vector) members in RocksDB
 * ListState, and a new arrival emits EXACT cosine matches >= threshold
 * against its bucket before joining it.
 *
 * == Scale: adaptive signature depth ==
 *
 * FIXED signature bits are a quadratic trap for accumulated streaming state:
 * 8-bit signatures mean 256 buckets per table no matter how many vectors
 * have accumulated, so at 1M rows each bucket holds ~3.9k members and every
 * arrival pays ~3.9k exact dots per table (the measured 290+ s batch-side
 * failure [[graft.ext.Similarity.autoLshKnobs]] fixed in round 12). The
 * streaming state grows WITHOUT BOUND across batches, so a fixed-bit twin
 * always walks into that wall eventually.
 *
 * The fix exploits a prefix law of the signature kernel
 * ([[graft.functions.LshPlanes.signature]]): hyperplane `b` depends only on
 * (table, b), and bit `b` is packed as `1L << b` — so the `d`-bit signature
 * of a vector is exactly `fullSig & ((1L << d) - 1)` of its `maxBits`-bit
 * signature. Deeper bits REFINE shallower buckets. We therefore:
 *
 *  1. compute each vector's signature ONCE at `maxBits` (the depth
 *     [[graft.ext.Similarity.autoLshKnobs]] prescribes for the capacity
 *     horizon) and key the stream on the shallow `keyBits`-bit prefix —
 *     the grouping key never changes;
 *  2. store the FULL signature with each bucket member;
 *  3. per arrival, compare only against members agreeing on the first
 *     `depth` bits, where `depth` grows with the bucket's member count
 *     (one more bit per doubling past `targetBucket`) up to `maxBits`.
 *
 * The "epoch re-bucket" is thus a mask change, not a state rewrite: members
 * admitted under a shallow epoch carry the deep signature and are filtered
 * correctly under later, deeper epochs. Comparisons per (arrival, table)
 * stay ~2×`targetBucket` regardless of accumulated size, and because
 * `tables` is sized for `maxBits` (the DEEPEST mask ever used), the
 * analytic at-threshold recall is >= `targetRecall` at every epoch —
 * shallower epochs have strictly higher collision probability.
 *
 * `keyBits` bounds per-key STATE reads (a bucket read is one RocksDB list
 * scan per touched key per microbatch): auto mode sizes it so horizon-sized
 * state puts ~[[StreamingEmbedDedup.stateBucketTarget]] members under one
 * key. Per-bucket membership is additionally capped at `maxBucket`
 * (degenerate all-identical corpora; batch-path parity — an over-full
 * bucket's members still meet in their other tables).
 *
 * The same pair can surface from several tables — consumers key on
 * (vec_id, matched_id), e.g. dropDuplicates in foreachBatch. Unlike the
 * text path the emitted score is already the exact cosine — no downstream
 * verify needed.
 */
object StreamingEmbedDedup {

  case class VecMatch(vec_id: Long, matched_id: Long, cosine: Double)

  /** Bucketed vector carrying its full `maxBits` signature. */
  case class SigVec(bucket: String, vec_id: Long, vec: Array[Double], sig: Long)
  // the state class is package-visible, not private: Spark's generated
  // state-encoder code constructs and reads it, and cannot reach a private
  // nested class
  private[streaming] case class SMember(vec_id: Long, vec: Array[Double], sig: Long)

  /** Auto keyBits targets ~this many members per grouping key at the
    * capacity horizon — bounds the per-key RocksDB list read, while the
    * depth mask (not the key) bounds the dot-product count. */
  val stateBucketTarget: Long = 4096L

  /** Test-only (local-mode) instrumentation: exact-cosine comparisons done
    * by adaptive processors in this JVM. Meaningless on a real cluster
    * (executor-local); used by StreamingSpec to pin the bounded-work law. */
  private[graft] val compareCount = new LongAdder

  // members are unit vectors -> cosine is a plain dot
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Comparison depth for a bucket that currently holds `count` members:
    * starts at `keyBits` (the grouping prefix) and deepens one bit per
    * doubling past `targetBucket`, clamped at `maxBits`. Pure — spec'd
    * directly in StreamingSpec. */
  private[graft] def depthFor(count: Int, keyBits: Int, maxBits: Int,
                              targetBucket: Int): Int = {
    val extra =
      if (count <= targetBucket) 0
      else math.ceil(math.log(count.toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(maxBits, keyBits + extra)
  }

  class AdaptiveEmbedDupProcessor(threshold: Double, keyBits: Int, maxBits: Int,
                                  targetBucket: Int, maxBucket: Int)
    extends StatefulProcessor[String, SigVec, VecMatch] {
    @transient private var seen: ListState[SMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[SMember]("seen",
        Encoders.product[SMember], TTLConfig.NONE)

    override def handleInputRows(bucket: String, rows: Iterator[SigVec],
                                 timerValues: TimerValues): Iterator[VecMatch] = {
      val members = scala.collection.mutable.ArrayBuffer.empty[SMember]
      if (seen.exists()) members ++= seen.get()
      val out = scala.collection.mutable.ArrayBuffer.empty[VecMatch]
      rows.foreach { v =>
        if (members.size < maxBucket) {
          val depth = depthFor(members.size, keyBits, maxBits, targetBucket)
          val mask = if (depth >= 64) -1L else (1L << depth) - 1L
          val vSig = v.sig & mask
          members.foreach { m =>
            if (m.vec_id != v.vec_id && (m.sig & mask) == vSig) {
              compareCount.increment()
              val c = dot(v.vec, m.vec)
              if (c >= threshold) out += VecMatch(v.vec_id, m.vec_id, c)
            }
          }
          members += SMember(v.vec_id, v.vec, v.sig)
          seen.appendValue(SMember(v.vec_id, v.vec, v.sig))
        }
      }
      out.iterator
    }
  }

  /** Bucketed + full-signature form of a vector stream, one row per
    * (vector, table): the grouping key is the `keyBits` low-bit prefix of
    * the `maxBits` signature. */
  def bucketedAdaptive(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
                       tables: Int, keyBits: Int, maxBits: Int): Dataset[SigVec] = {
    import vecs.sparkSession.implicits._
    require(keyBits >= 1 && keyBits <= maxBits && maxBits <= 62,
      s"need 1 <= keyBits($keyBits) <= maxBits($maxBits) <= 62")
    val asD = col(vecCol).cast("array<double>")
    val keyMask = (1L << keyBits) - 1L
    vecs
      .select(col(idCol).cast("long").as("vec_id"),
        Similarity.unitize(asD).as("_v"),
        posexplode(array((0 until tables).map(t =>
          Similarity.lshSignature(asD, dim, t, maxBits)): _*)))
      .select(concat(col("pos"), lit(":"), col("col").bitwiseAND(lit(keyMask))).as("bucket"),
        col("vec_id"), col("_v").as("vec"), col("col").as("sig"))
      .as[SigVec]
  }

  /** Streaming matcher over a bucketed vector stream.
    *
    * `tables = 0` / `bits = 0` = AUTO (the scale-correct setting): routes to
    * [[matchesAuto]] with its default capacity horizon — knobs derived the
    * way [[graft.ext.Similarity.autoLshKnobs]] does for batch, with
    * comparison depth adapting to ACCUMULATED state size per bucket.
    * Fixed knobs run the same processor at `keyBits = maxBits = bits`: the
    * grouping key is then the full signature, so the depth mask always
    * passes and every bucket member is compared (`bits` <= 62). */
  def matches(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
              tables: Int = 8, bits: Int = 8, threshold: Double = 0.9,
              maxBucket: Int = 10000): Dataset[VecMatch] =
    if (tables == 0 || bits == 0)
      matchesAuto(vecs, idCol, vecCol, dim, threshold, maxBucket = maxBucket)
    else matchBuckets(vecs, idCol, vecCol, dim, tables, bits, bits,
      threshold, targetBucket = 1, maxBucket)

  /** The one transformWithState plan of both matchers. */
  private def matchBuckets(vecs: DataFrame, idCol: String, vecCol: String,
                           dim: Int, tables: Int, keyBits: Int, maxBits: Int,
                           threshold: Double, targetBucket: Int,
                           maxBucket: Int): Dataset[VecMatch] = {
    val b = bucketedAdaptive(vecs, idCol, vecCol, dim, tables, keyBits, maxBits)
    import b.sparkSession.implicits._
    b.groupByKey(_.bucket)
      .transformWithState(
        new AdaptiveEmbedDupProcessor(threshold, keyBits, maxBits, targetBucket, maxBucket),
        TimeMode.None(), OutputMode.Append())
  }

  /** Adaptive streaming matcher: knobs derived from a CAPACITY HORIZON (the
    * most vectors the query is planned to accumulate — streaming state needs
    * a capacity plan the way any persistent store does), with comparison
    * work then tracking actual per-bucket accumulation:
    *
    *  - `(tables, maxBits)` = [[graft.ext.Similarity.autoLshKnobs]](horizon,
    *    threshold, targetRecall, targetBucket): at-threshold recall >=
    *    `targetRecall` under the deepest mask, and buckets average
    *    ~`targetBucket` members when the horizon is reached;
    *  - `keyBits` sized so a horizon-full grouping key holds
    *    ~[[stateBucketTarget]] members (bounds per-key state reads);
    *  - comparison depth deepens per-bucket as members accumulate
    *    ([[depthFor]]), so per-arrival exact dots stay ~2×`targetBucket`
    *    at EVERY accumulated size — the twin tracks the batch stage's cost
    *    curve instead of going quadratic.
    *
    * Under-shooting the horizon only HELPS recall (shallower masks collide
    * more); over-shooting degrades gracefully — buckets grow past
    * `targetBucket` at the `maxBits` floor, linearly not quadratically. */
  def matchesAuto(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
                  threshold: Double = 0.9, horizonRows: Long = 10000000L,
                  targetRecall: Double = 0.95, targetBucket: Int = 64,
                  maxBucket: Int = 10000): Dataset[VecMatch] = {
    val (tables, maxBits) =
      Similarity.autoLshKnobs(horizonRows, threshold, targetRecall, targetBucket.toLong)
    val keyBits = math.min(maxBits, math.max(8, math.ceil(
      math.log(math.max(1.0, horizonRows.toDouble / stateBucketTarget)) /
        math.log(2.0)).toInt))
    matchBuckets(vecs, idCol, vecCol, dim, tables, keyBits, maxBits, threshold,
      targetBucket, maxBucket)
  }
}
