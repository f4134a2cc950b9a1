package graft.streaming

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/**
 * Streaming SemDeDup: the incremental twin of [[graft.ext.Dedup.semDedup]]
 * — embeddings arrive as a stream, are labeled against a FROZEN centroid
 * artifact (the same frozen-label discipline as streaming cluster mixing:
 * per-batch retraining would drift the blocking key across batches), and
 * each cluster's stateful processor applies the batch drop rule
 * incrementally: a row is dropped when ANY earlier row (smaller id) of the
 * same cluster has rounded cosine >= threshold to it.
 *
 * State keeps every SEEN member per cluster, not just the kept ones — the
 * batch rule compares against earlier rows whether or not they themselves
 * survived, so kept-only state would diverge from the operator. For a
 * stream whose ids are monotone across batches, the concatenated kept
 * output equals `Dedup.semDedup` over the concatenated corpus (within a
 * batch, rows are processed in id order regardless of arrival order).
 *
 * Scale notes: per-cluster state is the cluster's population — the frozen
 * artifact's nlist is the knob that bounds it, exactly like the batch
 * operator's Σ|cluster|² pair cost; a cluster that outgrows `maxCluster`
 * fails LOUDLY (it is a semantic signal to re-split the artifact, not a
 * condition to silently degrade on). Members live in off-heap RocksDB
 * ListState with changelog checkpoints. Cosines are computed on stored
 * unit vectors with the same sequential-sum law as the batch expression,
 * then rounded HALF_UP to 4 decimals — the batch operator's convention —
 * so the two paths threshold identical values.
 */
object StreamingSemDedup {

  case class LabeledVec(cluster_id: Int, vec_id: Long, vec: Array[Double])
  case class KeptVec(vec_id: Long, cluster_id: Int)
  // package-visible, not private: Spark's generated state-encoder code
  // constructs and reads it, and cannot reach a private nested class
  private[streaming] case class SMember(vec_id: Long, vec: Array[Double])

  class SemDedupProcessor(threshold: Double, maxCluster: Int)
    extends StatefulProcessor[Int, LabeledVec, KeptVec] {
    @transient private var seen: ListState[SMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[SMember]("seen",
        Encoders.product[SMember], TTLConfig.NONE)

    // members are unit vectors -> cosine is a plain sequential dot (the
    // batch expression's summation order)
    private def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }

    private def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

    override def handleInputRows(cluster: Int, rows: Iterator[LabeledVec],
                                 timerValues: TimerValues): Iterator[KeptVec] = {
      val members = scala.collection.mutable.ArrayBuffer.empty[SMember]
      if (seen.exists()) members ++= seen.get()
      val out = scala.collection.mutable.ArrayBuffer.empty[KeptVec]
      // in-batch id order = the batch operator's a<b semantics even when
      // arrival order is shuffled
      rows.toSeq.sortBy(_.vec_id).foreach { v =>
        if (members.size >= maxCluster)
          throw new IllegalStateException(
            s"cluster $cluster exceeded maxCluster=$maxCluster members: " +
              "re-split the centroid artifact (finer nlist) — a degenerate " +
              "cluster makes the semantic-dedup pairing quadratic")
        val dup = members.exists(m => m.vec_id < v.vec_id &&
          r4(dot(m.vec, v.vec)) >= threshold)
        if (!dup) out += KeptVec(v.vec_id, cluster)
        members += SMember(v.vec_id, v.vec)
        seen.appendValue(SMember(v.vec_id, v.vec))
      }
      out.iterator
    }
  }

  /** Kept (survivor) rows of the streaming semantic dedup: label with the
    * frozen centroids (map-only — streaming-safe), group by the label,
    * prune statefully. Rows with null/wrong-dimension embeddings drop in
    * labeling, like the batch operator. */
  def kept(docs: DataFrame, idCol: String, vecCol: String,
           cents: IndexedSeq[Seq[Double]], threshold: Double,
           maxCluster: Int = 1000000): Dataset[KeptVec] = {
    val labeled = Similarity.assignClustersWith(docs, vecCol, cents)
    import labeled.sparkSession.implicits._
    labeled
      .select(col("cluster_id").cast("int").as("cluster_id"),
        col(idCol).cast("long").as("vec_id"),
        Similarity.unitize(col(vecCol).cast("array<double>")).as("vec"))
      .as[LabeledVec]
      .groupByKey(_.cluster_id)
      .transformWithState(new SemDedupProcessor(threshold, maxCluster),
        TimeMode.None(), OutputMode.Append())
  }
}
