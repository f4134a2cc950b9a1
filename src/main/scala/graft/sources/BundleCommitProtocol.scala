package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/**
 * File commit protocol that makes the WRITE JOB own the bundle lifecycle
 * (reference: job state rides the write itself — started marker before any
 * data moves, shard metadata published in the same commit that publishes the
 * data, `ESContainer.scala:251-285` + `ServerNotifier.scala:21-34`):
 *
 *  - `setupJob`   -> `_STARTED` marker at the bundle root (data dir's parent)
 *  - `commitJob`  -> after the committer's temp->final renames, write
 *    `shard_state.json` from a listing of the files that were JUST committed
 *    — per shard: file count, bytes, and doc counts (exact from parquet
 *    footers for parquet/columnar bundles; `-1` for json bundles, refreshed
 *    by [[graft.sink.BundleSink]] from the write job's observe() counts)
 *
 * A driver crash after job commit can therefore never leave committed data
 * without its state blob, and a consumer that sees `shard_state.json` knows
 * the files it describes are final. Installed per-write by BundleSink via
 * `spark.sql.sources.commitProtocolClass`; constructor signature is the one
 * `FileCommitProtocol.instantiate` reflects on.
 *
 * The conf key is SESSION-GLOBAL, so a concurrent write on the same session
 * (another thread, a streaming batch commit) can instantiate this class for
 * a NON-bundle destination. Guard: BundleSink records the exact data path
 * it is writing under [[BundleCommitProtocol.PathKey]] (snapshotted into
 * the job's Hadoop conf at setup); any job whose output path doesn't match
 * degrades to the stock SQLHadoopMapReduceCommitProtocol behavior — no
 * stray `_STARTED`/`shard_state.json` next to someone else's output.
 * BundleSink additionally serializes bundle writes behind a JVM-wide lock
 * so two writes can never race the set/restore of the conf key itself.
 */
object BundleCommitProtocol {
  /** Hadoop-conf key carrying the data path of the bundle write in flight. */
  val PathKey = "graft.bundle.data.path"
}

class BundleCommitProtocol(jobId: String, path: String,
                           dynamicPartitionOverwrite: Boolean)
  extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {

  private def dataDir = new Path(path)
  private def bundleRoot = dataDir.getParent

  /** True iff this job is THE bundle write BundleSink armed the protocol
    * for (URI-path comparison: Spark may qualify the output path with a
    * filesystem scheme the sink-side string lacks). */
  private def isArmedFor(conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val expected = conf.get(BundleCommitProtocol.PathKey)
    expected != null &&
      new Path(expected).toUri.getPath == dataDir.toUri.getPath
  }

  override def setupJob(jobContext: JobContext): Unit = {
    super.setupJob(jobContext)
    if (isArmedFor(jobContext.getConfiguration)) {
      val fs = dataDir.getFileSystem(jobContext.getConfiguration)
      fs.create(new Path(bundleRoot, "_STARTED"), true).close()
    }
  }

  override def commitJob(jobContext: JobContext,
                         taskCommits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(jobContext, taskCommits)
    if (!isArmedFor(jobContext.getConfiguration)) return
    val conf = jobContext.getConfiguration
    val fs = dataDir.getFileSystem(conf)
    val shardDirs = fs.listStatus(dataDir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_shard="))
      .sortBy(_.getPath.getName.stripPrefix("_shard=").toInt)
    val entries = shardDirs.map { d =>
      val files = graft.sink.ShardState.dataFiles(fs, d.getPath)
      val docs = files.foldLeft(0L) { (acc, st) =>
        if (acc < 0 || !st.getPath.getName.contains(".parquet")) -1L
        else acc + parquetRowCount(st, conf)
      }
      graft.sink.ShardState.Entry(d.getPath.getName.stripPrefix("_shard=").toInt,
        docs, files.length, files.map(_.getLen).sum)
    }
    graft.sink.ShardState.write(fs,
      new Path(bundleRoot, graft.sink.ShardState.FileName), entries.toSeq)
  }

  /** Exact committed row count from the parquet footer — a metadata read
    * (no data pages), driver-side, O(files-per-shard). */
  private def parquetRowCount(st: org.apache.hadoop.fs.FileStatus,
                              conf: org.apache.hadoop.conf.Configuration): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }
}
