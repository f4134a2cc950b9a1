package graft.sink

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/**
 * `shard_state.json`: per shard, its doc, file and byte counts — the bundle
 * analog of the reference's per-shard `_state` blob
 * (`ESContainer.scala:261-268`). The write job's commit protocol
 * ([[graft.sources.BundleCommitProtocol]]) writes it with the data, later
 * publishers (append mirror, seal, compaction) refresh it from one listing
 * per shard directory, and [[BundleValidate]] checks the data against it.
 */
private[graft] object ShardState {

  case class Entry(shard: Int, docs: Long, files: Long, bytes: Long)

  val FileName = "shard_state.json"

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def listed(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** `_`- and `.`-prefixed names are markers and checksums, not data. */
  private def isData(st: FileStatus): Boolean =
    st.isFile && !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")

  /** Data files of one shard directory (none when it does not exist). */
  def dataFiles(fs: FileSystem, shardDir: Path): Seq[FileStatus] =
    listed(fs, shardDir).filter(isData)

  /** Data files under `dir` at any depth (0 when it does not exist) — the
    * files-before/after figure of every compaction. */
  def countDataFiles(fs: FileSystem, dir: Path): Long =
    listed(fs, dir).map(st =>
      if (st.isDirectory) countDataFiles(fs, st.getPath)
      else if (isData(st)) 1L else 0L).sum

  /** (files, bytes) of one shard directory, from one listing. */
  def listing(fs: FileSystem, shardDir: Path): (Long, Long) = {
    val files = dataFiles(fs, shardDir)
    (files.size.toLong, files.map(_.getLen).sum)
  }

  /** Entries for shards `0 until numShards` of `dataDir`: files and bytes
    * listed, docs from `docs`. */
  def list(fs: FileSystem, dataDir: Path, numShards: Int,
           docs: Map[Int, Long]): Seq[Entry] =
    (0 until numShards).map { sh =>
      val (files, bytes) = listing(fs, new Path(dataDir, s"_shard=$sh"))
      Entry(sh, docs.getOrElse(sh, 0L), files, bytes)
    }

  def write(fs: FileSystem, file: Path, entries: Seq[Entry]): Unit = {
    val json = mapper.createArrayNode()
    entries.foreach(e => json.addObject().put("shard", e.shard)
      .put("docs", e.docs).put("files", e.files).put("bytes", e.bytes))
    FsAtomic.publish(fs, file, mapper.writeValueAsBytes(json))
  }

  /** The entries of `file`, None when it does not exist (bundles predating
    * it). Docs may be the commit-time -1 sentinel of a json bundle whose
    * refresh never ran; files and bytes are still the commit's listing. */
  def read(fs: FileSystem, file: Path): Option[Seq[Entry]] =
    BundleSink.readFile(fs, file).map { s =>
      import scala.jdk.CollectionConverters._
      mapper.readTree(s).elements().asScala.map(n => Entry(n.path("shard").asInt,
        n.path("docs").asLong, n.path("files").asLong, n.path("bytes").asLong)).toSeq
    }
}
