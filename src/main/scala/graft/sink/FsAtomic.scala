package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * The engine's two ways to rewrite an artifact in place, each committed by
 * a rename — the reference's one commit rule (write `*_tmp`, then rename;
 * `CompressionUtils.java:61,82`):
 *
 *  - [[publish]] — a small control file (manifests, `shard_state.json`,
 *    alias / `_FINALIZED` / claim records, `pipeline_stats.json`) goes to a
 *    uniquely named tmp file, then renames onto its target with REPLACE
 *    semantics ([[renameReplace]]): a concurrent reader sees the old or the
 *    new content, never a partial or missing file.
 *  - [[replaceDir]] — a directory (bundle `data/`, postings, term
 *    dictionary, tombstone set, postings stats record, ANN cells, semdedup
 *    state) is written whole into `<live>-staging`, then swapped in: `live`
 *    moves to `<live>-old`, the staging dir renames to `live`, `-old` is
 *    deleted. If the second rename fails, `-old` is restored.
 *
 * The heal rule ([[heal]]) runs before every swap, and readers that must
 * not serve a torn state run it too: `live` missing with `-old` present
 * means a crash between the two renames, so `-old` (the last complete
 * state) is restored; both present means the swap completed and `-old` is
 * garbage. A restore that loses a race to another healer (its target now
 * exists) counts as success. So a crash at any point leaves the last
 * complete state, and a rerun of the op redoes it.
 */
private[graft] object FsAtomic {

  private def sibling(live: Path, suffix: String): Path =
    new Path(live.getParent, live.getName + suffix)

  /** Restore or retire what an interrupted [[replaceDir]] left at `live`. */
  def heal(fs: FileSystem, live: Path): Unit = {
    val old = sibling(live, "-old")
    if (!fs.exists(live)) {
      if (fs.exists(old))
        try move(fs, old, live, replace = false)
        catch { case e: java.io.IOException =>
          if (!fs.exists(live)) throw new IllegalStateException(
            s"could not restore interrupted swap at $old", e)
        }
    } else if (fs.exists(old)) {
      fs.delete(old, true)
      ()
    }
  }

  /** Heal `live`, run `stage` to write the complete new content into the
    * staging dir it is given (it throws if its own integrity check fails,
    * which leaves `live` untouched), then swap the staging dir in. Returns
    * what `stage` returns. */
  def replaceDir[T](fs: FileSystem, live: Path)(stage: Path => T): T = {
    heal(fs, live)
    val staging = sibling(live, "-staging")
    val old = sibling(live, "-old")
    fs.delete(staging, true)
    val out =
      try stage(staging)
      catch { case e: Throwable => fs.delete(staging, true); throw e }
    if (fs.exists(live)) move(fs, live, old, replace = false)
    try move(fs, staging, live, replace = false)
    catch { case e: java.io.IOException =>
      heal(fs, live)
      throw new IllegalStateException(s"could not swap $staging in; $live restored", e)
    }
    fs.delete(old, true)
    out
  }

  /** Write `bytes` to a uniquely named tmp file beside `target`, then
    * [[renameReplace]] it onto `target`. */
  def publish(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(target.getParent,
      s".${target.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    renameReplace(fs, tmp, target)
  }

  /** Rename `tmp` onto `target` with REPLACE semantics: a concurrent
    * reader sees the old or the new file, never no file. */
  private def renameReplace(fs: FileSystem, tmp: Path, target: Path): Unit = {
    // the NIO move bypasses Hadoop's ChecksumFileSystem: drop both
    // sidecars, or the tmp's `.crc` is orphaned and a STALE target `.crc`
    // makes the next `fs.open` throw ChecksumException over the new bytes
    fs match {
      case cfs: org.apache.hadoop.fs.ChecksumFileSystem if fs.getScheme == "file" =>
        val raw = cfs.getRawFileSystem
        raw.delete(cfs.getChecksumFile(tmp), false)
        raw.delete(cfs.getChecksumFile(target), false)
        ()
      case _ => ()
    }
    move(fs, tmp, target, replace = true)
  }

  /**
   * One atomic rename of `src` to `dst`; throws an IOException if it
   * fails. Without `replace`, an existing `dst` fails the move, where
   * Hadoop's `rename` would move a directory INTO it. The file scheme
   * renames via NIO `ATOMIC_MOVE` (POSIX rename); other schemes use
   * `FileContext.rename`; only a scheme supporting neither (a FileSystem
   * with no AbstractFileSystem binding) falls back to `FileSystem.rename`,
   * after a delete when replacing — the one non-atomic case.
   */
  private def move(fs: FileSystem, src: Path, dst: Path, replace: Boolean): Unit =
    if (fs.getScheme == "file") {
      val opts = java.nio.file.StandardCopyOption.ATOMIC_MOVE +:
        (if (replace) Seq(java.nio.file.StandardCopyOption.REPLACE_EXISTING) else Nil)
      java.nio.file.Files.move(java.nio.file.Paths.get(src.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath), opts: _*)
      ()
    } else {
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, fs.getConf)
          .rename(src, dst,
            if (replace) org.apache.hadoop.fs.Options.Rename.OVERWRITE
            else org.apache.hadoop.fs.Options.Rename.NONE)
      } catch {
        case _: UnsupportedOperationException |
             _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          if (replace) fs.delete(dst, false)
          else if (fs.exists(dst))
            throw new org.apache.hadoop.fs.FileAlreadyExistsException(dst.toString)
          if (!fs.rename(src, dst)) throw new java.io.IOException(s"could not rename $src to $dst")
      }
    }
}
