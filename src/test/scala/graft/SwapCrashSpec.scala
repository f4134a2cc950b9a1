package graft

import graft.ext.{Search, Similarity}
import graft.sink.{BundleCompact, BundleSink, BundleValidate}
import graft.streaming.StreamingCorpus
import graft.transform.DocTransform
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Crash-state laws for every directory swap that goes through
 * `FsAtomic.replaceDir`. For each site, the states a crash can leave are
 * built on disk by hand from the pre-op fixture and an uninterrupted run
 * of the op:
 *
 *  - `staged`: `<live>-staging` written, nothing renamed;
 *  - `aside`: `live` moved to `<live>-old`, the staging complete;
 *  - `swapped`: swap done, `<live>-old` left behind.
 *
 * Artifacts the op rewrites BEFORE this swap come from the uninterrupted
 * run (`earlier`), the rest from the fixture. Rerunning the op on each
 * state must lose no row against the pre-op count, leave no `-staging` or
 * `-old`, and end equal to the uninterrupted run.
 */
class SwapCrashSpec extends SparkSpec {

  /** One swap site: the fixture it starts from, the swapped dir relative to
    * the fixture root, the op, the artifacts the op rewrites before the
    * swap, a row measure the op must not lower, and the on-disk outcome an
    * uninterrupted run must reproduce. */
  case class Site(name: String, fixture: () => String, live: String,
                  op: String => Unit, earlier: Seq[String],
                  rows: String => Long, outcome: String => Seq[String])

  private def copyTree(src: Path, dst: Path): Unit = if (Files.exists(src)) {
    val all = Files.walk(src)
    try all.forEach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))
    finally all.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally all.close()
  }

  private def tmp(name: String): Path = Files.createTempDirectory(s"graft-swapcrash-$name")

  /** Every row of a parquet dir as one JSON line, sorted (binary columns
    * render as base64, so cells' codes compare by value). */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*)))
      .collect().map(_.getString(0)).sorted.toSeq

  private def parquetRows(dir: String): Seq[String] = rowsOf(spark.read.parquet(dir))

  /** A postings index over sf0.001 documents: built from the even ids,
    * the odd ids appended — several files per bucket for a compaction to
    * fold. */
  private lazy val postingsFixture: String = {
    val docs = sf("sf0.001", "documents")
    val dir = tmp("postings").toString
    Search.buildPostingsIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir, buckets = 4)
    Search.appendToPostingsIndex(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", dir)
    dir
  }

  /** A columnar bundle of sf0.001 orders, 3 shards, several files each. */
  private lazy val bundleFixture: String = {
    val dir = tmp("bundle").resolve("idx").toString
    BundleSink.write(DocTransform.docsColumnar(sf("sf0.001", "orders"),
      "o_orderkey", Some("o_custkey")), dir, 3, 4, repartition = true,
      format = "columnar")
    dir
  }

  /** An ANN index over sf0.001 embeddings: built from the even ids, the
    * odd ids appended. */
  private lazy val annFixture: String = {
    val dir = tmp("ann").toString
    val emb = sf("sf0.001", "embeddings")
    Similarity.buildIndex(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", dir, nlist = 8, kmeansIters = 2, m = 4, k = 8)
    Similarity.appendToIndex(emb.filter(col("vec_id") % 2 =!= 0), "vec_id",
      "embedding", dir)
    dir
  }

  /** Semdedup label state from sf0.001 embeddings in two batches; ids
    * 200..299 land in both (a replay), for the compaction to fold. */
  private lazy val semDedupFixture: String = {
    val out = tmp("semdedup").toString
    val rows = sf("sf0.001", "embeddings").select(col("vec_id").as("doc_id"),
      (col("vec_id") % 7).cast("int").as("cluster_id"),
      col("embedding").cast("array<double>").as("uv"))
    for ((b, keep) <- Seq(0L -> (col("doc_id") < 300), 1L -> (col("doc_id") >= 200)))
      rows.filter(keep).withColumn("batch_id", lit(b))
        .write.mode("append").parquet(s"$out/state/semdedup")
    out
  }

  /** The postings fixture with a standing tombstone set. */
  private lazy val tombstoneFixture: String = {
    val dir = tmp("tombstones").resolve("idx")
    copyTree(Paths.get(postingsFixture), dir)
    import spark.implicits._
    Search.deleteFromPostingsIndex(spark, dir.toString, Seq(3L, 38L).toDF("doc_id"))
    dir.toString
  }

  private def indexOutcome(dir: String): Seq[String] =
    parquetRows(s"$dir/postings") ++ parquetRows(s"$dir/terms") ++
      Seq(Search.readStats(spark, dir).toString) ++
      Search.postingsTombstones(spark, dir).map(rowsOf).getOrElse(Nil)

  private val sites = Seq(
    Site("bundle", () => bundleFixture, "data",
      dir => { BundleCompact.compact(spark, dir); () }, Nil,
      dir => spark.read.parquet(s"$dir/data").count(),
      dir => {
        val rep = BundleValidate.validate(spark, dir)
        assert(rep.ok, rep.problems)
        parquetRows(s"$dir/data")
      }),
    Site("postings", () => postingsFixture, "postings",
      dir => { Search.compactPostingsIndex(spark, dir); () }, Nil,
      dir => spark.read.parquet(s"$dir/postings").count(), indexOutcome),
    Site("stats record", () => postingsFixture, "stats",
      dir => { Search.compactPostingsIndex(spark, dir); () }, Seq("postings"),
      dir => Search.readStats(spark, dir)._1, indexOutcome),
    Site("terms", () => postingsFixture, "terms",
      dir => { Search.compactPostingsIndex(spark, dir); () },
      Seq("postings", "stats", "batch_stats", "deletes"),
      dir => spark.read.parquet(s"$dir/terms").select("term").distinct().count(),
      indexOutcome),
    Site("tombstone set", () => tombstoneFixture, "deletes",
      dir => {
        import spark.implicits._
        Search.deleteFromPostingsIndex(spark, dir, Seq(97L, 104L).toDF("doc_id"))
      }, Nil,
      dir => Search.postingsTombstones(spark, dir).fold(0L)(_.count()), indexOutcome),
    Site("ANN cells", () => annFixture, "cells",
      dir => { Similarity.compactIndex(spark, dir); () }, Nil,
      dir => spark.read.parquet(s"$dir/cells").count(),
      dir => parquetRows(s"$dir/cells")),
    Site("semdedup state", () => semDedupFixture, "state/semdedup",
      dir => { StreamingCorpus.compactSemDedupState(spark, dir); () }, Nil,
      dir => spark.read.parquet(s"$dir/state/semdedup").drop("batch_id").distinct().count(),
      dir => parquetRows(s"$dir/state/semdedup"))
  )

  // pre-op rows of the sf0.001 fixtures whose crash between the two
  // renames used to delete them on rerun
  private val probeRows = Map("bundle" -> 1500L, "postings" -> 11743L,
    "ANN cells" -> 500L, "semdedup state" -> 500L)

  for (site <- sites)
    test(s"swap crash states heal on rerun: ${site.name}") {
      val pre = Paths.get(site.fixture())
      val preRows = site.rows(pre.toString)
      probeRows.get(site.name).foreach(n => assert(preRows === n))
      val done = tmp("done").resolve("x")
      copyTree(pre, done)
      site.op(done.toString)
      val want = site.outcome(done.toString)
      assert(site.rows(done.toString) >= preRows, s"${site.name}: the op itself lost rows")

      for (state <- Seq("staged", "aside", "swapped")) {
        val d = tmp("state").resolve("x")
        copyTree(pre, d)
        for (a <- site.earlier) {
          deleteTree(d.resolve(a))
          copyTree(done.resolve(a), d.resolve(a))
        }
        val live = d.resolve(site.live)
        val old = d.resolve(site.live + "-old")
        state match {
          case "staged" =>
            copyTree(done.resolve(site.live), d.resolve(site.live + "-staging"))
          case "aside" =>
            Files.move(live, old)
            copyTree(done.resolve(site.live), d.resolve(site.live + "-staging"))
          case "swapped" =>
            Files.move(live, old)
            copyTree(done.resolve(site.live), live)
        }
        site.op(d.toString)
        val what = s"${site.name} / $state"
        assert(site.rows(d.toString) === site.rows(done.toString), s"$what: rows lost")
        val leftovers = live.getParent.toFile.list()
          .filter(n => n.endsWith("-staging") || n.endsWith("-old"))
        assert(leftovers.isEmpty, s"$what: ${leftovers.toSeq}")
        assert(site.outcome(d.toString) === want, s"$what: differs from an uninterrupted run")
      }
    }
}
