package graft

import org.apache.spark.sql.functions._

/** Focused A/B micro-bench for optimization rounds: times ONE named
  * operation N times in a single JVM (rep 1 absorbs JIT/codegen warmup;
  * report the median of the rest). Run the before-jar and after-jar
  * interleaved on an idle box to beat the documented 2–4x day-to-day
  * swing of the 1M tier. NOT part of the driver bench contract —
  * `graft.Bench` remains the official entry point.
  *
  * Usage: BenchAB <op> [reps]   op: postings1m | postings1m_nopos |
  *        neardup1m | neardup1m_sparse | q26 | suiteq <name>
  */
object BenchAB {
  def main(args: Array[String]): Unit = {
    val op = args.headOption.getOrElse("postings1m")
    val reps = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = GraftSession.get("graft-bench-ab")
    spark.sparkContext.setLogLevel("ERROR")

    // per-rep diag (the Bench listener, scoped to this JVM): shuffle
    // bytes + spill are DETERMINISTIC per plan shape, so they separate a
    // structural change from box noise when wall-clock swings 2-4x
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val spilled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def diag[T](tag: String)(f: => T): T = {
      val (r0, w0, s0, g0) = (shuffleRead.get, shuffleWrite.get, spilled.get, gcMs())
      val out = f
      println(f"DIAG $tag shuffle_read_mb=${(shuffleRead.get - r0) / 1e6}%.0f " +
        f"shuffle_write_mb=${(shuffleWrite.get - w0) / 1e6}%.0f " +
        f"spill_mb=${(spilled.get - s0) / 1e6}%.0f gc_ms=${gcMs() - g0}")
      out
    }

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def rmrf(path: String): Unit = {
      import java.nio.file.{Files, Paths, Path}
      if (Files.exists(Paths.get(path))) {
        import scala.jdk.CollectionConverters._
        Files.walk(Paths.get(path))
          .sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(p => Files.deleteIfExists(p))
      }
    }

    // the bm25_index_1m corpus, verbatim
    def bm25Docs = spark.range(1000000L).select(col("id").as("doc_id"),
      expr("""array_join(transform(
                sequence(1, cast(50 + pmod(xxhash64(id), 100) as int)),
                i -> concat('w', pmod(xxhash64(id, i), 100))), ' ')""")
        .as("text")).repartition(64).cache()

    val secs = op match {
      case "postings1m" | "postings1m_nopos" =>
        val docs = bm25Docs; docs.count()
        val positional = op == "postings1m"
        val out = (1 to reps).map { _ =>
          val dir = java.nio.file.Files.createTempDirectory("graft-ab-idx").toString
          val s = time {
            graft.ext.Search.buildPostingsIndex(docs, "doc_id", "text", dir,
              buckets = 64, positional = positional)
          }
          rmrf(dir); s
        }
        docs.unpersist(); out
      case "postings1m_parquet" =>
        // same corpus but read from PARQUET (uncached) — the realistic
        // build input shape (the 10M tier builds from parquet): shows the
        // stats-pass observe() saving that a cached corpus hides
        val dir0 = java.nio.file.Files.createTempDirectory("graft-ab-corpus").toString
        bm25Docs.write.mode("overwrite").parquet(dir0)
        val docs = spark.read.parquet(dir0)
        val out = (1 to reps).map { _ =>
          val dir = java.nio.file.Files.createTempDirectory("graft-ab-idx").toString
          val s = time {
            graft.ext.Search.buildPostingsIndex(docs, "doc_id", "text", dir,
              buckets = 64)
          }
          rmrf(dir); s
        }
        rmrf(dir0); out
      case "neardup1m" =>
        // pipeline-shaped corpus: 40-token docs, ids with pmod(id,20)<2
        // form planted near-pairs (share 40 tokens, differ in 1 → jaccard
        // 40/42 ≈ 0.95), everything else unique — ~10% of docs are
        // verify-join candidates, the regime the semi-prefilter targets
        val docs = spark.range(1000000L).select(col("id").as("doc_id"),
          expr("""concat(array_join(transform(
                    sequence(1, 40),
                    i -> concat('t', pmod(xxhash64(
                      cast(case when pmod(id, 20) < 2
                           then id - pmod(id, 20) else id end as long), i),
                      2000000))), ' '), ' u', id)""")
            .as("text")).repartition(64).cache()
        docs.count()
        (1 to reps).map { _ =>
          time {
            graft.ext.Dedup.minhashNearDups(docs, "doc_id", "text",
                threshold = 0.9)
              .write.mode("overwrite").format("noop").save()
          }
        }
      case "q26" =>
        (1 to reps).map { _ =>
          time {
            graft.queries.Queries.all.find(_.name == "q26_minhash_neardup").get
              .build(spark, "/root/testdata/sf0.1")
              .write.mode("overwrite").format("noop").save()
          }
        }
      case "ann_phases" =>
        // q70/q71 anatomy at sf0.1: time each lifecycle phase separately
        val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        emb.count()
        (1 to reps).foreach { r =>
          val d = java.nio.file.Files.createTempDirectory("graft-ab-ann").toString
          val tBuild = time { graft.ext.Similarity.buildIndex(emb, "vec_id",
            "embedding", d, nlist = 16, kmeansIters = 2, m = 8, k = 16) }
          val lean = java.nio.file.Files.createTempDirectory("graft-ab-lean").toString
          val tStrip = time { graft.ext.Similarity.stripVectors(spark, d, lean) }
          val q = emb.filter(col("vec_id") % 25 === 0)
          val tQuery = time { graft.ext.Similarity.indexTopK(q, d,
            "vec_id", "embedding", k = 3, nprobe = 4).collect() }
          val tQueryLean = time { graft.ext.Similarity.indexTopK(q, lean,
            "vec_id", "embedding", k = 3, nprobe = 4,
            rerankCorpus = Some(emb), rerankIdCol = "vec_id").collect() }
          println(f"ANNPHASES rep=$r build=$tBuild%.2f strip=$tStrip%.2f " +
            f"query=$tQuery%.2f queryLean=$tQueryLean%.2f")
          rmrf(d); rmrf(lean)
        }
        Seq(0.0)
      case "embedlsh1m" | "embedlsh1m_strict" | "embedlsh1m_sweep" =>
        // the neardup_1m corpus VERBATIM (Bench.scala cloneGen: ids with
        // id % 20 == 19 are jittered clones of id-1 → 50k planted pairs at
        // cosine ~1), 64-dim float vectors. Plain mode = the bench entry's
        // knobs (bits=16, tables=8); _strict = the pipeline stage's knobs
        // (auto-sized, strict recall floor — 25 tables x 14 bits at 1M);
        // _sweep = one run per autoLshKnobs targetBucket.
        val dim = 64
        val cloneGen = udf { (id: Long) =>
          val base = if (id % 20L == 19L) id - 1L else id
          val r = new scala.util.Random(base * 2654435761L + 13L)
          val v = Array.fill(dim)(r.nextGaussian().toFloat)
          if (base != id) {
            val rj = new scala.util.Random(id * 7L + 3L)
            v.map(x => (x + 0.01 * rj.nextGaussian()).toFloat)
          } else v
        }
        val df = spark.range(1000000L).select(col("id").as("vec_id"),
          cloneGen(col("id")).as("embedding")).repartition(64).cache()
        df.count()
        val strict = op.endsWith("_strict")
        var found = 0L
        var planted = 0L
        val out = if (op.endsWith("_sweep")) {
          // is the 64-row default bucket still the wall-clock minimum?
          // Smaller buckets trade verify dots for more tables (more
          // signature work, more exploded shuffle rows); found must not move
          Seq(256L, 128L, 64L, 32L, 16L).map { tb =>
            val (tables, bits) = graft.ext.Similarity.autoLshKnobs(1000000L,
              threshold = 0.9, targetBucket = tb)
            diag(s"embedlsh sweep tb=$tb tables=$tables bits=$bits") {
              val t = time { found = graft.ext.Similarity.cosineNearDupsLsh(df,
                "vec_id", "embedding", threshold = 0.9, dim = dim,
                tables = tables, bits = bits).count() }
              println(f"EMBEDLSH sweep tb=$tb found=$found sec=$t%.2f")
              t
            }
          }
        } else (1 to reps).map { r =>
          diag(s"embedlsh rep=$r") {
            val t = time {
              val pairs =
                if (strict) graft.ext.Similarity.cosineNearDupsLsh(df,
                  "vec_id", "embedding", threshold = 0.9, dim = dim,
                  tables = 0, bits = 0, strictRecall = true).cache()
                else graft.ext.Similarity.cosineNearDupsLsh(df,
                  "vec_id", "embedding", threshold = 0.9, dim = dim,
                  bits = 16).cache()
              found = pairs.count()
              planted = pairs.filter(col("id_b") === col("id_a") + 1 &&
                col("id_b") % 20 === 19).count()
              pairs.unpersist()
            }
            println(f"EMBEDLSH found=$found planted_found=$planted sec=$t%.2f")
            t
          }
        }
        df.unpersist(); out
      case "embedlsh_plan" =>
        // evidence capture: the LSH candidate+verify plan (formatted) for
        // plans/r17/ — before-jar prints the vector-carrying SMJ shape,
        // after-jar the bare-signature + broadcast-verify shape. Input is
        // cached + materialized like the bench entry so the planner sees
        // the real (InMemoryRelation) stats, not a UDF guess.
        val dim = 64
        val cloneGen = udf { (id: Long) =>
          val r = new scala.util.Random(id * 2654435761L + 13L)
          Array.fill(dim)(r.nextGaussian().toFloat)
        }
        val df = spark.range(1000000L).select(col("id").as("vec_id"),
          cloneGen(col("id")).as("embedding")).repartition(64).cache()
        df.count()
        println(graft.ext.Similarity.cosineNearDupsLsh(df, "vec_id",
            "embedding", threshold = 0.9, dim = dim, bits = 16)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        df.unpersist()
        Seq(0.0)
      case "postings_plan" =>
        // evidence capture: the postings-build plan (formatted), for
        // plans/r16/ — run with the before-jar first on the classpath to
        // print the pre-O1 plan, with the after-jar alone for the new one
        val docs = bm25Docs
        println(graft.ext.Search.postings(docs, "doc_id", "text", 64)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        docs.unpersist()
        Seq(0.0)
      case other =>
        // any comma-separated list of suite queries by name at sf0.1:
        // each query timed `reps` times; per-query medians print here and
        // the combined secs return below (for single-name runs)
        val names = other.split(",").map(_.trim).filter(_.nonEmpty)
        val out = names.flatMap { name =>
          val q = graft.queries.Queries.all.find(_.name == name)
            .getOrElse(sys.error(s"unknown op/query $name"))
          val qs = (1 to reps).map { _ =>
            time {
              q.build(spark, "/root/testdata/sf0.1")
                .write.mode("overwrite").format("noop").save()
            }
          }
          val warm = qs.drop(1).sorted
          println(f"ABQ $name secs=${qs.map(s => f"$s%.2f").mkString(",")} " +
            f"median_after_warm=${warm(warm.size / 2)}%.3f")
          qs
        }
        out.toSeq
    }
    val sorted = secs.drop(1).sorted
    val med = if (sorted.nonEmpty) sorted(sorted.size / 2) else secs.head
    println(f"AB $op reps=$reps secs=${secs.map(s => f"$s%.2f").mkString(",")} " +
      f"median_after_warm=$med%.3f")
    graft.queries.Queries.sweepScratch()
    spark.stop()
  }
}
