package graft

import graft.ext.Search
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {
  import spark.implicits._

  /** Independent driver-side BM25 over collected rows — shares nothing
    * with the operator but the published formula. */
  private def refBm25(rows: Seq[(Long, String)], query: String,
                      k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
    def tok(s: String): Seq[String] =
      if (s == null) Seq.empty
      else s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val terms = tok(query).distinct.sorted
    val docs = rows.map { case (id, s) => id -> tok(s) }
    val n = docs.size
    val avgdl = docs.map(_._2.size).sum.toDouble / n
    val dfm = terms.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    docs.flatMap { case (id, w) =>
      val matched = terms.exists(w.contains)
      if (!matched) None
      else {
        val dl = w.size.toDouble
        val score = terms.map { t =>
          val tf = w.count(_ == t).toDouble
          val idf = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
          idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
        }.sum
        Some(id -> score)
      }
    }.toMap
  }

  test("bm25TopK matches an independent driver-side recomputation") {
    val docs = sf("sf0.001", "documents")
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val query = "spark window merge"
    val got = Search.bm25TopK(docs, "doc_id", "text", query, k = 30)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val ref = refBm25(rows, query)
    // ranking: sort ref by (rounded score desc, id asc), take 30
    val expected = ref.toSeq
      .map { case (id, s) => (id, math.rint(s * 1e4) / 1e4) }
      .sortBy { case (id, s) => (-s, id) }.take(30)
    assert(got.length === expected.length)
    got.zip(expected).zipWithIndex.foreach { case (((gid, grk, gsc), (eid, esc)), i) =>
      assert(grk === i + 1)
      assert(gid === eid, s"rank ${i + 1}")
      assert(math.abs(gsc - esc) < 1e-9, s"rank ${i + 1} score")
    }
    // only matching docs are ranked; scores strictly positive
    assert(got.forall(_._3 > 0.0))
  }

  test("bm25TopK plan is map-only: TakeOrdered, no corpus-sized exchange") {
    val docs = sf("sf0.001", "documents")
    val df = Search.bm25TopK(docs, "doc_id", "text", "spark merge", k = 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected distributed TakeOrdered in:\n$plan")
    // the only Exchange allowed is the bounded (<= k rows) single-partition
    // one feeding the rank window AFTER the TakeOrdered
    val exchanges = "Exchange (hashpartitioning|rangepartitioning)".r
      .findAllIn(plan).size
    assert(exchanges === 0,
      s"corpus-sized exchange in what must be a map-only plan:\n$plan")
    // no explode anywhere: tf is a projection, not a postings blow-up
    assert(!plan.toLowerCase.contains("generate"),
      s"explode in the literal-query path:\n$plan")
  }

  test("bm25TopKBatch agrees with the single-query path per query") {
    val docs = sf("sf0.001", "documents")
    val queries = Seq((1L, "spark window merge"), (2L, "join stream"),
      (3L, "table scan batch")).toDF("query_id", "query_text")
    val batch = Search.bm25TopKBatch(docs, "doc_id", "text", queries, k = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getDouble(3))))
      .toMap
    for ((qid, qtext) <- Seq((1L, "spark window merge"), (2L, "join stream"),
        (3L, "table scan batch"))) {
      val single = Search.bm25TopK(docs, "doc_id", "text", qtext, k = 15)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val b = batch.collect { case ((q, d), v) if q == qid => (d, v) }.toMap
      assert(b.keySet === single.map(_._1).toSet, s"query $qid candidate set")
      // EXACT equality: the batch contribution uses the scan path's
      // scoreCol association verbatim, so the two paths agree to the ulp
      single.foreach { case (d, _, sc) =>
        assert(b(d)._2 === sc, s"query $qid doc $d score") }
    }
  }

  test("cosineTopK against a corpus row's vector agrees with bruteForceTopK") {
    val e = sf("sf0.001", "embeddings")
    val qv = e.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq
    val got = Search.cosineTopK(e, "vec_id", "embedding", qv, k = 11)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // bruteForceTopK with query row 7 and self excluded == cosineTopK
    // minus its rank-1 self hit (cos(q, q) = 1.0), shifted by one
    val ref = graft.ext.Similarity.bruteForceTopK(
        e.filter(col("vec_id") === 7), e, "vec_id", "vec_id", "embedding",
        k = 10)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.head._1 === 7L && got.head._3 === 1.0)
    got.tail.zip(ref).foreach { case ((gid, grk, gsc), (rid, rrk, rsc)) =>
      assert(gid === rid && grk === rrk + 1)
      assert(math.abs(gsc - rsc) < 2e-4) // both rounded to 4 decimals
    }
  }

  test("hybridTopK: RRF fusion math and candidate-union membership") {
    val docs = sf("sf0.001", "documents")
    val e = sf("sf0.001", "embeddings")
    val qv = e.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq
    val kCand = 25
    val bm = Search.bm25TopK(docs, "doc_id", "text", "spark join stream", kCand)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vc = Search.cosineTopK(e, "vec_id", "embedding", qv, kCand)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Search.hybridTopK(docs, "doc_id", "text", e, "vec_id", "embedding",
        "spark join stream", qv, k = 12, kCand = kCand)
      .collect()
    assert(got.length === 12)
    got.foreach { r =>
      val id = r.getLong(0)
      val br = Option(r.get(2)).map(_.asInstanceOf[Int])
      val vr = Option(r.get(3)).map(_.asInstanceOf[Int])
      assert(br === bm.get(id), s"doc $id bm25 rank")
      assert(vr === vc.get(id), s"doc $id vec rank")
      val expected = br.map(x => 1.0 / (60.0 + x)).getOrElse(0.0) +
        vr.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
      assert(r.getDouble(4) === expected, s"doc $id rrf")
    }
    // fused ranking is by rrf desc, id asc, and from the candidate union
    val rrfs = got.map(_.getDouble(4)).toSeq
    assert(rrfs === rrfs.sorted.reverse)
    assert(got.map(_.getLong(0)).toSet.subsetOf(bm.keySet ++ vc.keySet))
    // a doc present in BOTH lists outranks one with only a comparable
    // single-list rank: rank-1-both beats rank-2-single by construction
    val both = got.filter(r => !r.isNullAt(2) && !r.isNullAt(3))
    if (both.nonEmpty) assert(both.head.getInt(1) === got.head.getInt(1))
  }

  test("postings index: indexedBm25TopK is bit-identical to bm25TopK") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25idx").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 16)
    for (q <- Seq("spark window merge", "join stream",
        "zzznosuchterm spark")) {
      val scan = Search.bm25TopK(docs, "doc_id", "text", q, k = 25)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val idx = Search.indexedBm25TopK(spark, dir, q, k = 25)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      // EXACT double equality: ranking, rounding and the fixed-term-order
      // float sum must all agree bit for bit
      assert(idx === scan, s"query '$q'")
    }
  }

  test("postings index: append == full rebuild, for postings and queries") {
    val docs = sf("sf0.001", "documents")
    val first = docs.filter(col("doc_id") < 250)
    val rest = docs.filter(col("doc_id") >= 250)
    val inc = java.nio.file.Files.createTempDirectory("graft-bm25inc").toString
    val full = java.nio.file.Files.createTempDirectory("graft-bm25full").toString
    Search.buildPostingsIndex(first, "doc_id", "text", inc, buckets = 8)
    Search.appendToPostingsIndex(rest, "doc_id", "text", inc)
    Search.buildPostingsIndex(docs, "doc_id", "text", full, buckets = 8)
    val pInc = spark.read.parquet(s"$inc/postings")
    val pFull = spark.read.parquet(s"$full/postings")
    assert(pInc.exceptAll(pFull).count() === 0 &&
      pFull.exceptAll(pInc).count() === 0, "postings sets differ")
    val q = "spark window merge join"
    val gInc = Search.indexedBm25TopK(spark, inc, q, k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val gScan = Search.bm25TopK(docs, "doc_id", "text", q, k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(gInc === gScan)
  }

  test("postings index query opens ONLY the needed tb= buckets") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25prune").toString
    val buckets = 16
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets)
    val q = "spark merge"
    val needed = Search.queryTerms(q).map(Search.termBucket(_, buckets)).toSet
    assert(needed.size < buckets, "test needs a pruning opportunity")
    val df = Search.indexedBm25TopK(spark, dir, q, k = 5)
    val roots = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten
    val tbRoots = roots.filter(_.contains("/tb="))
    assert(tbRoots.nonEmpty, "expected explicit pruned tb= paths")
    val opened = tbRoots.map(p => p.substring(p.indexOf("/tb=") + 4).toInt).toSet
    assert(opened.subsetOf(needed),
      s"opened buckets $opened exceed the needed set $needed")
    // and the term predicate pushes into the parquet reader
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"term IN must reach the scan:\n$plan")
  }

  test("streaming postings maintenance: stream over batches == one-shot " +
      "build; replay-safe commit") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25strm").toString
    // base index over the first slice; two more slices arrive as files
    Search.buildPostingsIndex(docs.filter(col("doc_id") < 150),
      "doc_id", "text", s"$dir/idx", buckets = 8)
    docs.filter(col("doc_id") >= 150 && col("doc_id") < 320)
      .write.mode("append").parquet(s"$dir/in")
    docs.filter(col("doc_id") >= 320)
      .write.mode("append").parquet(s"$dir/in")
    val src = spark.read.parquet(s"$dir/in")
    val stream = spark.readStream.schema(src.schema).parquet(s"$dir/in")
    val q = graft.streaming.PostingsIndexStream.start(stream, s"$dir/idx",
      "doc_id", "text", s"$dir/ckpt")
    q.awaitTermination(120000)
    // postings identical to a one-shot build over everything
    Search.buildPostingsIndex(docs, "doc_id", "text", s"$dir/full", buckets = 8)
    val pInc = spark.read.parquet(s"$dir/idx/postings")
    val pFull = spark.read.parquet(s"$dir/full/postings")
    assert(pInc.exceptAll(pFull).count() === 0 &&
      pFull.exceptAll(pInc).count() === 0, "postings sets differ")
    // queries bit-identical to the corpus scan over everything ingested
    val scan = Search.bm25TopK(docs, "doc_id", "text", "spark window merge",
        k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val got = Search.indexedBm25TopK(spark, s"$dir/idx", "spark window merge",
        k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got === scan)
    // the stream maintained the term dictionary too: fuzzy/prefix from
    // the index == the corpus scan over everything ingested
    val fzScan = Search.fuzzyTopK(docs, "doc_id", "text", "spork windoe",
        k = 20, fuzziness = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val fzIdx = Search.indexedFuzzyTopK(spark, s"$dir/idx", "spork windoe",
        k = 20, fuzziness = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(fzIdx === fzScan, "streamed dictionary must serve fuzzy exactly")
    // replay safety: re-committing batch 0 with the same content is a
    // no-op for both the postings AND the stats deltas
    graft.streaming.PostingsIndexStream.commitBatch(
      spark.read.parquet(s"$dir/in"), 0L, s"$dir/idx", "doc_id", "text")
    val again = Search.indexedBm25TopK(spark, s"$dir/idx",
        "spark window merge", k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(again === scan, "replayed commit changed query results")
    // ... and the replayed commit did not duplicate dictionary mass for
    // relaxed queries either (duplicates would only pad advisory df, but
    // the b<id>-t<idx> rename-if-absent means not even that happens)
    val fzAgain = Search.indexedFuzzyTopK(spark, s"$dir/idx", "spork windoe",
        k = 20, fuzziness = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(fzAgain === fzScan)
  }

  test("postings compaction: fewer files, stats deltas folded, queries " +
      "bit-identical") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25cpt").toString
    Search.buildPostingsIndex(docs.filter(col("doc_id") < 150),
      "doc_id", "text", dir, buckets = 8)
    // two streaming commits -> one file per (bucket, batch) + 2 deltas
    graft.streaming.PostingsIndexStream.commitBatch(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 320), 1L, dir,
      "doc_id", "text")
    graft.streaming.PostingsIndexStream.commitBatch(
      docs.filter(col("doc_id") >= 320), 2L, dir, "doc_id", "text")
    val before = Search.indexedBm25TopK(spark, dir, "spark window merge",
        k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val (b, a) = Search.compactPostingsIndex(spark, dir)
    assert(a < b, s"compaction should shrink the file count ($b -> $a)")
    // the stream's stats deltas folded into the base record and retired
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batch_stats")))
    val st = spark.read.parquet(s"$dir/stats").head()
    assert(st.getAs[Long]("n_docs") === docs.count())
    // queries bit-identical across the rewrite, and still == corpus scan
    val after = Search.indexedBm25TopK(spark, dir, "spark window merge",
        k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(after === before)
    val scan = Search.bm25TopK(docs, "doc_id", "text", "spark window merge",
        k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(after === scan)
  }

  test("retrievalMetrics matches an independent driver-side recomputation " +
      "over a real BM25 run") {
    val docs = sf("sf0.001", "documents")
    val kEval = 15
    val run = Search.bm25TopKBatch(docs, "doc_id", "text",
      Seq((1L, "spark window merge"), (2L, "join stream"))
        .toDF("query_id", "query_text"), k = kEval)
    // judgments: docs containing every term of the query (deterministic
    // ground truth, overlaps the BM25 top-k by construction)
    val w = Search.tokens(col("text"))
    val qrels =
      docs.filter(array_contains(w, "spark") && array_contains(w, "window") &&
          array_contains(w, "merge"))
        .select(lit(1L).as("query_id"), col("doc_id"))
      .unionAll(docs.filter(array_contains(w, "join") &&
          array_contains(w, "stream"))
        .select(lit(2L).as("query_id"), col("doc_id")))
    val got = Search.retrievalMetrics(run, qrels, k = kEval)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    val runLocal = run.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val qrelLocal = qrels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (qid <- Seq(1L, 2L)) {
      val rel = qrelLocal.collect { case (q, d) if q == qid => d }
      val hits = runLocal.filter(t => t._1 == qid && t._3 <= kEval &&
        rel.contains(t._2)).sortBy(_._3)
      def r4(x: Double) = math.rint(x * 1e4) / 1e4
      val (grel, ghits, gp, gr, gmrr, gap, gndcg) = got(qid)
      assert(grel === rel.size.toLong && ghits === hits.length.toLong, s"q$qid")
      assert(gp === r4(hits.length.toDouble / kEval), s"q$qid precision")
      assert(gr === r4(hits.length.toDouble / rel.size), s"q$qid recall")
      assert(gmrr === r4(hits.headOption.map(1.0 / _._3).getOrElse(0.0)),
        s"q$qid mrr")
      val ap = hits.zipWithIndex.foldLeft(0.0) { case (a, (h, j)) =>
        a + (j + 1).toDouble / h._3 } / rel.size
      assert(math.abs(gap - ap) < 1e-4, s"q$qid ap")
      val dcg = hits.foldLeft(0.0)((a, h) =>
        a + 1.0 / (math.log(h._3 + 1.0) / math.log(2.0)))
      val idcg = (1 to math.min(kEval, rel.size)).foldLeft(0.0)((a, i) =>
        a + 1.0 / (math.log(i + 1.0) / math.log(2.0)))
      assert(math.abs(gndcg - dcg / idcg) < 1e-4, s"q$qid ndcg")
      assert(ghits > 0, s"q$qid should have hits by construction")
    }
  }

  test("retrievalMetrics edges: zero-hit query scores 0; unjudged queries " +
      "are omitted") {
    val run = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 10L, 1), (9L, 10L, 1))
      .toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1L, 99L), (2L, 10L), (2L, 11L), (2L, 12L))
      .toDF("query_id", "doc_id")
    val got = Search.retrievalMetrics(run, qrels, k = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    // query 1: judged but no hits -> all-zero metrics, still a row
    assert(got(1L) === ((1L, 0L, 0.0, 0.0, 0.0, 0.0)))
    // query 2: 1 hit of 3 relevant at rank 1; idcg over min(k=2, 3)=2
    val idcg2 = 1.0 + 1.0 / (math.log(3.0) / math.log(2.0))
    assert(got(2L)._1 === 3L && got(2L)._2 === 1L)
    assert(got(2L)._3 === math.rint(1.0 / 3.0 * 1e4) / 1e4) // recall
    assert(got(2L)._4 === 1.0)                              // mrr
    assert(got(2L)._5 === math.rint(1.0 / 3.0 * 1e4) / 1e4) // ap = (1/1)/3
    assert(got(2L)._6 === math.rint(1.0 / idcg2 * 1e4) / 1e4)
    // query 9 has no judgments: no row
    assert(!got.contains(9L) && got.size === 2)
  }

  test("highlights: ALL occurrence positions and centered snippets " +
      "match a driver-side recomputation; no corpus exchange") {
    val docs = sf("sf0.001", "documents")
    val w = 3
    val got = Search.highlights(docs, "doc_id", "text", "spark window merge",
        window = w)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(3))).toSet
    val rows = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    def tok(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val expected = (for {
      (id, Some(text)) <- rows.toSeq
      t <- Seq("merge", "spark", "window")
      ws = tok(text)
      p <- ws.zipWithIndex.collect { case (`t`, i) => i } // every occurrence
    } yield (id, t, p,
      ws.slice(math.max(0, p - w), p + w + 1).mkString(" "))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
    // repeated terms really produce multiple rows somewhere in the corpus
    assert(got.groupBy(r => (r._1, r._2)).exists(_._2.size > 1),
      "expected at least one doc with a repeated query term")
    got.foreach { case (_, t, _, snip) =>
      assert(snip.split(" ").contains(t)) }
    val plan = Search.highlights(docs, "doc_id", "text", "spark merge")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"highlighting must be map-only:\n$plan")
  }

  test("phraseTopK: occurrence counts (overlaps included) and scores " +
      "match a driver-side recomputation; map-only plan") {
    val docs = sf("sf0.001", "documents")
    val phrase = "merge spark"
    val got = Search.phraseTopK(docs, "doc_id", "text", phrase, k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // independent driver-side recomputation of the documented law
    val rows = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    def tok(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val pts = tok(phrase)
    val all = rows.map { case (id, s) => id -> tok(s) }
    val n = all.length
    val avgdl = all.map(_._2.size).sum.toDouble / n
    val dfm = pts.distinct.map(t =>
      t -> all.count(_._2.contains(t)).toDouble).toMap
    def idf(t: String) = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
    val idfSum = pts.foldLeft(0.0)((a, t) => a + idf(t))
    val expected = all.flatMap { case (id, ws) =>
      val ptf = (0 to ws.size - pts.size).count(i =>
        pts.indices.forall(j => ws(i + j) == pts(j))).toDouble
      if (ptf == 0) None
      else Some(id -> math.rint(idfSum * ptf * 2.2 /
        (ptf + 1.2 * (0.25 + 0.75 * ws.size / avgdl)) * 1e4) / 1e4)
    }.sortBy { case (id, s) => (-s, id) }.take(20)
    assert(got.map(_._1).toSeq === expected.map(_._1).toSeq)
    got.zip(expected).foreach { case ((_, _, gs), (_, es)) =>
      assert(math.abs(gs - es) < 1e-9) }
    assert(got.nonEmpty, "phrase should match at least one doc")
    // map-only: TakeOrdered, no corpus exchange, no explode
    val plan = Search.phraseTopK(docs, "doc_id", "text", phrase, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!"Exchange (hashpartitioning|rangepartitioning)".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("phraseTopK counts overlapping occurrences and repeated-term " +
      "phrases correctly") {
    val docs = Seq(
      (1L, "a a a b"),      // "a a" occurs twice (overlap)
      (2L, "a b a b a"),    // "a b" occurs twice
      (3L, "b a"),          // "a b" never
      (4L, "x y")).toDF("doc_id", "text")
    def matched(phrase: String): Set[Long] =
      Search.phraseTopK(docs, "doc_id", "text", phrase, k = 10)
        .collect().map(_.getLong(0)).toSet
    // overlapping "a a": doc 1 matches (twice: starts 0 and 1); nothing else
    assert(matched("a a") === Set(1L))
    // "a b": docs 1 and 2 (doc 3 has the tokens but not adjacent in order)
    assert(matched("a b") === Set(1L, 2L))
    // single-token phrase degenerates to term match
    assert(matched("b") === Set(1L, 2L, 3L))
    // overlap count feeds the score: doc 1's "a a" ptf is 2, so its score
    // strictly beats a hypothetical single occurrence at the same length —
    // check via a one-occurrence sibling of identical dl
    val sib = Seq((1L, "a a a b"), (2L, "a a x b")).toDF("doc_id", "text")
    val s = Search.phraseTopK(sib, "doc_id", "text", "a a", k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(1L) > s(2L), "two overlapping occurrences must outscore one")
  }

  test("indexedPhraseTopK is bit-identical to phraseTopK, including " +
      "repeated-term and dotted phrases") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-phraseidx").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 16)
    for (p <- Seq("merge spark", "spark window merge", "window window",
        "stream join")) {
      val scan = Search.phraseTopK(docs, "doc_id", "text", p, k = 25)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val idx = Search.indexedPhraseTopK(spark, dir, p, k = 25)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(idx === scan, s"phrase '$p'")
    }
    // dotted terms survive the positional pivot too
    val dotted = Seq((1L, "node.js rocks node.js rocks"), (2L, "rocks node.js"),
      (3L, "node.js alone")).toDF("doc_id", "text")
    val dir2 = java.nio.file.Files.createTempDirectory("graft-phrasedot").toString
    Search.buildPostingsIndex(dotted, "doc_id", "text", dir2, buckets = 4)
    val s2 = Search.phraseTopK(dotted, "doc_id", "text", "node.js rocks", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val i2 = Search.indexedPhraseTopK(spark, dir2, "node.js rocks", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // doc 2 has the tokens REVERSED ("rocks node.js") — order matters
    assert(i2 === s2 && s2.map(_._1).toSet === Set(1L))
  }

  test("positional postings survive append + streaming commit + " +
      "compaction; phrase queries stay bit-identical") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-phrasemnt").toString
    Search.buildPostingsIndex(docs.filter(col("doc_id") < 200),
      "doc_id", "text", dir, buckets = 8)
    Search.appendToPostingsIndex(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 350),
      "doc_id", "text", dir)
    graft.streaming.PostingsIndexStream.commitBatch(
      docs.filter(col("doc_id") >= 350), 1L, dir, "doc_id", "text")
    val scan = Search.phraseTopK(docs, "doc_id", "text", "merge spark", k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val before = Search.indexedPhraseTopK(spark, dir, "merge spark", k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(before === scan)
    Search.compactPostingsIndex(spark, dir)
    val after = Search.indexedPhraseTopK(spark, dir, "merge spark", k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(after === scan)
  }

  test("facets: matched-set value counts match a driver-side recomputation") {
    val docs = sf("sf0.001", "documents")
    val got = Search.facets(docs, "text", "join stream",
        Seq("source", "lang"), topN = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3)))
    def tok(s: String) =
      if (s == null) Seq.empty
      else s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val matched = docs.select("text", "source", "lang").collect()
      .filter { r =>
        val ws = tok(r.getString(0)); ws.contains("join") || ws.contains("stream")
      }
    for (f <- Seq("source", "lang")) {
      val counts = matched.groupBy(r =>
          Option(r.getString(if (f == "source") 1 else 2)))
        .map { case (v, rs) => v -> rs.length.toLong }.toSeq
        .sortBy { case (v, n) => (-n, v.getOrElse("")) }
        .take(5)
      val gf = got.filter(_._1 == f).sortBy(_._4)
      assert(gf.map(t => (Option(t._2), t._3)) === counts, s"facet $f")
      assert(gf.map(_._4) === (1 to gf.length))
    }
  }

  test("gradedNdcg: TREC gains match a driver-side recomputation; " +
      "grade<=0 ignored; zero-hit query scores 0") {
    val run = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 4),
      (2L, 20L, 1), (2L, 21L, 2),
      (3L, 30L, 1)).toDF("query_id", "doc_id", "rank")
    val qrels = Seq(
      (1L, 11L, 3), (1L, 13L, 1), (1L, 99L, 2), // 2 hits of 3 judged
      (2L, 20L, 0), (2L, 21L, 2),               // grade 0 ignored -> 1 hit
      (3L, 98L, 1)).toDF("query_id", "doc_id", "grade") // judged, no hits
    val got = Search.gradedNdcg(run, qrels, k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    def log2(x: Double) = math.log(x) / math.log(2.0)
    def gain(g: Int) = math.pow(2.0, g) - 1.0
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // q1: hits (rank 2, grade 3), (rank 4, grade 1); ideal grades 3,2,1
    val dcg1 = gain(3) / log2(3) + gain(1) / log2(5)
    val idcg1 = gain(3) / log2(2) + gain(2) / log2(3) + gain(1) / log2(4)
    assert(got(1L)._1 === 3L && got(1L)._2 === 2L)
    assert(got(1L)._3 === r4(dcg1) && got(1L)._4 === r4(idcg1))
    assert(math.abs(got(1L)._5 - dcg1 / idcg1) < 1e-4)
    // q2: grade-0 row ignored -> judged 1, one hit at rank 2 grade 2
    val dcg2 = gain(2) / log2(3)
    assert(got(2L) === ((1L, 1L, r4(dcg2), r4(gain(2) / log2(2)),
      r4(dcg2 / (gain(2) / log2(2))))))
    // q3: judged but never retrieved -> dcg 0, ndcg 0, idcg still defined
    assert(got(3L)._2 === 0L && got(3L)._3 === 0.0 && got(3L)._5 === 0.0)
    assert(got(3L)._4 === r4(gain(1) / log2(2)))
    assert(got.size === 3)
  }

  test("bm25TopKBatch plan: bounded partial+final top-k aggregate, no " +
      "per-query rank window") {
    val docs = sf("sf0.001", "documents")
    val queries = Seq((1L, "spark window merge"), (2L, "join stream"))
      .toDF("query_id", "query_text")
    val plan = Search.bm25TopKBatch(docs, "doc_id", "text", queries, k = 10)
      .queryExecution.executedPlan.toString
    // the k-heap TypedImperativeAggregate plans as ObjectHashAggregate
    // with partial + final modes (map-side combine bounds the shuffle)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_top_k") || plan.contains("top_k"), plan)
    // and the per-query full sort is gone: a window partitioned by
    // query_id would funnel a common term's whole matched set into one task
    assert(!plan.contains("Window"),
      s"per-query rank window back in the batch path:\n$plan")
  }

  test("top_k aggregate: ordering, ties, k larger than group, null skip, " +
      "cross-partition merge") {
    import graft.functions.TopKAgg.top_k
    val df = Seq(
      ("a", 3.0, 1L), ("a", 5.0, 2L), ("a", 5.0, 1L), ("a", 1.0, 9L),
      ("b", 2.0, 4L)).toDF("g", "score", "id")
      .repartition(8) // force partial buffers + final merge
    val got = df.groupBy("g")
      .agg(top_k(struct((-col("score")).as("ns"), col("id")), 3).as("t"))
      .select(col("g"), posexplode(col("t")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rank"),
        (-col("col.ns")).as("score"), col("col.id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // group a: (5.0, 1), (5.0, 2) [score desc, id asc], (3.0, 1); the
    // 1.0 row is cut. group b: k > size -> all rows, no padding
    assert(got.toSeq === Seq(
      ("a", 1L, 5.0, 1L), ("a", 2L, 5.0, 2L), ("a", 3L, 3.0, 1L),
      ("b", 1L, 2.0, 4L)))
    // null sort keys are skipped, null struct FIELDS order NULLS FIRST
    val nulls = Seq((1, Some("x")), (1, None), (1, Some("a")))
      .toDF("g", "v")
    val ranked = nulls.groupBy("g")
      .agg(top_k(struct(col("v")), 2).as("t"))
      .select(posexplode(col("t"))).select(col("col.v"))
      .collect().map(r => Option(r.getString(0)))
    assert(ranked.toSeq === Seq(None, Some("a")))
  }

  test("facets plan: one corpus scan for all facets, no rank window") {
    val docs = sf("sf0.001", "documents")
    val df = Search.facets(docs, "text", "join stream",
      Seq("source", "lang"), topN = 5)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length === 1,
      s"facets must read the corpus ONCE, saw ${scans.length} scans")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"unbounded facet-value rank window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("indexedBm25TopK handles terms containing '.' (node.js) — " +
      "bit-identical to the scan path") {
    val docs = Seq(
      (1L, "node.js is fast node.js wins"),
      (2L, "java and node.js and scala"),
      (3L, "plain text no match"),
      (4L, "node.js node.js node.js"),
      (5L, "scala spark")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25dot").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 4)
    for (q <- Seq("node.js scala", "node.js", "`back.tick` node.js")) {
      val scan = Search.bm25TopK(docs, "doc_id", "text", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val idx = Search.indexedBm25TopK(spark, dir, q, k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(idx === scan, s"query '$q'")
      assert(scan.nonEmpty, s"query '$q' should match")
    }
  }

  test("gradedNdcg collapses conflicting duplicate judgments to the max " +
      "grade") {
    val run = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val qrels = Seq(
      (1L, 10L, 0), (1L, 10L, 2), // conflicting: collapse to grade 2
      (1L, 11L, 1), (1L, 11L, 1)  // exact duplicate: one judgment
    ).toDF("query_id", "doc_id", "grade")
    val got = Search.gradedNdcg(run, qrels, k = 5).collect()
    assert(got.length === 1)
    val r = got.head
    def log2(x: Double) = math.log(x) / math.log(2.0)
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // judged = 2 docs (not 4 rows); dcg = gain(2)/log2(2) + gain(1)/log2(3)
    assert(r.getLong(1) === 2L && r.getLong(2) === 2L)
    val dcg = 3.0 / log2(2) + 1.0 / log2(3)
    val idcg = 3.0 / log2(2) + 1.0 / log2(3)
    assert(r.getDouble(3) === r4(dcg) && r.getDouble(4) === r4(idcg))
  }

  test("hybridTopKIndexed at full fidelity == scan-path hybridTopK; " +
      "production knobs return a valid fused ranking") {
    val docs = sf("sf0.001", "documents")
    val e = sf("sf0.001", "embeddings")
    val qv = e.filter(col("vec_id") === 11)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-hybridx").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", s"$root/bm25",
      buckets = 16)
    graft.ext.Similarity.buildIndex(e, "vec_id", "embedding", s"$root/ann",
      nlist = 8, kmeansIters = 2)
    val scan = Search.hybridTopK(docs, "doc_id", "text", e, "vec_id",
        "embedding", "filter merge table", qv, k = 12, kCand = 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(4))).toSeq
    // full fidelity: every cell probed, non-binding cut -> vector side ==
    // brute cosine, bm25 side == scan by construction -> fused identical
    val idx = Search.hybridTopKIndexed(spark, s"$root/bm25", s"$root/ann",
        "filter merge table", qv, k = 12, kCand = 40,
        nprobe = 8, rerankFactor = 1000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(4))).toSeq
    assert(idx === scan)
    // production knobs (partial probes): still a well-formed fused list
    val prod = Search.hybridTopKIndexed(spark, s"$root/bm25", s"$root/ann",
        "filter merge table", qv, k = 12, kCand = 40)
      .collect()
    assert(prod.length === 12)
    val rrfs = prod.map(_.getDouble(4)).toSeq
    assert(rrfs === rrfs.sorted.reverse)
    prod.foreach { r => assert(!r.isNullAt(2) || !r.isNullAt(3)) }
  }

  test("postings tombstones: delete -> query == fresh build on corpus \\ " +
      "ids; compaction removes rows physically and clears the set") {
    val docs = sf("sf0.001", "documents")
    val dropIds = Seq(3L, 38L, 97L, 104L, 312L)
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25del").toString
    val ref = java.nio.file.Files.createTempDirectory("graft-bm25ref").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 8)
    Search.deleteFromPostingsIndex(spark, dir,
      dropIds.toDF("doc_id"), "doc_id")
    // double-delete is idempotent (ids recorded once)
    Search.deleteFromPostingsIndex(spark, dir,
      Seq(3L, 38L).toDF("doc_id"), "doc_id")
    val remaining = docs.filter(!col("doc_id").isin(dropIds: _*))
    Search.buildPostingsIndex(remaining, "doc_id", "text", ref, buckets = 8)
    for (q <- Seq("spark window merge", "join stream")) {
      val del = Search.indexedBm25TopK(spark, dir, q, k = 20)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val fresh = Search.indexedBm25TopK(spark, ref, q, k = 20)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val scan = Search.bm25TopK(remaining, "doc_id", "text", q, k = 20)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(del === fresh, s"query '$q' vs fresh rebuild")
      assert(del === scan, s"query '$q' vs corpus-minus-ids scan")
      assert(!del.exists(r => dropIds.contains(r._1)))
    }
    // phrase queries honor tombstones through the same pruned read
    val delP = Search.indexedPhraseTopK(spark, dir, "merge spark", k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val scanP = Search.phraseTopK(remaining, "doc_id", "text", "merge spark",
        k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(delP === scanP)
    // compaction: physical removal, set cleared, queries unchanged
    val beforeCpt = Search.indexedBm25TopK(spark, dir, "spark window merge",
        k = 20).collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    Search.compactPostingsIndex(spark, dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes")))
    val ids = spark.read.parquet(s"$dir/postings").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(dropIds.forall(!ids.contains(_)), "tombstoned postings survived")
    val afterCpt = Search.indexedBm25TopK(spark, dir, "spark window merge",
        k = 20).collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(afterCpt === beforeCpt)
  }

  test("tombstone crash windows: compact interrupted before deletes " +
      "removal does not double-subtract; interrupted set swap heals") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25crash").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 8)
    Search.deleteFromPostingsIndex(spark, dir,
      Seq(3L, 38L, 97L).toDF("doc_id"), "doc_id")
    val want = Search.indexedBm25TopK(spark, dir, "spark window merge", k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // snapshot the pending tombstone set, compact, then RESTORE the set —
    // exactly the state a crash between the stats fold and the deletes
    // removal leaves behind. The epoch rule must make readStats subtract
    // zero (base is already net), so queries stay identical.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val snap = new org.apache.hadoop.fs.Path(s"$dir/deletes-snap")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$dir/deletes"), fs, snap, false,
      spark.sparkContext.hadoopConfiguration)
    Search.compactPostingsIndex(spark, dir)
    org.apache.hadoop.fs.FileUtil.copy(fs, snap, fs,
      new org.apache.hadoop.fs.Path(s"$dir/deletes"), false,
      spark.sparkContext.hadoopConfiguration)
    val crashed = Search.indexedBm25TopK(spark, dir, "spark window merge",
        k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(crashed === want,
      "crash-leftover tombstones double-subtracted the folded mass")
    // a FURTHER delete on the crash-leftover state subtracts only the
    // new ids' mass (same-epoch totals extend the folded baseline)
    Search.deleteFromPostingsIndex(spark, dir,
      Seq(104L).toDF("doc_id"), "doc_id")
    val more = Search.indexedBm25TopK(spark, dir, "spark window merge", k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val oracle = Search.bm25TopK(
        docs.filter(!col("doc_id").isin(3L, 38L, 97L, 104L)),
        "doc_id", "text", "spark window merge", k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(more === oracle)
    // interrupted SET swap: deletes renamed aside but staging never moved
    // in — the next maintenance call restores it instead of losing ids
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/deletes"),
      new org.apache.hadoop.fs.Path(s"$dir/deletes-old")))
    Search.deleteFromPostingsIndex(spark, dir,
      Seq(104L).toDF("doc_id"), "doc_id") // already deleted: heal + no-op
    val healed = Search.indexedBm25TopK(spark, dir, "spark window merge",
        k = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(healed === oracle, "interrupted swap lost accumulated tombstones")
  }

  test("indexedBm25TopK minShouldMatch == scan-path bit-identity") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25msm").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 8)
    for (msm <- Seq(1, 2, 3)) {
      val scan = Search.bm25TopK(docs, "doc_id", "text", "spark window merge",
          k = 25, minShouldMatch = msm)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val idx = Search.indexedBm25TopK(spark, dir, "spark window merge",
          k = 25, minShouldMatch = msm)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(idx === scan, s"minShouldMatch=$msm")
    }
  }

  test("boolTopK semantics on a hand corpus; indexedBoolTopK bit-identical " +
      "across clause combinations") {
    val docs = Seq(
      (1L, "spark window merge fast"), // all clauses
      (2L, "spark join window"),       // mustNot 'join' -> excluded
      (3L, "spark alone here"),        // must only, no should terms
      (4L, "window merge no-required"),// missing must 'spark'
      (5L, "nothing relevant")).toDF("doc_id", "text")
    val got = Search.boolTopK(docs, "doc_id", "text",
        must = "spark", should = "window merge", mustNot = "join", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // docs 1 and 3 qualify (3 via must alone — should is a boost, the ES
    // rule); 1 outranks 3 (should contributions)
    assert(got.map(_._1).toSeq === Seq(1L, 3L))
    assert(got(0)._3 > got(1)._3)
    // should-only: >=1 should term required
    val so = Search.boolTopK(docs, "doc_id", "text",
        must = "", should = "merge window", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(so === Set(1L, 2L, 4L))
    // should + mustNot, no must
    val sn = Search.boolTopK(docs, "doc_id", "text",
        must = "", should = "merge window", mustNot = "join", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(sn === Set(1L, 4L))
    // index path: bit-identical across combos, on the real corpus
    val corpus = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-boolidx").toString
    Search.buildPostingsIndex(corpus, "doc_id", "text", dir, buckets = 16)
    val combos = Seq(
      ("spark", "window merge", "join"),
      ("", "window merge", "join"),
      ("spark stream", "", ""),
      ("spark", "", "join"))
    for ((m, s, n) <- combos) {
      val scan = Search.boolTopK(corpus, "doc_id", "text", m, s, n, k = 20)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val idx = Search.indexedBoolTopK(spark, dir, m, s, n, k = 20)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(idx === scan, s"bool($m | $s | -$n)")
    }
    // the scan plan stays map-only (the bm25TopK shape)
    val plan = Search.boolTopK(corpus, "doc_id", "text",
        "spark", "window", "join", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject") &&
      !"Exchange (hashpartitioning|rangepartitioning)".r
        .findFirstIn(plan).isDefined, plan)
  }

  test("histogramFacet: ES bucketing law against a driver-side " +
      "recomputation; nulls skipped; no window") {
    val docs = sf("sf0.001", "documents")
    val got = Search.histogramFacet(docs, "text", "join stream",
        "n_chars", interval = 50.0)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    def tok(s: String) =
      if (s == null) Seq.empty
      else s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val expected = docs.select("text", "n_chars").collect()
      .filter { r =>
        val ws = tok(r.getString(0))
        (ws.contains("join") || ws.contains("stream")) && !r.isNullAt(1)
      }
      .groupBy(r => math.floor(r.getLong(1).toDouble / 50.0) * 50.0)
      .map { case (b, rs) => b -> rs.length.toLong }
    assert(got === expected)
    assert(got.size > 1, "expected multiple buckets")
    assert(got.values.sum === expected.values.sum)
    val plan = Search.histogramFacet(docs, "text", "join", "n_chars", 50.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("multiFieldTopK: per-field stats, boost weighting, best_fields " +
      "max, null fields — against a driver-side recomputation") {
    val docs = Seq(
      (1L, "spark fast engine", "docs en"),
      (2L, "slow thing", "spark de"),
      (3L, "spark spark spark", null.asInstanceOf[String]),
      (4L, "nothing here", "also nothing"),
      (5L, null.asInstanceOf[String], "spark en")).toDF("doc_id", "a", "b")
    def tok(s: String) =
      if (s == null) Seq.empty[String]
      else s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val rows = docs.collect().map(r =>
      (r.getLong(0), tok(r.getString(1)), tok(r.getString(2))))
    val terms = Seq("en", "spark") // sorted
    val n = rows.length
    def stats(sel: ((Long, Seq[String], Seq[String])) => Seq[String]) = {
      val avgdl = rows.map(sel(_).size).sum.toDouble / n
      val dfm = terms.map(t => t -> rows.count(sel(_).contains(t)).toDouble).toMap
      (avgdl, dfm)
    }
    def bm25(w: Seq[String], avgdl: Double, dfm: Map[String, Double]) =
      terms.map { t =>
        val tf = w.count(_ == t).toDouble
        val idf = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
        idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * w.size / avgdl))
      }.reduce(_ + _)
    val (avg1, df1) = stats(_._2)
    val (avg2, df2) = stats(_._3)
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val expectedMost = rows.collect {
      case (id, w1, w2) if terms.exists(t => w1.contains(t) || w2.contains(t)) =>
        id -> r4(1.0 * bm25(w1, avg1, df1) + 0.5 * bm25(w2, avg2, df2))
    }.sortBy { case (id, s) => (-s, id) }
    val gotMost = Search.multiFieldTopK(docs, "doc_id",
        Seq(("a", 1.0), ("b", 0.5)), "spark en", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(gotMost.map(_._1).toSeq === expectedMost.map(_._1))
    gotMost.zip(expectedMost).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-9) }
    // doc 5 (null field a) qualifies via field b; doc 3 (null b) via a
    assert(gotMost.map(_._1).toSet.intersect(Set(3L, 5L)) === Set(3L, 5L))
    // best_fields: max instead of sum
    val expectedBest = rows.collect {
      case (id, w1, w2) if terms.exists(t => w1.contains(t) || w2.contains(t)) =>
        id -> r4(math.max(1.0 * bm25(w1, avg1, df1), 0.5 * bm25(w2, avg2, df2)))
    }.sortBy { case (id, s) => (-s, id) }
    val gotBest = Search.multiFieldTopK(docs, "doc_id",
        Seq(("a", 1.0), ("b", 0.5)), "spark en", k = 10,
        mode = "best_fields")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(gotBest.map(_._1).toSeq === expectedBest.map(_._1))
    gotBest.zip(expectedBest).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-9) }
    // map-only plan (the bm25TopK shape)
    val plan = Search.multiFieldTopK(sf("sf0.001", "documents")
        .withColumn("meta", concat_ws(" ", col("source"), col("lang"))),
        "doc_id", Seq(("text", 1.0), ("meta", 0.5)), "spark en", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject") &&
      !"Exchange (hashpartitioning|rangepartitioning)".r
        .findFirstIn(plan).isDefined, plan)
  }

  test("bm25TopK minShouldMatch gates matching, not scoring") {
    val docs = sf("sf0.001", "documents")
    val q = "spark window merge"
    val all = Search.bm25TopK(docs, "doc_id", "text", q, k = 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val msm2 = Search.bm25TopK(docs, "doc_id", "text", q, k = 500,
        minShouldMatch = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // strict subset, scores unchanged for survivors
    assert(msm2.keySet.subsetOf(all.keySet) && msm2.size < all.size)
    msm2.foreach { case (id, s) => assert(s === all(id), s"doc $id") }
    // every survivor really has >= 2 distinct terms
    val w = Search.tokens(col("text"))
    val twoPlus = docs.filter(
        (when(array_contains(w, "spark"), 1).otherwise(0) +
         when(array_contains(w, "window"), 1).otherwise(0) +
         when(array_contains(w, "merge"), 1).otherwise(0)) >= 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(msm2.keySet === twoPlus)
  }

  test("hybridTopKBatch: per query == single-query hybridTopK; bounded " +
      "heap plan (no rank window)") {
    val docs = sf("sf0.001", "documents")
    val e = sf("sf0.001", "embeddings")
    def vecOf(id: Long): Seq[Double] = e.filter(col("vec_id") === id)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq
    val queries = Seq((1, "spark join stream"), (2, "filter merge table"))
      .toDF("query_id", "query_text")
    val qvecs = Seq((1, vecOf(7)), (2, vecOf(11))).toDF("query_id", "vec")
    val batch = Search.hybridTopKBatch(docs, "doc_id", "text",
        e, "vec_id", "embedding", queries, qvecs, k = 12, kCand = 30)
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        ((r.getInt(2), r.getDouble(5)))).toMap
    for ((qid, qtext, qv) <- Seq((1, "spark join stream", vecOf(7)),
        (2, "filter merge table", vecOf(11)))) {
      val single = Search.hybridTopK(docs, "doc_id", "text", e, "vec_id",
          "embedding", qtext, qv, k = 12, kCand = 30)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(4)))
      val b = batch.collect { case ((q, d), v) if q == qid => (d, v) }.toMap
      assert(b.keySet === single.map(_._1).toSet, s"query $qid fused set")
      single.foreach { case (d, rk, rrf) =>
        assert(b(d)._1 === rk, s"query $qid doc $d rank")
        assert(b(d)._2 === rrf, s"query $qid doc $d rrf") }
    }
    // plan: bounded heap aggregates, zero per-query rank windows
    val plan = Search.hybridTopKBatch(docs, "doc_id", "text", e, "vec_id",
        "embedding", queries, qvecs, k = 5, kCand = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"rank window in the batch hybrid:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("fuzzyTopK / prefixTopK: relaxed token matching semantics against " +
      "a driver-side recomputation") {
    val docs = Seq(
      (1L, "spark engine"),          // exact
      (2L, "spork and fork"),        // distance 1 from spark
      (3L, "spars parks sprak"),     // spars d1; sprak d2 (transposition)
      (4L, "window windows winning"),// prefix 'win' x3
      (5L, "nothing")).toDF("doc_id", "text")
    val fz = Search.fuzzyTopK(docs, "doc_id", "text", "spark", k = 10,
        fuzziness = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // spark (0), spork (1), spars (1) match; sprak is distance 2
    assert(fz.keySet === Set(1L, 2L, 3L))
    // doc 3 has ONE matching token (spars) — sprak must not count
    def tok(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rows = docs.collect().map(r => r.getLong(0) -> tok(r.getString(1)))
    val n = rows.length
    val avgdl = rows.map(_._2.size).sum.toDouble / n
    val dfv = rows.count(_._2.exists(x => lev(x, "spark") <= 1)).toDouble
    def score(w: Seq[String]): Double = {
      val tf = w.count(x => lev(x, "spark") <= 1).toDouble
      val idf = math.log(1.0 + (n - dfv + 0.5) / (dfv + 0.5))
      math.rint(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * w.size / avgdl))
        * 1e4) / 1e4
    }
    rows.filter(_._2.exists(x => lev(x, "spark") <= 1)).foreach {
      case (id, w) => assert(fz(id) === score(w), s"doc $id") }
    // prefix: 'win' matches all three win* tokens of doc 4
    val pf = Search.prefixTopK(docs, "doc_id", "text", "win", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(pf === Set(4L))
    // relaxed tf really counts ALL matching tokens (3 for doc 4):
    // compare against a 1-token sibling of identical length
    val sib = Seq((1L, "window alpha beta"), (2L, "window windows winning"))
      .toDF("doc_id", "text")
    val ps = Search.prefixTopK(sib, "doc_id", "text", "win", k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ps(2L) > ps(1L), "three prefix hits must outscore one")
  }

  test("phrase slop: per-term position-window semantics; slop 0 == exact " +
      "adjacency; scan == index bit-identity at every slop") {
    val docs = Seq(
      (1L, "alpha beta pad"),        // exact adjacency
      (2L, "beta alpha pad"),        // transposition — matches at slop 1
      (3L, "alpha gap beta"),        // one gap — matches at slop 1, ptf 2
                                     // (bases 0 AND 1 both satisfy the
                                     // per-term window)
      (4L, "alpha g1 g2 g3 beta"),   // spread 4 — not at slop 1
      (5L, "alpha pad pad")).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    assert(ids(Search.phraseTopK(docs, "doc_id", "text", "alpha beta",
      k = 10)) === Set(1L))
    val s1 = Search.phraseTopK(docs, "doc_id", "text", "alpha beta",
      k = 10, slop = 1)
    assert(ids(s1) === Set(1L, 2L, 3L))
    // docs 2 and 3 share dl=3; doc 3's TWO qualifying bases (higher ptf)
    // must outscore doc 2's one
    val sc = s1.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sc(3L) > sc(2L), "ptf 2 must outscore ptf 1 at equal dl")
    // slop 2 admits the wide spread too
    assert(ids(Search.phraseTopK(docs, "doc_id", "text", "alpha beta",
      k = 10, slop = 2)) === Set(1L, 2L, 3L, 4L))
    // default == explicit slop 0, bit for bit
    val d0 = Search.phraseTopK(docs, "doc_id", "text", "alpha beta", k = 10)
      .collect().toSeq
    val e0 = Search.phraseTopK(docs, "doc_id", "text", "alpha beta", k = 10,
      slop = 0).collect().toSeq
    assert(d0 === e0)
    // scan == index across slops on the real corpus (incl. a slop that
    // changes the matched set) — EXACT double equality
    val corpus = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-slopidx").toString
    Search.buildPostingsIndex(corpus, "doc_id", "text", dir, buckets = 8)
    for (slop <- 0 to 2; phrase <- Seq("spark merge", "merge spark window")) {
      val scan = Search.phraseTopK(corpus, "doc_id", "text", phrase, k = 20,
          slop = slop)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val idx = Search.indexedPhraseTopK(spark, dir, phrase, k = 20,
          slop = slop)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(idx === scan, s"phrase '$phrase' slop $slop")
    }
  }

  test("indexed fuzzy/prefix == scan path across the full index lifecycle " +
      "(build, append, tombstone delete, compact)") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-dictidx").toString
    Search.buildPostingsIndex(docs.filter(col("doc_id") < 300),
      "doc_id", "text", dir, buckets = 8)
    Search.appendToPostingsIndex(docs.filter(col("doc_id") >= 300),
      "doc_id", "text", dir)
    def seqOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // EXACT double equality after an append: the dictionary accumulated
    // both slices' terms and the relaxed tf/df recompute from postings
    assert(seqOf(Search.indexedFuzzyTopK(spark, dir, "spork windoe", k = 25,
        fuzziness = 1)) ===
      seqOf(Search.fuzzyTopK(docs, "doc_id", "text", "spork windoe", k = 25,
        fuzziness = 1)), "fuzzy scan == index")
    assert(seqOf(Search.indexedPrefixTopK(spark, dir, "spa win", k = 25)) ===
      seqOf(Search.prefixTopK(docs, "doc_id", "text", "spa win", k = 25)),
      "prefix scan == index")
    // tombstone a few of the fuzzy winners: the index must now equal the
    // scan over corpus \ deleted — relaxed df/tf/N/avgdl all adjust
    val victims = Search.indexedFuzzyTopK(spark, dir, "spork windoe", k = 3,
      fuzziness = 1).select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    Search.deleteFromPostingsIndex(spark, dir,
      victims.toDF("doc_id"))
    val remaining = docs.filter(!col("doc_id").isin(victims: _*))
    assert(seqOf(Search.indexedFuzzyTopK(spark, dir, "spork windoe", k = 25,
        fuzziness = 1)) ===
      seqOf(Search.fuzzyTopK(remaining, "doc_id", "text", "spork windoe",
        k = 25, fuzziness = 1)), "fuzzy after tombstones")
    // compact physically drops the tombstones and rebuilds the dictionary
    // EXACTLY (duplicates + dead terms retired); queries unchanged
    Search.compactPostingsIndex(spark, dir)
    assert(seqOf(Search.indexedFuzzyTopK(spark, dir, "spork windoe", k = 25,
        fuzziness = 1)) ===
      seqOf(Search.fuzzyTopK(remaining, "doc_id", "text", "spork windoe",
        k = 25, fuzziness = 1)), "fuzzy after compact")
    val dict = spark.read.parquet(s"$dir/terms")
    // post-compact dictionary is exact: one row per live term, df == the
    // term's live posting count
    val fromPostings = spark.read.parquet(s"$dir/postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
    assert(dict.exceptAll(fromPostings).count() === 0 &&
      fromPostings.exceptAll(dict).count() === 0)
  }

  test("indexed fuzzy refuses a pre-dictionary index; search-compact " +
      "creates the dictionary") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-nodict").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/terms"), true)
    val e = intercept[IllegalArgumentException] {
      Search.indexedFuzzyTopK(spark, dir, "spork", k = 5)
    }
    assert(e.getMessage.contains("term dictionary"))
    // the append path must NOT create a partial dictionary (it would
    // silently under-expand); only compact/rebuild may
    Search.appendToPostingsIndex(
      Seq((100000L, "sporkle")).toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/terms")),
      "append created a partial dictionary")
    Search.compactPostingsIndex(spark, dir)
    val scan = Search.fuzzyTopK(
        docs.select("doc_id", "text")
          .unionByName(Seq((100000L, "sporkle")).toDF("doc_id", "text")),
        "doc_id", "text", "spork windoe", k = 25, fuzziness = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val idx = Search.indexedFuzzyTopK(spark, dir, "spork windoe", k = 25,
        fuzziness = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(idx === scan, "compact-created dictionary must restore equality")
  }

  test("maxExpansions caps the expansion deterministically by " +
      "(df desc, term asc); a non-binding cap changes nothing") {
    val docs = Seq(
      (1L, "winalpha"),
      (2L, "winalpha winbeta"),
      (3L, "wingamma")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-maxexp").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 4)
    // vocabulary dfs: winalpha 2, winbeta 1, wingamma 1 — a cap of 2
    // keeps winalpha (df) then winbeta (term asc tie-break): doc 3 out
    val capped = Search.indexedPrefixTopK(spark, dir, "win", k = 10,
      maxExpansions = 2).collect().map(_.getLong(0)).toSet
    assert(capped === Set(1L, 2L))
    // a non-binding cap (>= |matches|) is the exact scan result
    val loose = Search.indexedPrefixTopK(spark, dir, "win", k = 10,
        maxExpansions = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val scan = Search.prefixTopK(docs, "doc_id", "text", "win", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(loose === scan)
    // no vocabulary match at all -> typed empty result, no crash
    assert(Search.indexedFuzzyTopK(spark, dir, "zzzzzzzzz", k = 5,
      fuzziness = 1).count() === 0)
  }

  test("maxExpansions DEFAULTS to the ES serving cap of 50 and keeps the " +
      "(df desc, term asc) determinism when it binds; 0 opts back into " +
      "unlimited scan equality") {
    // 60 prefix-sharing terms with distinct dfs: term padXX appears in
    // 60-XX docs, so by (df desc, term asc) the default cap keeps
    // pad00..pad49 and drops pad50..pad59
    val docs = (0 until 60).flatMap { t =>
      val term = f"pad$t%02d"
      (0 until (60 - t)).map(d => (t * 100L + d, term))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-defcap").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 4)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val byDefault = Search.indexedPrefixTopK(spark, dir, "pad", k = 4000)
    val explicit50 = Search.indexedPrefixTopK(spark, dir, "pad", k = 4000,
      maxExpansions = 50)
    assert(ids(byDefault) === ids(explicit50),
      "default must equal an explicit cap of 50")
    // binding: docs whose only term ranks past 50 by (df desc, term asc)
    // are unfindable under the cap...
    assert(!ids(byDefault).exists(_ >= 5000L),
      "pad50+ docs must be dropped by the default cap")
    assert(ids(byDefault).exists(_ >= 4900L), "pad49 docs must survive")
    // ...and the explicit 0 opt-in restores full scan equality
    val unlimited = Search.indexedPrefixTopK(spark, dir, "pad", k = 4000,
        maxExpansions = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val scan = Search.prefixTopK(docs, "doc_id", "text", "pad", k = 4000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(unlimited === scan)
  }

  test("positional = false: BM25-only index is bit-identical for term and " +
      "relaxed queries, refuses phrases loudly, and every maintenance op " +
      "conforms to the flavor") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-nopos").toString
    Search.buildPostingsIndex(docs.filter(col("doc_id") < 250),
      "doc_id", "text", dir, buckets = 8, positional = false)
    assert(Search.indexFlavor(spark, dir) === Some(false))
    // append + streaming commit CONFORM (no positions column appears)
    Search.appendToPostingsIndex(
      docs.filter(col("doc_id") >= 250 && col("doc_id") < 400),
      "doc_id", "text", dir)
    graft.streaming.PostingsIndexStream.commitBatch(
      docs.filter(col("doc_id") >= 400), 1L, dir, "doc_id", "text")
    assert(!spark.read.parquet(s"$dir/postings")
      .schema.fieldNames.contains("positions"),
      "maintenance must conform to the BM25-only flavor")
    def seqOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(seqOf(Search.indexedBm25TopK(spark, dir, "spark window merge",
        k = 20)) ===
      seqOf(Search.bm25TopK(docs, "doc_id", "text", "spark window merge",
        k = 20)), "BM25 unaffected by the missing positions")
    assert(seqOf(Search.indexedFuzzyTopK(spark, dir, "spork windoe", k = 20,
        fuzziness = 1)) ===
      seqOf(Search.fuzzyTopK(docs, "doc_id", "text", "spork windoe", k = 20,
        fuzziness = 1)), "fuzzy via the dictionary unaffected")
    val e = intercept[IllegalArgumentException] {
      Search.indexedPhraseTopK(spark, dir, "merge spark", k = 5).collect()
    }
    assert(e.getMessage.contains("positions"))
    // phrase-prefix must refuse loudly EVEN when the prefix expansion is
    // empty (regression: the typed-empty early return used to run before
    // the positional-schema check, silently returning nothing from an
    // index that could never serve the query)
    val e2 = intercept[IllegalArgumentException] {
      Search.indexedPhrasePrefixTopK(spark, dir,
        "merge zzzznosuchprefix", k = 5).collect()
    }
    assert(e2.getMessage.contains("positions"))
    // compaction preserves the flavor and the results
    Search.compactPostingsIndex(spark, dir)
    assert(Search.indexFlavor(spark, dir) === Some(false))
    assert(seqOf(Search.indexedBm25TopK(spark, dir, "spark window merge",
        k = 20)) ===
      seqOf(Search.bm25TopK(docs, "doc_id", "text", "spark window merge",
        k = 20)))
    // a positional index still maintains positional appends (flavor sniff,
    // not a hardcoded default)
    val pdir = java.nio.file.Files.createTempDirectory("graft-pos").toString
    Search.buildPostingsIndex(docs.filter(col("doc_id") < 250),
      "doc_id", "text", pdir, buckets = 8)
    Search.appendToPostingsIndex(docs.filter(col("doc_id") >= 250),
      "doc_id", "text", pdir)
    assert(Search.indexFlavor(spark, pdir) === Some(true))
    assert(seqOf(Search.indexedPhraseTopK(spark, pdir, "merge spark",
        k = 20)) ===
      seqOf(Search.phraseTopK(docs, "doc_id", "text", "merge spark",
        k = 20)))
  }

  test("indexedTopTerms: exact df through build+append; tombstones counted " +
      "until compact (the ES terms-agg merge law)") {
    val docs = sf("sf0.001", "documents")
    def refTop(d: org.apache.spark.sql.DataFrame, n: Int): Seq[(String, Long)] =
      d.select(col("doc_id"), explode(Search.tokens(col("text"))).as("term"))
        .distinct().groupBy("term").count()
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy { case (t, df) => (-df, t) }.take(n).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-topterms").toString
    Search.buildPostingsIndex(docs.filter(col("doc_id") < 250),
      "doc_id", "text", dir, buckets = 8)
    Search.appendToPostingsIndex(docs.filter(col("doc_id") >= 250),
      "doc_id", "text", dir)
    def got(): Seq[(String, Long)] =
      Search.indexedTopTerms(spark, dir, n = 12)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got() === refTop(docs, 12),
      "append-accumulated dictionary df must stay exact for disjoint ids")
    // tombstones: counts still include deleted docs (documented ES
    // behavior) ...
    val victims = docs.filter(col("doc_id") < 50).select("doc_id")
    Search.deleteFromPostingsIndex(spark, dir, victims)
    assert(got() === refTop(docs, 12),
      "pending tombstones are still counted (the ES merge law)")
    // ... until compact physically drops them and rebuilds the dictionary
    Search.compactPostingsIndex(spark, dir)
    assert(got() === refTop(docs.filter(col("doc_id") >= 50), 12),
      "compact must restore exact post-delete dfs")
  }

  test("indexedMultiFieldTopK == scan multiFieldTopK for both modes; dead " +
      "fields skipped; corpus-mismatch refused") {
    val docs = sf("sf0.001", "documents")
      .withColumn("meta", concat_ws(" ", col("source"), col("lang")))
      .withColumn("dead", lit(null).cast("string"))
    val root = java.nio.file.Files.createTempDirectory("graft-mfidx").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", s"$root/text",
      buckets = 8)
    Search.buildPostingsIndex(docs, "doc_id", "meta", s"$root/meta",
      buckets = 8)
    Search.buildPostingsIndex(docs, "doc_id", "dead", s"$root/dead",
      buckets = 8)
    def seqOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    for (mode <- Seq("most_fields", "best_fields")) {
      val scan = seqOf(Search.multiFieldTopK(docs, "doc_id",
        Seq(("text", 1.0), ("meta", 0.5)), "spark en src3", k = 25,
        mode = mode))
      val idx = seqOf(Search.indexedMultiFieldTopK(spark,
        Seq((s"$root/text", 1.0), (s"$root/meta", 0.5)), "spark en src3",
        k = 25, mode = mode))
      assert(idx === scan, s"mode $mode")
      // an all-null DEAD field contributes exactly +0.0 on both paths
      val scanDead = seqOf(Search.multiFieldTopK(docs, "doc_id",
        Seq(("text", 1.0), ("dead", 4.0), ("meta", 0.5)), "spark en src3",
        k = 25, mode = mode))
      val idxDead = seqOf(Search.indexedMultiFieldTopK(spark,
        Seq((s"$root/text", 1.0), (s"$root/dead", 4.0), (s"$root/meta", 0.5)),
        "spark en src3", k = 25, mode = mode))
      assert(idxDead === scanDead, s"dead field, mode $mode")
      assert(idxDead === scan, s"dead field must be a no-op, mode $mode")
    }
    // indexes over DIFFERENT corpora are refused loudly
    val other = java.nio.file.Files.createTempDirectory("graft-mfother").toString
    Search.buildPostingsIndex(docs.limit(100), "doc_id", "text", other,
      buckets = 8)
    val e = intercept[IllegalArgumentException] {
      Search.indexedMultiFieldTopK(spark,
        Seq((s"$root/text", 1.0), (other, 0.5)), "spark", k = 5)
    }
    assert(e.getMessage.contains("corpus size"))
  }

  test("indexedBm25TopKBatch: per query == per-query indexed path == scan " +
      "batch, one pruned scan, no rank window") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-batchidx").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 16)
    val queries = Seq((1L, "spark window merge"), (2L, "join stream"),
      (3L, "filter hash scan")).toDF("query_id", "query_text")
    val batch = Search.indexedBm25TopKBatch(spark, dir, queries, k = 15)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getDouble(3))))
      .toMap
    for ((qid, qtext) <- Seq((1L, "spark window merge"), (2L, "join stream"),
        (3L, "filter hash scan"))) {
      val single = Search.indexedBm25TopK(spark, dir, qtext, k = 15)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val b = got.collect { case ((q, d), v) if q == qid => (d, v) }.toMap
      assert(b.keySet === single.map(_._1).toSet, s"query $qid candidates")
      single.foreach { case (d, rk, sc) =>
        assert(b(d) === ((rk, sc)), s"query $qid doc $d") }
    }
    // ... and bit-identical to the corpus-scan batch (transitivity check)
    val scanBatch = Search.bm25TopKBatch(docs, "doc_id", "text", queries,
        k = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getDouble(3))).toSet
    assert(batch.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getInt(2), r.getDouble(3))).toSet === scanBatch)
    // plan laws: the whole batch reads the postings ONCE in the scoring
    // plan, per-query cuts are the bounded heap (no Window anywhere)
    val plan = batch.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"rank window in batch plan:\n$plan")
    val scans = batch.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 1,
      s"expected ONE postings scan for the whole batch, got ${scans.size}")
  }

  test("hybridTopKIndexedBatch: per query == single-query hybridTopKIndexed; " +
      "no rank window; batch ids may be negative (the collision contract)") {
    val docs = sf("sf0.001", "documents")
    val emb = sf("sf0.001", "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-hybatch").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", s"$root/bm25",
      buckets = 16)
    graft.ext.Similarity.buildIndex(emb, "vec_id", "embedding",
      s"$root/ann", nlist = 8, kmeansIters = 2)
    def vecOf(id: Long): Seq[Double] = emb.filter(col("vec_id") === id)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq
    val queries = Seq((-1L, "spark join stream"), (-2L, "filter merge table"))
      .toDF("query_id", "query_text")
    val qvecs = Seq((-1L, vecOf(7)), (-2L, vecOf(11))).toDF("query_id", "vec")
    val batch = Search.hybridTopKIndexedBatch(spark, s"$root/bm25",
      s"$root/ann", queries, qvecs, k = 12, kCand = 30, nprobe = 8,
      rerankFactor = 64)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), Option(r.get(3)), Option(r.get(4)), r.getDouble(5))))
      .toMap
    for ((qid, qtext, vid) <- Seq((-1L, "spark join stream", 7L),
        (-2L, "filter merge table", 11L))) {
      val single = Search.hybridTopKIndexed(spark, s"$root/bm25",
          s"$root/ann", qtext, vecOf(vid), k = 12, kCand = 30, nprobe = 8,
          rerankFactor = 64, syntheticQid = qid)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), Option(r.get(2)), Option(r.get(3)), r.getDouble(4))))
        .toMap
      val b = got.collect { case ((q, d), v) if q == qid => (d, v) }.toMap
      assert(b === single, s"query $qid batch != single")
    }
    // the FUSION cut is the bounded top_k heap (the ANN index path keeps
    // its own documented per-qid BOUNDED windows internally — those are
    // two-level-cut rank-over-<=k, not a fusion-side rank window)
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("top_k"),
      s"fusion must cut via the bounded heap:\n$plan")
    assert(!plan.contains("windowspecdefinition(rrf_score") &&
      !plan.contains("windowspecdefinition(query_id#"),
      s"fusion-side rank window in indexed batch:\n$plan")
  }

  test("nested bool: clause algebra on a hand corpus; scan == index; " +
      "purely negative trees refused") {
    import Search.BoolNode._
    val docs = Seq(
      (1L, "spark merge pad"),   // must + should-term -> boosted
      (2L, "spark pad pad"),     // must only
      (3L, "spark join pad"),    // nested bool HALF-matched: join w/o
                                 // stream must contribute NOTHING
      (4L, "spark join stream"), // nested bool fully matched
      (5L, "merge join stream"), // missing must -> excluded
      (6L, "spark merge bad")).toDF("doc_id", "text")
    val tree = Bool(
      must = Seq(Term("spark")),
      should = Seq(Term("merge", boost = 2.0),
        Bool(must = Seq(Term("join"), Term("stream")), boost = 0.5)),
      mustNot = Seq(Term("bad")))
    val got = Search.boolQueryTopK(docs, "doc_id", "text", tree, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L), "match set")
    // docs 2 and 3 share dl=3 and only the must term scores for both (the
    // half-matched nested bool is guarded to +0.0): equal scores
    assert(got(2L) === got(3L),
      "half-matched nested should-bool must contribute exactly 0")
    assert(got(4L) > got(2L), "fully-matched nested bool must add score")
    assert(got(1L) > got(2L), "boosted should term must add score")
    // scan == index on the real corpus — EXACT double equality
    val corpus = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-nbool").toString
    Search.buildPostingsIndex(corpus, "doc_id", "text", dir, buckets = 8)
    for (t <- Seq(
        tree,
        Bool(should = Seq(Term("spark window"),
          Bool(must = Seq(Term("merge")), mustNot = Seq(Term("join"))))),
        Bool(must = Seq(Term("stream"),
          Bool(should = Seq(Term("filter"), Term("hash")), boost = 4.0))))) {
      val scan = Search.boolQueryTopK(corpus, "doc_id", "text", t, k = 25)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val idx = Search.indexedBoolQueryTopK(spark, dir, t, k = 25)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(idx === scan, s"tree $t")
    }
    // purely negative trees are unbounded -> loud refusal, both paths
    intercept[IllegalArgumentException] {
      Search.boolQueryTopK(docs, "doc_id", "text",
        Bool(mustNot = Seq(Term("bad"))), k = 5)
    }
    intercept[IllegalArgumentException] {
      Search.indexedBoolQueryTopK(spark, dir,
        Bool(must = Seq(Bool(mustNot = Seq(Term("bad"))))), k = 5)
    }
  }

  test("facets missing bucket: nulls group under the label; without the " +
      "knob they stay the null-first bucket") {
    val docs = Seq(
      (1L, "join x", "en"), (2L, "join y", null), (3L, "join z", null),
      (4L, "stream w", "fr"), (5L, "nomatch", null))
      .toDF("doc_id", "text", "lang")
    val withMissing = Search.facets(docs, "text", "join stream",
        Seq("lang"), topN = 10, missing = Some("(missing)"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // doc 5 does not match the query -> its null is NOT counted
    assert(withMissing === Map("(missing)" -> 2L, "en" -> 1L, "fr" -> 1L))
    val without = Search.facets(docs, "text", "join stream",
        Seq("lang"), topN = 10)
      .collect().map(r => (Option(r.getString(1)), r.getLong(2), r.getInt(3)))
    // null bucket exists and wins the count-2 top spot (nulls first law)
    assert(without.head === ((None, 2L, 1)))
  }

  test("tokenization law: shared with Decontaminate, empty/null safe") {
    val docs = Seq((1L, "  A  b\tc "), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"), Search.tokens(col("text")).as("w"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(toks(1L) === Some(Seq("a", "b", "c")))
    assert(toks(2L) === Some(Seq.empty))
    assert(toks(3L) === None)
    assert(Search.queryTerms("Window  spark window") === Seq("spark", "window"))
  }

  test("wildcardRegex translation: * and ? map, regex metas escape, " +
      "whole-token semantics") {
    assert(Search.wildcardRegex("s*m") === "s.*m")
    assert(Search.wildcardRegex("w?ndow") === "w.ndow")
    assert(Search.wildcardRegex("a.b+c(d)[e]{f}|g^h$i\\j") ===
      "a\\.b\\+c\\(d\\)\\[e\\]\\{f\\}\\|g\\^h\\$i\\\\j")
    // whole-token match: 'par*' must NOT match a token merely containing
    // "par" mid-token, and 'p?rt' matches exactly one substituted char
    val docs = Seq(
      (1L, "part partition spartan"), (2L, "port depart"), (3L, "pt"))
      .toDF("doc_id", "text")
    val ids = Search.wildcardTopK(docs, "doc_id", "text", "par*", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L)) // part, partition — not spartan/depart (anchor)
    val q = Search.wildcardTopK(docs, "doc_id", "text", "p?rt", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(q === Set(1L, 2L)) // part, port — not pt (? is exactly one char)
  }

  test("indexedWildcardTopK == scan wildcardTopK bit-identity; binding " +
      "maxExpansions cuts by (df desc, term asc)") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-wildidx").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 8)
    val scan = Search.wildcardTopK(docs, "doc_id", "text", "s*m w?ndow",
      k = 25).collect().toSeq
    val idx = Search.indexedWildcardTopK(spark, dir, "s*m w?ndow", k = 25,
      maxExpansions = 0).collect().toSeq
    assert(idx === scan)
    // binding cap: 's*' expands wide; cap 1 must keep exactly the
    // highest-df s-term and still rank deterministically
    val dict = Search.indexedTopTerms(spark, dir, n = 1000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(_._1.startsWith("s"))
    val topS = dict.sortBy { case (t, df) => (-df, t) }.head._1
    val capped = Search.indexedWildcardTopK(spark, dir, "s*", k = 25,
      maxExpansions = 1).collect().toSeq
    val single = Search.indexedBm25TopK(spark, dir, topS, k = 25)
      .collect().toSeq
    assert(capped === single)
    // MIXED leading-wildcard: '*dow' has no literal prefix so it must see
    // the FULL vocabulary — the 's*m' term's cheap prefilter must not be
    // applied to the shared dictionary (regression: the OR-of-Some
    // prefilter filtered the vocabulary to s-terms and '*dow' silently
    // missed 'window', breaking bit-identity)
    val scanMixed = Search.wildcardTopK(docs, "doc_id", "text", "s*m *dow",
      k = 25).collect().toSeq
    val idxMixed = Search.indexedWildcardTopK(spark, dir, "s*m *dow",
      k = 25, maxExpansions = 0).collect().toSeq
    assert(idxMixed === scanMixed)
    // and the leading-wildcard term really contributes matches (the bug
    // made this expansion empty, so an === on two empty seqs can't pass
    // vacuously): '*dow' alone must hit the docs containing 'window'
    val onlyLead = Search.indexedWildcardTopK(spark, dir, "*dow", k = 25,
      maxExpansions = 0).collect().toSeq
    assert(onlyLead.nonEmpty)
    assert(onlyLead === Search.wildcardTopK(docs, "doc_id", "text", "*dow",
      k = 25).collect().toSeq)
  }

  test("geoDistanceTopK: haversine law on known city pairs, radius filter " +
      "exact, box pushdown result-neutral, pole/antimeridian guards") {
    // Paris (48.8566, 2.3522) -> London (51.5074, -0.1278): 343.6 km
    // (the textbook haversine fixture); Tokyo is ~9,700 km from Paris
    val pts = Seq(
      (1L, 51.5074, -0.1278), // London
      (2L, 35.6762, 139.6503), // Tokyo
      (3L, 48.8566, 2.3522), // Paris itself (distance 0)
      (4L, 48.86, 2.36)) // ~600 m away
      .toDF("doc_id", "lat", "lon")
    val got = Search.geoDistanceTopK(pts, "doc_id", "lat", "lon",
        qLat = 48.8566, qLon = 2.3522, radiusKm = 400.0, k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got.map(_._1) === Seq(3L, 4L, 1L)) // self, neighbor, London
    assert(got.head._2 === 0.0)
    assert(math.abs(got(2)._2 - 343.55) < 0.5, s"Paris-London: ${got(2)._2}")
    // radius excludes Tokyo, includes London at 344 < 400
    assert(!got.map(_._1).contains(2L))
    // box pushdown is result-neutral near the antimeridian (the box is
    // dropped there, never wrapped wrong): query at lon 179.9 with a
    // point across the seam at -179.9 (~22 km away at lat 0)
    val seam = Seq((1L, 0.0, 179.9), (2L, 0.0, -179.9), (3L, 0.0, 170.0))
      .toDF("doc_id", "lat", "lon")
    val seamGot = Search.geoDistanceTopK(seam, "doc_id", "lat", "lon",
        qLat = 0.0, qLon = 179.9, radiusKm = 100.0, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(seamGot === Set(1L, 2L), s"antimeridian neighbor must match: $seamGot")
    // pole: cos(lat) ~ 0 degenerates the lon window to all-longitudes
    val pole = Seq((1L, 89.95, 0.0), (2L, 89.95, 180.0))
      .toDF("doc_id", "lat", "lon")
    assert(Search.geoDistanceTopK(pole, "doc_id", "lat", "lon",
        qLat = 89.95, qLon = 90.0, radiusKm = 50.0, k = 10)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // mid-latitude cap BULGE (review regression): the circle's true max
    // longitude extent is asin(sin c / cos phi) — a point near the east
    // tangent sits IN radius (1499.78 km <= 1500) but OUTSIDE the naive
    // c/cos(phi) box (dlon 13.6999 > 13.6979); the box must not drop it
    val bulge = Seq((1L, 10.286757, 33.699921), (2L, 10.0, 20.0))
      .toDF("doc_id", "lat", "lon")
    val bGot = Search.geoDistanceTopK(bulge, "doc_id", "lat", "lon",
        qLat = 10.0, qLon = 20.0, radiusKm = 1500.0, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(bGot === Set(1L, 2L), s"cap-bulge point dropped by the box: $bGot")
  }

  test("hasChildTopK: score modes (max/sum/avg/none), minChildren gate, " +
      "child scores aggregate UNROUNDED") {
    val docs = Seq(
      (1L, "p1", "spark spark spark"), // strong child
      (2L, "p1", "spark"),             // weak child
      (3L, "p2", "spark"),             // p2: one matching child
      (4L, "p2", "nothing here"),
      (5L, "p3", "window window"))     // p3 matches via 'window'
      .toDF("doc_id", "src", "text")
    def top(mode: String, minc: Int = 1) =
      Search.hasChildTopK(docs, "src", "text", "spark window", k = 10,
        scoreMode = mode, minChildren = minc)
        .orderBy("rank").collect()
        .map(r => (r.getString(0), r.getDouble(2))).toSeq
    val mx = top("max"); val sm = top("sum"); val av = top("avg")
    assert(mx.map(_._1).toSet === Set("p1", "p2", "p3"))
    // p1's max = its strong child alone; sum = strong + weak > max
    val p1max = mx.find(_._1 == "p1").get._2
    val p1sum = sm.find(_._1 == "p1").get._2
    val p1avg = av.find(_._1 == "p1").get._2
    assert(p1sum > p1max && p1avg < p1max)
    // p2's single matching child: max == sum == avg
    assert(sm.find(_._1 == "p2").get._2 === mx.find(_._1 == "p2").get._2)
    // none = filter-only: score 0, order by parent id
    val none = top("none")
    assert(none.forall(_._2 === 0.0))
    assert(none.map(_._1) === Seq("p1", "p2", "p3"))
    // minChildren = 2: only p1 has two matching children
    assert(top("max", minc = 2).map(_._1) === Seq("p1"))
    // invalid mode refused
    intercept[IllegalArgumentException] {
      Search.hasChildTopK(docs, "src", "text", "spark", k = 1,
        scoreMode = "median")
    }
  }

  test("explainScore: contributions sum to the published bm25TopK score; " +
      "only matching terms explain; df/idf are corpus facts") {
    val docs = sf("sf0.001", "documents")
    val q = "spark window merge"
    val ranked = Search.bm25TopK(docs, "doc_id", "text", q, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val expl = Search.explainScore(docs, "doc_id", "text", q)
      .filter(col("doc_id").isin(ranked.keys.toSeq: _*))
      .collect()
    // per-doc: the explain's score column IS the published ranking score,
    // and the unrounded contributions re-sum to it within rounding
    val byDoc = expl.groupBy(_.getLong(0))
    byDoc.foreach { case (id, rows) =>
      assert(rows.head.getDouble(7) === ranked(id))
      val sum = rows.sortBy(_.getString(1)).map(_.getDouble(6)).sum
      assert(math.abs(sum - ranked(id)) < 1e-3,
        s"doc $id: contributions $sum vs score ${ranked(id)}")
    }
    // only matching terms appear (tf > 0 everywhere)
    assert(expl.forall(_.getLong(2) > 0))
    // df is a corpus fact: same value on every row of a term
    expl.groupBy(_.getString(1)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).distinct.length === 1)
    }
  }

  test("nestedTopK: conjunction binds to the SAME element (the flattened " +
      "false-positive law), minMatched gate, count ranking") {
    // doc 1: one element satisfies BOTH predicates -> nested match
    // doc 2: predicates satisfied by DIFFERENT elements -> flattened-only
    // doc 3: two fully-matching elements -> n_matched 2, ranks first
    val rows = Seq(
      (1L, Seq((50.0, 0.01), (10.0, 0.5))),
      (2L, Seq((50.0, 0.5), (10.0, 0.01))),
      (3L, Seq((60.0, 0.0), (70.0, 0.01), (10.0, 0.5))))
      .toDF("doc_id", "raw")
      .select(col("doc_id"), transform(col("raw"),
        e => struct(e.getField("_1").as("q"), e.getField("_2").as("d")))
        .as("items"))
    val got = Search.nestedTopK(rows, "doc_id", "items",
        e => e.getField("q") > 45 && e.getField("d") < 0.02, k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
    assert(got === Seq((3L, 2), (1L, 1)), s"doc 2 must NOT match: $got")
    // minMatched 2: only doc 3
    assert(Search.nestedTopK(rows, "doc_id", "items",
        e => e.getField("q") > 45 && e.getField("d") < 0.02, k = 10,
        minMatched = 2)
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
    // the flattened form (independent exists per predicate) WOULD match
    // doc 2 — the false-positive class the nested mapping kills
    val flattened = rows.where(
      exists(col("items"), e => e.getField("q") > 45) &&
        exists(col("items"), e => e.getField("d") < 0.02))
      .collect().map(_.getLong(0)).toSet
    assert(flattened === Set(1L, 2L, 3L))
  }

  test("span queries: greedy-chain law on a hand corpus; indexed == scan " +
      "bit-identity; span_first truncation; non-positional index refuses") {
    // hand corpus pins the chain law exactly:
    //  doc 1: a..b..c within width 5 (slop 2) -> 1 match from p1=0
    //  doc 2: a b out of order for (b,a) but in order for (a,b)
    //  doc 3: a x x x x b — width 6 needs slop >= 4
    //  doc 4: a a b — TWO p1 candidates, both chain to the same b (greedy
    //         counts each p1 once: tf 2)
    // doc 6 is EMPTY text (review regression: sequence(0, -1) +
    // element_at(tok, 0) crashed the whole scan before the tf filter)
    val hand = Seq(
      (1L, "a x b x c"), (2L, "a b c"), (3L, "a x x x x b"),
      (4L, "a a b"), (5L, "c b a"), (6L, ""))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.orderBy("rank").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // (a,b,c) slop 2: doc 1 (width 5 = 3 terms + 2 gaps) and doc 2 (adjacent)
    val near = ids(Search.spanNearTopK(hand, "doc_id", "text",
      Seq("a", "b", "c"), slop = 2, k = 10))
    assert(near.map(_._1).toSet === Set(1L, 2L))
    // (a,b) slop 0 on doc 4: greedy counts each starting position once
    val d4 = Search.spanNearTopK(hand.filter(col("doc_id") === 4), "doc_id",
      "text", Seq("a", "b"), slop = 1, k = 10).collect()
    assert(d4.length === 1)
    // tf 2: p1=0 chains to b (width 3, slop used 1), p1=1 adjacent
    // doc 3 at slop 3 misses (needs 4), matches at slop 4; doc 5 ("c b a")
    // never matches (a,b) — in_order means no b AFTER its a counts
    assert(Search.spanNearTopK(hand, "doc_id", "text", Seq("a", "b"),
      slop = 3, k = 10).collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
    assert(Search.spanNearTopK(hand, "doc_id", "text", Seq("a", "b"),
      slop = 4, k = 10).collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L, 4L))
    // span_first: 'b' within the first 2 positions -> docs 4? no (b at 2),
    // doc 5 (b at 1), doc 2 (b at 1)
    assert(Search.spanFirstTopK(hand, "doc_id", "text", "b", end = 2,
      k = 10).collect().map(_.getLong(0)).toSet === Set(2L, 5L))
    // indexed == scan bit-identity on the real corpus
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-spanidx").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 8)
    assert(ids(Search.indexedSpanNearTopK(spark, dir,
        Seq("spark", "window", "merge"), slop = 6, k = 25)) ===
      ids(Search.spanNearTopK(docs, "doc_id", "text",
        Seq("spark", "window", "merge"), slop = 6, k = 25)))
    assert(ids(Search.indexedSpanFirstTopK(spark, dir, "spark", end = 10,
        k = 25)) ===
      ids(Search.spanFirstTopK(docs, "doc_id", "text", "spark", end = 10,
        k = 25)))
    // BM25-only index refuses span queries loudly
    val nopos = java.nio.file.Files.createTempDirectory("graft-spannopos").toString
    Search.buildPostingsIndex(docs.limit(100), "doc_id", "text", nopos,
      buckets = 8, positional = false)
    val e = intercept[IllegalArgumentException] {
      Search.indexedSpanNearTopK(spark, nopos, Seq("spark", "window"),
        slop = 2, k = 5).collect()
    }
    assert(e.getMessage.contains("positions"))
  }

  test("span_or / span_not: union + exclusion laws on a hand corpus; " +
      "indexed == scan bit-identity; 1-term clauses recover span_near") {
    val hand = Seq(
      (1L, "a x b x c"), (2L, "a b c"), (3L, "a x x x x b"),
      (4L, "a a b"), (5L, "c b a"), (6L, ""), (7L, "a z c"))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.orderBy("rank").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // span_or clause (b|z) chained after a, slop 1: doc 7 "a z c" matches
    // via the z alternative, docs 2/4 via b; doc 1 "a x b" width 3 needs
    // slop 1 — matches; doc 3 width 6 does not
    assert(Search.spanOrNearTopK(hand, "doc_id", "text",
        Seq(Seq("a"), Seq("b", "z")), slop = 1, k = 10)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L, 7L))
    // 1-term clauses == spanNearTopK exactly (scores included)
    assert(ids(Search.spanOrNearTopK(hand, "doc_id", "text",
        Seq(Seq("a"), Seq("b")), slop = 3, k = 10)) ===
      ids(Search.spanNearTopK(hand, "doc_id", "text", Seq("a", "b"),
        slop = 3, k = 10)))
    // standalone span_or: tf = occurrences of ANY alternative; doc 4
    // "a a b" has tf 3 for (a|b)
    val or4 = Search.spanOrNearTopK(hand.filter(col("doc_id") === 4), "doc_id",
      "text", Seq(Seq("a", "b")), slop = 0, k = 10).collect()
    assert(or4.length === 1 && or4.head.getLong(0) === 4L)
    // span_not: (a then b, slop 4) minus spans with c inside [p1-1, pm+1].
    // doc 1 "a x b x c": span [0,2], c at 4 > 2+1 -> SURVIVES;
    // doc 2 "a b c": span [0,1], c at 2 <= 1+1 -> killed;
    // doc 4 "a a b": no c at all -> both spans survive (tf 2)
    val sn = Search.spanNotTopK(hand, "doc_id", "text",
      include = Seq("a", "b"), slop = 4, exclude = Seq("c"),
      pre = 1, post = 1, k = 10)
      .collect().map(r => r.getLong(0)).toSet
    assert(sn === Set(1L, 3L, 4L), s"got $sn")
    // pre/post 0 = overlap-only: single-term spans of different terms
    // never overlap, so nothing is excluded
    assert(Search.spanNotTopK(hand, "doc_id", "text", include = Seq("a", "b"),
        slop = 4, exclude = Seq("c"), pre = 0, post = 0, k = 10)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    // indexed == scan bit-identity on the real corpus
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-spanoridx").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 8)
    assert(ids(Search.indexedSpanOrNearTopK(spark, dir,
        Seq(Seq("spark"), Seq("window", "merge")), slop = 4, k = 25)) ===
      ids(Search.spanOrNearTopK(docs, "doc_id", "text",
        Seq(Seq("spark"), Seq("window", "merge")), slop = 4, k = 25)))
    assert(ids(Search.indexedSpanNotTopK(spark, dir,
        include = Seq("spark", "window"), slop = 6, exclude = Seq("merge"),
        pre = 1, post = 1, k = 25)) ===
      ids(Search.spanNotTopK(docs, "doc_id", "text",
        include = Seq("spark", "window"), slop = 6, exclude = Seq("merge"),
        pre = 1, post = 1, k = 25)))
  }

  test("terms_set: per-doc minimum_should_match gates matches; constant " +
      "bound == bm25 minShouldMatch; null/zero degrade to OR; " +
      "impossible bound matches nothing") {
    val docs = sf("sf0.001", "documents")
    val terms = Seq("spark", "window", "merge")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // constant per-doc bound 2 == the bool minimum_should_match law
    assert(rows(Search.termsSetTopK(docs, "doc_id", "text", terms,
        msm = lit(2), k = 20)) ===
      rows(Search.bm25TopK(docs, "doc_id", "text", "spark window merge",
        k = 20, minShouldMatch = 2)))
    // null and zero bounds degrade to the plain OR match (>= 1)
    assert(rows(Search.termsSetTopK(docs, "doc_id", "text", terms,
        msm = lit(null).cast("int"), k = 20)) ===
      rows(Search.termsSetTopK(docs, "doc_id", "text", terms,
        msm = lit(0), k = 20)))
    // a bound above the term count matches nothing
    assert(Search.termsSetTopK(docs, "doc_id", "text", terms,
      msm = lit(4), k = 20).count() === 0L)
    // per-doc gating actually varies: the doc_id-cycled bound is a
    // SUBSET of the OR match and a SUPERSET of the all-terms match
    val cycled = Search.termsSetTopK(docs, "doc_id", "text", terms,
      msm = col("doc_id") % 3 + 1, k = 1000)
      .collect().map(_.getLong(0)).toSet
    val or = Search.termsSetTopK(docs, "doc_id", "text", terms,
      msm = lit(1), k = 1000).collect().map(_.getLong(0)).toSet
    val all3 = Search.termsSetTopK(docs, "doc_id", "text", terms,
      msm = lit(3), k = 1000).collect().map(_.getLong(0)).toSet
    assert(cycled.subsetOf(or) && all3.subsetOf(cycled ++ all3))
    assert(cycled !== or, "the per-doc bound must actually gate something")
  }

  test("stats / extended_stats / percentile_ranks facets: derived values " +
      "match a driver-side recomputation over the matched set") {
    val docs = sf("sf0.001", "documents")
    val matched = docs.filter(
      array_contains(Search.tokens(col("text")), "spark") ||
      array_contains(Search.tokens(col("text")), "window"))
      .select(col("n_chars")).collect().map(_.getLong(0))
    val n = matched.length.toLong
    val s1 = matched.sum
    val s2 = matched.map(x => x * x).sum
    val avg = s1.toDouble / n
    val variance = s2.toDouble / n - avg * avg
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val st = Search.statsFacet(docs, "text", "spark window", "n_chars").head()
    assert(st.getLong(0) === n)
    assert(st.getDouble(1) === matched.min.toDouble)
    assert(st.getDouble(2) === matched.max.toDouble)
    assert(math.abs(st.getDouble(3) - avg) < 1e-3)
    assert(st.getDouble(4) === s1.toDouble)
    val ext = Search.extendedStatsFacet(docs, "text", "spark window",
      "n_chars", sigma = 2.0).head()
    assert(ext.getLong(0) === n)
    assert(ext.getDouble(5) === s2.toDouble)
    assert(math.abs(ext.getDouble(6) - variance) < 1e-2)
    assert(math.abs(ext.getDouble(7) - math.sqrt(variance)) < 1e-2)
    assert(math.abs(ext.getDouble(8) - (avg + 2 * math.sqrt(variance))) < 1e-2)
    assert(math.abs(ext.getDouble(9) - (avg - 2 * math.sqrt(variance))) < 1e-2)
    // percentile_ranks: exact step CDF, monotone, 100 at max value
    val vals = Seq(matched.min.toDouble - 1, avg, matched.max.toDouble)
    val pr = Search.percentileRanksFacet(docs, "text", "spark window",
      "n_chars", vals).orderBy("value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(pr.map(_._2).sliding(2).forall(p => p.head <= p.last),
      s"percent must be monotone in value: ${pr.toSeq}")
    assert(pr.head._2 === 0.0, "below-min value ranks 0%")
    assert(pr.last._2 === 100.0, "max value ranks 100%")
    val expMid = r4(100.0 * matched.count(_ <= avg).toDouble / n)
    assert(math.abs(pr(1)._2 - expMid) < 1e-9, s"${pr(1)._2} vs $expMid")
  }

  test("search_after keyset pagination: pages partition the single-shot " +
      "ranking exactly; indexed == scan; cursor from the published row") {
    val docs = sf("sf0.001", "documents")
    val q = "spark window merge"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val all30 = rows(Search.bm25TopK(docs, "doc_id", "text", q, k = 30))
    // three 10-row pages, each cursor copied from the PREVIOUS page's
    // last published row — pages must tile the single-shot ranking
    var cursor: Option[(Double, Any)] = None
    val paged = (1 to 3).flatMap { _ =>
      val page = rows(Search.bm25TopK(docs, "doc_id", "text", q, k = 10,
        searchAfter = cursor))
      cursor = Some((page.last._2, page.last._1))
      page
    }
    assert(paged === all30)
    // indexed path: same law, bit-identical to the scan pages
    val dir = java.nio.file.Files.createTempDirectory("graft-sa-idx").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 8)
    var icursor: Option[(Double, Any)] = None
    val ipaged = (1 to 3).flatMap { _ =>
      val page = rows(Search.indexedBm25TopK(spark, dir, q, k = 10,
        searchAfter = icursor))
      icursor = Some((page.last._2, page.last._1))
      page
    }
    assert(ipaged === all30)
    // a cursor past the last match yields an empty page, not an error
    val tail = rows(Search.bm25TopK(docs, "doc_id", "text", q, k = 10,
      searchAfter = Some((all30.last._2, all30.last._1))))
    val deepAll = rows(Search.bm25TopK(docs, "doc_id", "text", q, k = 100000))
    val after30 = deepAll.drop(30).take(10)
    assert(tail === after30) // continues exactly where page 3 ended
  }

  test("phrasePrefixTopK: last-slot prefix law on a hand corpus, " +
      "overlapping starts count, single-term degenerates to prefixTopK") {
    val docs = Seq(
      (1L, "key order key order"), // bases 0 and 2 -> ptf 2
      (2L, "key orange"),          // orange startsWith or -> ptf 1
      (3L, "order key"),           // key at the edge, no next token
      (4L, "key value order"))     // not adjacent
      .toDF("doc_id", "text")
    val got = Search.phrasePrefixTopK(docs, "doc_id", "text", "key or",
      k = 10).collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.map(_._1).toSet === Set(1L, 2L))
    // doc 1 has ptf 2 vs doc 2's 1 at comparable dl -> doc 1 ranks first
    assert(got.head._1 === 1L)
    // single-term phrase: the phrase-prefix law collapses to exactly the
    // prefix relaxed-BM25 law (same tf, same relaxed df, same formula)
    val pp = Search.phrasePrefixTopK(docs, "doc_id", "text", "or", k = 10)
      .collect().toSeq
    val pf = Search.prefixTopK(docs, "doc_id", "text", "or", k = 10)
      .collect().toSeq
    assert(pp === pf)
  }

  test("indexedPhrasePrefixTopK == scan bit-identity; repeated fixed " +
      "term; cap determinism; refuses a positions-free index") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-ppidx").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 8)
    for (phrase <- Seq("key or", "fast key or", "merge merge s")) {
      val scan = Search.phrasePrefixTopK(docs, "doc_id", "text", phrase,
        k = 25).collect().toSeq
      val idx = Search.indexedPhrasePrefixTopK(spark, dir, phrase, k = 25,
        maxExpansions = 0).collect().toSeq
      assert(idx === scan, s"phrase '$phrase'")
    }
    // binding cap 1 on 's': identical to the phrase with the top-df
    // s-term substituted literally (the expansion-cut determinism law)
    val topS = Search.indexedTopTerms(spark, dir, n = 1000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(_._1.startsWith("s")).sortBy { case (t, df) => (-df, t) }
      .head._1
    val capped = Search.indexedPhrasePrefixTopK(spark, dir, "key s",
      k = 25, maxExpansions = 1).collect().toSeq
    // 'key <topS>' expands topS's own prefix set; in this corpus no
    // s-term prefixes another, so it expands to exactly {topS} — the
    // phrase the binding cap must reduce to
    val literal = Search.indexedPhrasePrefixTopK(spark, dir, s"key $topS",
      k = 25, maxExpansions = 0).collect().toSeq
    assert(capped === literal)
    val nopos = java.nio.file.Files.createTempDirectory("graft-ppnopos").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", nopos, buckets = 4,
      positional = false)
    val e = intercept[IllegalArgumentException] {
      Search.indexedPhrasePrefixTopK(spark, nopos, "key or", k = 5).collect()
    }
    assert(e.getMessage.contains("positions"))
  }

  test("dateHistogramFacet: calendar bucketing vs a driver-side " +
      "recomputation; null ts skipped; bad interval refused") {
    val events = sf("sf0.001", "events")
    val got = Search.dateHistogramFacet(events, "ts", "day",
        filter = Some(col("event_type") === "click"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    val ref = events.filter(col("event_type") === "click")
      .select(date_trunc("day", col("ts")).as("b")).collect()
      .groupBy(_.getTimestamp(0)).map { case (b, rs) => b -> rs.length.toLong }
    assert(got === ref)
    assert(got.values.sum === events.filter(col("event_type") === "click").count())
    // null timestamps are skipped, non-null still bucket
    val withNull = Seq((java.sql.Timestamp.valueOf("2024-03-01 10:30:00"), 1),
      (null.asInstanceOf[java.sql.Timestamp], 2)).toDF("ts", "x")
    val n = Search.dateHistogramFacet(withNull, "ts", "month").collect()
    assert(n.length === 1 && n.head.getLong(1) === 1L)
    intercept[IllegalArgumentException] {
      Search.dateHistogramFacet(events, "ts", "fortnight")
    }
  }

  test("rangeFacet: overlapping ranges both count a row, empty ranges " +
      "still emit, open ends, nulls skipped, bad ranges refused") {
    val df = Seq(Some(5.0), Some(30.0), Some(30.0), Some(150.0), None)
      .toDF("v")
    val got = Search.rangeFacet(df, "v", Seq(
        (None, Some(10.0)),        // 5          -> 1
        (Some(10.0), Some(50.0)),  // 30, 30     -> 2
        (Some(25.0), Some(100.0)), // 30, 30     -> 2 (overlap with prev)
        (Some(200.0), None)))      // —          -> 0 (still a row)
      .collect().map(r => (r.getString(0), r.getLong(3)))
    assert(got === Array(("*-10.0", 1L), ("10.0-50.0", 2L),
      ("25.0-100.0", 2L), ("200.0-*", 0L)))
    intercept[IllegalArgumentException] {
      Search.rangeFacet(df, "v", Seq((None, None)))
    }
    intercept[IllegalArgumentException] {
      Search.rangeFacet(df, "v", Seq((Some(5.0), Some(5.0))))
    }
  }

  test("significantTermsFacet: JLH law on a hand corpus — matched-only " +
      "terms dominate, background-common terms excluded, no match refused") {
    val docs = Seq(
      (1L, "join zzz alpha"), (2L, "join zzz beta"),    // matched (join)
      (3L, "noise alpha common"), (4L, "noise beta common"),
      (5L, "noise common gamma"))
      .toDF("doc_id", "text")
    val got = Search.significantTermsFacet(docs, "text", "join", topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    // zzz: fg 2/2 = 1.0 vs bg 2/5 = 0.4 -> (0.6)·(2.5) = 1.5 — the top
    // (tied with 'join' itself at the same counts; 'join' < 'zzz' asc)
    val byTerm = got.map(g => g._1 -> g).toMap
    assert(byTerm("zzz")._4 === 1.5)
    assert(byTerm("join")._4 === 1.5)
    assert(got.head._1 === "join" && got(1)._1 === "zzz") // tie: term asc
    // 'common' never matched -> fg_df 0 -> excluded; 'alpha' fg 1/2 = bg
    // 2/5? 0.5 > 0.4 -> included but scores low
    assert(!byTerm.contains("common"))
    assert(byTerm("alpha")._4 < byTerm("zzz")._4)
    intercept[IllegalArgumentException] {
      Search.significantTermsFacet(docs, "text", "absentterm")
    }
  }

  test("topHitsFacet: per-value top-k by the bm25 law, null facet " +
      "skipped, bounded heap (no rank window in the plan)") {
    val docs = Seq(
      (1L, "join join join", "a"), (2L, "join join", "a"),
      (3L, "join", "a"), (4L, "join join join join", "b"),
      (5L, "join", null.asInstanceOf[String]), (6L, "nomatch", "a"))
      .toDF("doc_id", "text", "source")
    val got = Search.topHitsFacet(docs, "text", "join", "doc_id",
      "source", k = 2)
    val rows = got.orderBy("value", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // a: docs 1,2 by tf; b: doc 4; null and unmatched skipped
    assert(rows.toSeq === Seq(("a", 1L, 1), ("a", 2L, 2), ("b", 4L, 1)))
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "per-value cut must be the bounded TopKAgg heap, not a rank window")
    // per-value scores agree with the global bm25 law (same stats)
    val all = Search.bm25TopK(docs, "doc_id", "text", "join", k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    got.collect().foreach { r =>
      assert(r.getDouble(3) === all(r.getLong(1)), s"doc ${r.getLong(1)}")
    }
  }

  test("pipelineAggs: cumulative/derivative/moving-average laws, null " +
      "first derivative, trailing window includes current") {
    val hist = Seq(("2024-01-01", 10L), ("2024-01-02", 30L),
      ("2024-01-03", 20L), ("2024-01-04", 40L))
      .toDF("bucket", "docs")
    val got = Search.pipelineAggs(hist, window = 3).orderBy("bucket")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getDouble(4)))
    assert(got.toSeq === Seq(
      ("2024-01-01", 10L, 10L, None, 10.0),
      ("2024-01-02", 30L, 40L, Some(20L), 20.0),
      ("2024-01-03", 20L, 60L, Some(-10L), 20.0),
      ("2024-01-04", 40L, 100L, Some(20L), 30.0)))
  }

  test("functionScoreTopK: gauss peaks at origin, ln1p factor, null " +
      "field laws, boost modes, validation") {
    val docs = Seq(
      (1L, "join", 100.0), (2L, "join", 50.0), (3L, "join", 0.0),
      (4L, "join", Double.NaN), (5L, "nomatch", 100.0))
      .toDF("doc_id", "text", "v")
      .withColumn("v", when(isnan(col("v")), lit(null)).otherwise(col("v")))
    // gauss only: peak at origin 100 -> doc 1 first; null v scores 1.0
    // (> any off-origin decay) -> doc 4 ties doc 1 at bm25·1.0
    val g = Search.functionScoreTopK(docs, "doc_id", "text", "join", k = 10,
        gaussDecay = Some(("v", 100.0, 50.0, 0.5)))
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(g.map(_._1).take(2).toSet === Set(1L, 4L)) // decay 1.0 both
    assert(g.map(_._1).toSet === Set(1L, 2L, 3L, 4L)) // unmatched out
    val byId = g.toMap
    assert(byId(1L) === byId(4L))
    assert(byId(2L) > byId(3L)) // 50 is closer to origin than 0
    // field factor only: ln1p(0.1·v); null v -> factor 0 -> score 0
    val f = Search.functionScoreTopK(docs, "doc_id", "text", "join", k = 10,
        fieldFactor = Some(("v", 0.1)))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(f(1L) > f(2L) && f(2L) > f(3L))
    assert(f(3L) === 0.0 && f(4L) === 0.0) // ln1p(0), null->0
    // sum mode: score = bm25 + fn, so the zero-factor docs keep bm25
    val sm = Search.functionScoreTopK(docs, "doc_id", "text", "join",
        k = 10, fieldFactor = Some(("v", 0.1)), boostMode = "sum")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(sm(3L) > 0.0)
    intercept[IllegalArgumentException] {
      Search.functionScoreTopK(docs, "doc_id", "text", "join", k = 1)
    }
    intercept[IllegalArgumentException] {
      Search.functionScoreTopK(docs, "doc_id", "text", "join", k = 1,
        fieldFactor = Some(("v", 1.0)), boostMode = "max")
    }
  }

  test("collapseTopK: one representative per value (best score, id " +
      "tie-break), null collapse skipped, no rank window") {
    val docs = Seq(
      (1L, "join join join", "a"), (2L, "join", "a"),
      (3L, "join join", "b"), (4L, "join join", "b"),
      (5L, "join join join join", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "source")
    val got = Search.collapseTopK(docs, "doc_id", "text", "join",
      "source", k = 10)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2)))
    // a -> doc 1 (highest tf); b -> doc 3 (tie with 4, smaller id);
    // doc 5's null group never appears
    assert(rows.map(x => (x._1, x._2)).toSet === Set((1L, "a"), (3L, "b")))
    assert(rows.find(_._1 == 1L).get._3 === 1) // global rank by score
    // per-value best is the bounded heap + a TakeOrdered global cut; the
    // only Window is the k-row rank assignment AFTER the cut
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("top_k") && plan.contains("TakeOrderedAndProject"),
      plan)
    assert(!plan.contains("row_number() windowspecdefinition(value"),
      "per-value best must be the bounded heap, not a per-value rank window")
  }

  test("rescoreTopK: phrase lift reorders INSIDE the window only; " +
      "window law keeps outsiders out; validation") {
    // fillers carry the SAME dl as the real docs: BM25 length norm would
    // otherwise rank a one-token 'join' doc above doc 2 and push it out
    // of the window before the rescorer ever sees it
    val filler = (100L to 160L).map(i => (i, "join x0 x1 x2 x3", "-"))
    val docs = (Seq(
      (1L, "join join join join join", "-"),   // top primary, no phrase
      (2L, "join join join fast key", "-"),    // phrase match
      (3L, "fast key fast key fast key", "-")) // phrase-rich, NO 'join'
      ++ filler).toDF("doc_id", "text", "x")
    // windowSize 5: docs 1,2 + 3 fillers; doc 3 never matched the query
    // so it is not even in the primary ranking
    val got = Search.rescoreTopK(docs, "doc_id", "text", "join",
        "fast key", k = 5, windowSize = 5, rescoreWeight = 10.0)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.head._1 === 2L, "phrase lift must reorder the window")
    assert(!got.map(_._1).contains(3L), "non-window doc re-entered")
    // outside the window, phrase-matching doc stays out even at k bound:
    // shrink window to 1 -> only the primary top survives rescoring
    val w1 = Search.rescoreTopK(docs, "doc_id", "text", "join",
        "fast key", k = 1, windowSize = 1, rescoreWeight = 10.0)
      .collect().map(_.getLong(0))
    assert(w1.toSeq === Seq(1L))
    intercept[IllegalArgumentException] {
      Search.rescoreTopK(docs, "doc_id", "text", "join", "fast key",
        k = 10, windowSize = 5)
    }
  }

  test("termSuggest: (distance, df desc, term) ranking from the " +
      "dictionary, exact term excluded; completionSuggest == top terms " +
      "under a prefix") {
    val docs = sf("sf0.001", "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-suggest").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", dir, buckets = 8)
    val got = Search.termSuggest(spark, dir, "slorw", maxEdits = 2, n = 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(3)))
    // sf0.001 vocab: slow (d1), sort (d2) — ordered closest-first
    assert(got.map(_._1).toSeq === Seq("slow", "sort"))
    assert(got.map(_._2).toSeq === Seq(1, 2))
    // the exact term never suggests itself
    val self = Search.termSuggest(spark, dir, "slow", maxEdits = 2, n = 20)
      .collect().map(_.getString(0))
    assert(!self.contains("slow") && self.nonEmpty)
    intercept[IllegalArgumentException] {
      Search.termSuggest(spark, dir, "two words")
    }
    // completion law: == indexedTopTerms restricted to the prefix
    val comp = Search.completionSuggest(spark, dir, "s", n = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val ref = Search.indexedTopTerms(spark, dir, n = 1000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(_._1.startsWith("s")).sortBy { case (t, df) => (-df, t) }
      .take(10)
    assert(comp.toSeq === ref.toSeq)
  }

  test("boostingTopK: negative terms DEMOTE, never exclude; " +
      "negative-only docs never rank; boost bounds enforced") {
    val docs = Seq(
      (1L, "join join"), (2L, "join join slow"),
      (3L, "slow slow"), (4L, "join"))
      .toDF("doc_id", "text")
    val got = Search.boostingTopK(docs, "doc_id", "text", "join", "slow",
      k = 10, negativeBoost = 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val byId = got.toMap
    // doc 2 matched 'slow' -> demoted but PRESENT; doc 3 (negative only)
    // absent; demotion is exactly x0.5 of its positive score
    assert(got.map(_._1).toSet === Set(1L, 2L, 4L))
    val pos = Search.bm25TopK(docs, "doc_id", "text", "join", k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byId(2L) === math.rint(pos(2L) * 0.5 * 1e4) / 1e4)
    assert(byId(1L) === pos(1L))
    intercept[IllegalArgumentException] {
      Search.boostingTopK(docs, "doc_id", "text", "join", "slow", k = 1,
        negativeBoost = 1.5)
    }
  }

  test("cardinalityFacet: distinct over the MATCHED set only, nulls " +
      "uncounted; indexedCardinality exact through build+append") {
    val docs = Seq(
      (1L, "join x", "en", "web"), (2L, "join y", "en", null),
      (3L, "join z", "fr", "web"), (4L, "nomatch", "de", "print"))
      .toDF("doc_id", "text", "lang", "source")
    val row = Search.cardinalityFacet(docs, "text", "join",
      Seq("lang", "source")).head()
    assert(row.getLong(0) === 2L) // en, fr — doc 4 unmatched
    assert(row.getLong(1) === 1L) // web — null source uncounted
    // index dictionary cardinality: distinct across build+append deltas
    // (shared vocabulary must not double-count)
    val corpus = sf("sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-cardidx").toString
    Search.buildPostingsIndex(corpus.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir, buckets = 4)
    Search.appendToPostingsIndex(corpus.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", dir)
    val card = Search.indexedCardinality(spark, dir).head().getLong(0)
    val exact = corpus.select(explode(Search.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    assert(card === exact)
  }

  test("postings(): row-local kernel == posexplode+groupBy formulation, " +
    "and its build plan carries NO exchange") {
    // adversarial corpus: leading/trailing/multi whitespace runs, tabs and
    // newlines, repeated terms (tf > 1, gapped positions), case folding,
    // unicode (combining marks, CJK, Turkish dotted I), empty and null
    // texts, a one-token doc
    val docs = Seq(
      (1L, "  The  quick\tbrown\nfox the THE the  "),
      (2L, "a a a b b a"),
      (3L, ""),
      (4L, null.asInstanceOf[String]),
      (5L, "İstanbul STRASSE ÅÄÖ über"),
      (6L, "汉字 汉字テスト"),
      (7L, "solo"),
      (8L, " x y   z ") //  is \s; NBSP is NOT \s in Java
    ).toDF("doc_id", "text")
    for (positional <- Seq(true, false)) {
      val got = Search.postings(docs, "doc_id", "text", buckets = 8,
        positional = positional)
      // the formulation the kernel replaced (bit-compat reference)
      val base = docs.select(col("doc_id"),
        Search.tokens(col("text")).as("_w"))
      val ref0 =
        if (positional)
          base.select(col("doc_id"), size(col("_w")).cast("double").as("dl"),
              posexplode(col("_w")).as(Seq("pos", "term")))
            .groupBy("doc_id", "dl", "term")
            .agg(count(lit(1)).cast("double").as("tf"),
              sort_array(collect_list(col("pos"))).as("positions"))
        else
          base.select(col("doc_id"), size(col("_w")).cast("double").as("dl"),
              explode(col("_w")).as("term"))
            .groupBy("doc_id", "dl", "term")
            .agg(count(lit(1)).cast("double").as("tf"))
      val ref = ref0.withColumn("tb",
        pmod(xxhash64(col("term")), lit(8L)).cast("int"))
      assert(got.columns.toSeq === ref.columns.toSeq)
      assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
        s"postings sets differ (positional=$positional):\n" +
          s"extra=${got.exceptAll(ref).collect().take(5).toSeq}\n" +
          s"missing=${ref.exceptAll(got).collect().take(5).toSeq}")
      // sf0.001 corpus too (real text shapes)
      val corpus = sf("sf0.001", "documents").limit(200)
      val g2 = Search.postings(corpus, "doc_id", "text", 16, positional)
      val b2 = corpus.select(col("doc_id"), Search.tokens(col("text")).as("_w"))
      val r2 = (if (positional)
        b2.select(col("doc_id"), size(col("_w")).cast("double").as("dl"),
            posexplode(col("_w")).as(Seq("pos", "term")))
          .groupBy("doc_id", "dl", "term")
          .agg(count(lit(1)).cast("double").as("tf"),
            sort_array(collect_list(col("pos"))).as("positions"))
      else
        b2.select(col("doc_id"), size(col("_w")).cast("double").as("dl"),
            explode(col("_w")).as("term"))
          .groupBy("doc_id", "dl", "term")
          .agg(count(lit(1)).cast("double").as("tf")))
        .withColumn("tb", pmod(xxhash64(col("term")), lit(16L)).cast("int"))
      assert(g2.exceptAll(r2).isEmpty && r2.exceptAll(g2).isEmpty,
        s"sf0.001 postings sets differ (positional=$positional)")
    }
    // the build-side plan law: scan -> generate -> project, zero exchanges
    // (the whole point of the kernel — guide §2.4, remove shuffles outright)
    val plan = Search.postings(sf("sf0.001", "documents"), "doc_id", "text",
      32, positional = true).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"postings build must be shuffle-free, got:\n$plan")
  }

  test("phrase_prefix_stats kernel == HOF formulation (dl, ptf, df flags) " +
    "on an adversarial corpus and sf0.001") {
    val adversarial = Seq(
      (1L, "  key Order KEY or ORDERED key or  "),
      (2L, "key or key or key or"), // overlapping starts
      (3L, "or key"),               // prefix before fixed: no start
      (4L, ""),
      (5L, null.asInstanceOf[String]),
      (6L, "key"),                  // too short for the phrase
      (7L, "KEY\tOR\nkey oracle"),
      (8L, "orx key ory key"),
      (9L, "汉字 key or 汉字")
    ).toDF("doc_id", "text")
    for ((fixedPhrase, prefix) <- Seq((Seq("key"), "or"),
        (Seq.empty[String], "or"), (Seq("key", "or"), "key"))) {
      val distinctFixed = fixedPhrase.distinct.sorted
      val m = fixedPhrase.length + 1
      for (corpus <- Seq(adversarial, sf("sf0.001", "documents").limit(300))) {
        val tok = Search.tokens(col("text"))
        val starts = when(size(tok) >= m,
          filter(sequence(lit(0), size(tok) - lit(m)), i =>
            (fixedPhrase.zipWithIndex.map { case (t, j) =>
              element_at(tok, i + lit(j + 1)) === lit(t)
            } :+ element_at(tok, i + lit(m)).startsWith(lit(prefix)))
              .reduce(_ && _)))
          .otherwise(array().cast("array<int>"))
        // null text: HOF gives (null dl, 0 ptf, 0-flags); kernel gives a
        // null struct — both normalize to (-1, 0, zeros) here. The query
        // semantics only read ptf > 0 rows, identical either way.
        val refHits = array((distinctFixed.map(t =>
          coalesce(when(array_contains(tok, t), 1).otherwise(0), lit(0))) :+
          coalesce(when(exists(tok, x => x.startsWith(lit(prefix))), 1)
            .otherwise(0), lit(0))): _*)
        val ref = corpus.select(col("doc_id"),
          coalesce(size(tok), lit(-1)).as("dl"),
          coalesce(size(starts), lit(0)).as("ptf"),
          refHits.as("hits"))
        val s = graft.functions.EsFunctions.phrase_prefix_stats(
          col("text"), fixedPhrase, prefix)
        val zeroHits = array(
          Seq.fill(distinctFixed.length + 1)(lit(0)): _*)
        val gotDf = corpus.select(col("doc_id"), s.as("_k"))
          .select(col("doc_id"),
            coalesce(col("_k.dl"), lit(-1)).as("dl"),
            coalesce(col("_k.ptf"), lit(0)).as("ptf"),
            coalesce(col("_k.hits"), zeroHits).as("hits"))
        assert(gotDf.exceptAll(ref).isEmpty && ref.exceptAll(gotDf).isEmpty,
          s"kernel != HOF for phrase=${fixedPhrase :+ prefix}: " +
            s"extra=${gotDf.exceptAll(ref).collect().take(3).toSeq} " +
            s"missing=${ref.exceptAll(gotDf).collect().take(3).toSeq}")
      }
    }
  }

  test("filesPerBucket knob bounds build output files (<= knob x buckets), " +
    "keeps the build shuffle-free, and leaves the index bit-identical") {
    // many input partitions so the UNbounded map-side write would leave
    // more than filesPerBucket files in at least one bucket
    val docs = sf("sf0.001", "documents").limit(400).repartition(16)
    val knob = "spark.graft.postings.filesPerBucket"
    def filesUnder(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    }
    val free = java.nio.file.Files.createTempDirectory("graft-fpb-free").toString
    val bound = java.nio.file.Files.createTempDirectory("graft-fpb-bound").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", free, buckets = 4)
    spark.conf.set(knob, "2")
    try Search.buildPostingsIndex(docs, "doc_id", "text", bound, buckets = 4)
    finally spark.conf.unset(knob)
    assert(filesUnder(s"$free/postings").size > 2 * 4,
      "precondition: the unbounded build should exceed the bound")
    assert(filesUnder(s"$bound/postings").size <= 2 * 4,
      s"bounded build wrote ${filesUnder(s"$bound/postings").size} files")
    // the knob must not reintroduce a shuffle: coalesce is narrow (the
    // exchange-free postings law holds with the bound applied)
    val plan2 = Search.postings(sf("sf0.001", "documents"), "doc_id",
        "text", 4).coalesce(2).queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange"),
      s"bounded postings build must stay shuffle-free, got:\n$plan2")
    // bit-identical index: same postings rows, same stats, same queries
    val pFree = spark.read.parquet(s"$free/postings")
    val pBound = spark.read.parquet(s"$bound/postings")
    assert(pFree.exceptAll(pBound).isEmpty && pBound.exceptAll(pFree).isEmpty,
      "bounded build's postings differ from the unbounded build's")
    assert(Search.readStats(spark, bound) === Search.readStats(spark, free))
    val qf = Search.indexedBm25TopK(spark, free, "spark data", k = 5).collect()
    val qb = Search.indexedBm25TopK(spark, bound, "spark data", k = 5).collect()
    assert(qf.toSeq === qb.toSeq)
  }

  /** Fixed generated corpus for the pinned-output laws: a skewed
    * 16-word vocabulary (so phrases, spans and prefixes hit often), ~1 in
    * 23 texts empty, ~1 in 9 titles null, plus a parent key, a numeric
    * field and a collapse group. */
  private lazy val pinCorpus: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(47)
    val vocab = Seq("spark", "window", "merge", "node", "alpha", "spork",
      "windows", "winter", "merges", "query", "shard", "route", "token",
      "index", "beta", "gamma")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(rnd.nextInt(vocab.length) + 1)))
      .mkString(" ")
    (0 until 240).map { i =>
      val text = if (i % 23 == 5) "" else words(1 + rnd.nextInt(16))
      val title = if (i % 9 == 4) null else words(1 + rnd.nextInt(4))
      (i.toLong, text, title, (i % 17).toLong, rnd.nextInt(100), s"g${i % 7}")
    }.toDF("doc_id", "text", "title", "parent_id", "pop", "grp")
  }

  /** Count and SHA-256 of a result's rows, each rendered as its
    * comma-joined cells, sorted. */
  private def pinDigest(df: org.apache.spark.sql.DataFrame): String = {
    val rows = df.collect().map(_.toSeq.map(String.valueOf).mkString(",")).sorted
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
    s"${rows.length} ${sha.map("%02x".format(_)).mkString}"
  }

  test("every query kind's scan and indexed top-k are pinned: count and " +
      "SHA-256 of the sorted rows") {
    // captured before the query kinds shared one match/score/rank core;
    // any drift in a matched set, a rank or a score's last rounded digit
    // changes a digest. Scan and indexed forms of a kind pin separately
    // (they agree by the bit-identity laws, and here by digest too)
    val docs = pinCorpus.cache()
    val root = java.nio.file.Files.createTempDirectory("graft-pinned").toString
    Search.buildPostingsIndex(docs, "doc_id", "text", s"$root/text", buckets = 8)
    Search.buildPostingsIndex(docs, "doc_id", "title", s"$root/title", buckets = 8)
    val dir = s"$root/text"
    val k = 12
    val q = "spark window merge"
    val batch = Seq((1L, "spark window"), (2L, "merge node alpha"), (3L, "query"),
      (4L, "zzz")).toDF("query_id", "query_text")
    val page1 = Search.bm25TopK(docs, "doc_id", "text", q, 5).collect()
    val cursor = Some((page1.last.getDouble(2), page1.last.get(0): Any))
    val fields = Seq(("text", 1.0), ("title", 2.0))
    val fieldDirs = Seq((s"$root/text", 1.0), (s"$root/title", 2.0))
    import Search.BoolNode._
    val tree = Bool(must = Seq(Term("spark")),
      should = Seq(Term("window", 2.0), Bool(must = Seq(Term("merge"), Term("alpha")))),
      mustNot = Seq(Term("node")))
    val likeId = 7L
    val likeText = docs.filter(col("doc_id") === likeId).head().getString(1)
    val got = Seq(
      "bm25 scan" -> Search.bm25TopK(docs, "doc_id", "text", q, 40),
      "bm25 indexed" -> Search.indexedBm25TopK(spark, dir, q, 40),
      "bm25 msm3 scan" -> Search.bm25TopK(docs, "doc_id", "text", q, 40, minShouldMatch = 3),
      "bm25 msm3 indexed" -> Search.indexedBm25TopK(spark, dir, q, 40, minShouldMatch = 3),
      "bm25 after scan" -> Search.bm25TopK(docs, "doc_id", "text", q, 5, searchAfter = cursor),
      "bm25 after indexed" -> Search.indexedBm25TopK(spark, dir, q, 5, searchAfter = cursor),
      "batch scan" -> Search.bm25TopKBatch(docs, "doc_id", "text", batch, 4),
      "batch indexed" -> Search.indexedBm25TopKBatch(spark, dir, batch, 4),
      "fuzzy scan" -> Search.fuzzyTopK(docs, "doc_id", "text", "spork windw", k),
      "fuzzy indexed" -> Search.indexedFuzzyTopK(spark, dir, "spork windw", k, maxExpansions = 0),
      "prefix scan" -> Search.prefixTopK(docs, "doc_id", "text", "win mer", k),
      "prefix indexed" -> Search.indexedPrefixTopK(spark, dir, "win mer", k, maxExpansions = 0),
      "wildcard scan" -> Search.wildcardTopK(docs, "doc_id", "text", "w?nd* sp*", k),
      "wildcard indexed" -> Search.indexedWildcardTopK(spark, dir, "w?nd* sp*", k, maxExpansions = 0),
      "regexp scan" -> Search.regexpTopK(docs, "doc_id", "text", "sp[ao]rk node.?", k),
      "regexp indexed" -> Search.indexedRegexpTopK(spark, dir, "sp[ao]rk node.?", k, maxExpansions = 0),
      "multi most scan" -> Search.multiFieldTopK(docs, "doc_id", fields, "spark merge", k),
      "multi most indexed" -> Search.indexedMultiFieldTopK(spark, fieldDirs, "spark merge", k),
      "multi best scan" -> Search.multiFieldTopK(docs, "doc_id", fields, "spark merge", k,
        mode = "best_fields", tieBreaker = 0.3),
      "multi best indexed" -> Search.indexedMultiFieldTopK(spark, fieldDirs, "spark merge", k,
        mode = "best_fields", tieBreaker = 0.3),
      "phrase scan" -> Search.phraseTopK(docs, "doc_id", "text", "spark window", k),
      "phrase indexed" -> Search.indexedPhraseTopK(spark, dir, "spark window", k),
      "phrase slop1 scan" -> Search.phraseTopK(docs, "doc_id", "text", "spark window", k, slop = 1),
      "phrase slop1 indexed" -> Search.indexedPhraseTopK(spark, dir, "spark window", k, slop = 1),
      "span near scan" -> Search.spanNearTopK(docs, "doc_id", "text", Seq("spark", "merge"), 2, k),
      "span near indexed" -> Search.indexedSpanNearTopK(spark, dir, Seq("spark", "merge"), 2, k),
      "span first scan" -> Search.spanFirstTopK(docs, "doc_id", "text", "merge", 3, k),
      "span first indexed" -> Search.indexedSpanFirstTopK(spark, dir, "merge", 3, k),
      "span or-near scan" -> Search.spanOrNearTopK(docs, "doc_id", "text",
        Seq(Seq("spark"), Seq("window", "node")), 1, k),
      "span or-near indexed" -> Search.indexedSpanOrNearTopK(spark, dir,
        Seq(Seq("spark"), Seq("window", "node")), 1, k),
      "span not scan" -> Search.spanNotTopK(docs, "doc_id", "text", Seq("spark", "window"), 2,
        Seq("node"), pre = 1, post = 1, k = k),
      "span not indexed" -> Search.indexedSpanNotTopK(spark, dir, Seq("spark", "window"), 2,
        Seq("node"), pre = 1, post = 1, k = k),
      "phrase-prefix scan" -> Search.phrasePrefixTopK(docs, "doc_id", "text", "spark win", k),
      "phrase-prefix indexed" -> Search.indexedPhrasePrefixTopK(spark, dir, "spark win", k,
        maxExpansions = 0),
      "bool scan" -> Search.boolTopK(docs, "doc_id", "text", "spark", "window merge", "node", k),
      "bool indexed" -> Search.indexedBoolTopK(spark, dir, "spark", "window merge", "node", k),
      "bool-tree scan" -> Search.boolQueryTopK(docs, "doc_id", "text", tree, k),
      "bool-tree indexed" -> Search.indexedBoolQueryTopK(spark, dir, tree, k),
      "mlt doc scan" -> Search.moreLikeThisTopK(docs, "doc_id", "text", likeId, k,
        maxQueryTerms = 4, minTermFreq = 1, minDocFreq = 2),
      "mlt text scan" -> Search.moreLikeThisTextTopK(docs, "doc_id", "text", likeText, k,
        maxQueryTerms = 4, minTermFreq = 1, minDocFreq = 2),
      "mlt indexed" -> Search.indexedMoreLikeThisTopK(spark, dir, likeText, k,
        maxQueryTerms = 4, minTermFreq = 1, minDocFreq = 2),
      "terms-set scan" -> Search.termsSetTopK(docs, "doc_id", "text", Seq("spark", "window",
        "merge"), lit(3), 40),
      "function-score scan" -> Search.functionScoreTopK(docs, "doc_id", "text", q, k,
        fieldFactor = Some(("pop", 0.1)), gaussDecay = Some(("pop", 50.0, 20.0, 0.5))),
      "boosting scan" -> Search.boostingTopK(docs, "doc_id", "text", "spark window", "merge", k),
      "collapse scan" -> Search.collapseTopK(docs, "doc_id", "text", q, "grp", 5),
      "rescore scan" -> Search.rescoreTopK(docs, "doc_id", "text", q, "spark window", 5,
        windowSize = 20),
      "has-child max scan" -> Search.hasChildTopK(docs, "parent_id", "text", q, 8),
      "has-child sum scan" -> Search.hasChildTopK(docs, "parent_id", "text", q, 8,
        scoreMode = "sum", minChildren = 2),
      "top-hits scan" -> Search.topHitsFacet(docs, "text", q, "doc_id", "grp", 2),
      "explain scan" -> Search.explainScore(docs.filter(col("doc_id") < 40), "doc_id", "text", q),
      "top terms indexed" -> Search.indexedTopTerms(spark, dir, 6)
    ).map { case (name, df) => name -> pinDigest(df) }
    info(got.map { case (c, d) => s"$c -> $d" }.mkString("\n"))
    assert(got.toMap === Map(
      "bm25 scan" ->
        "40 9b249065f3dccb4723d17b0e147e028df393ba55080d49e23d8e130a95d1d9db",
      "bm25 indexed" ->
        "40 9b249065f3dccb4723d17b0e147e028df393ba55080d49e23d8e130a95d1d9db",
      "bm25 msm3 scan" ->
        "40 3280aa535ab74c2034577a0c48b470859c279e985fa843911b5b6be768222867",
      "bm25 msm3 indexed" ->
        "40 3280aa535ab74c2034577a0c48b470859c279e985fa843911b5b6be768222867",
      "bm25 after scan" ->
        "5 8ab372743bf6f13ef3cb8c1f56816afc89767d26fb602fe5a455dd808d738efb",
      "bm25 after indexed" ->
        "5 8ab372743bf6f13ef3cb8c1f56816afc89767d26fb602fe5a455dd808d738efb",
      "batch scan" ->
        "12 c54bd491e0c2422777742f52b9df6f3ad41f05b9758aec09ce10162c911fafc6",
      "batch indexed" ->
        "12 c54bd491e0c2422777742f52b9df6f3ad41f05b9758aec09ce10162c911fafc6",
      "fuzzy scan" ->
        "12 450617bbbea9866304a7bbb31886e325a00acdcd5ad627923fee7979970a5873",
      "fuzzy indexed" ->
        "12 450617bbbea9866304a7bbb31886e325a00acdcd5ad627923fee7979970a5873",
      "prefix scan" ->
        "12 2491140c315afc15b7a36d687b16db775862b71d6c60c564738045302a38d0d0",
      "prefix indexed" ->
        "12 2491140c315afc15b7a36d687b16db775862b71d6c60c564738045302a38d0d0",
      "wildcard scan" ->
        "12 166d9b55c320818ad564bc2a50921289abf973a45ac2bd8c5ceaa384fccdf057",
      "wildcard indexed" ->
        "12 166d9b55c320818ad564bc2a50921289abf973a45ac2bd8c5ceaa384fccdf057",
      "regexp scan" ->
        "12 d4f03e804e8911e08074456205b97b08b73e0fab3e6898aae886590433baa08f",
      "regexp indexed" ->
        "12 d4f03e804e8911e08074456205b97b08b73e0fab3e6898aae886590433baa08f",
      "multi most scan" ->
        "12 4a457a12489fbb89160dab8d31e8f88e42cf18b1caf49e1205748cc028a38b3f",
      "multi most indexed" ->
        "12 4a457a12489fbb89160dab8d31e8f88e42cf18b1caf49e1205748cc028a38b3f",
      "multi best scan" ->
        "12 ed70a38626a5fae531d49839ca782e0a82c151bf230ff3fd63194b62c46f36eb",
      "multi best indexed" ->
        "12 ed70a38626a5fae531d49839ca782e0a82c151bf230ff3fd63194b62c46f36eb",
      "phrase scan" ->
        "12 205b3eba976e766b7b9da9a5d0f9fb1f880dca81ca7420b30876c101782e7814",
      "phrase indexed" ->
        "12 205b3eba976e766b7b9da9a5d0f9fb1f880dca81ca7420b30876c101782e7814",
      "phrase slop1 scan" ->
        "12 cc4f1f6f110935ddbd4331bf491c505e2656ce9d06d689e4c74aa9f1359b9640",
      "phrase slop1 indexed" ->
        "12 cc4f1f6f110935ddbd4331bf491c505e2656ce9d06d689e4c74aa9f1359b9640",
      "span near scan" ->
        "12 54391f97e70a4d82d6b7d333940398e96f156fe58470ccd4a6ab2a41d8448452",
      "span near indexed" ->
        "12 54391f97e70a4d82d6b7d333940398e96f156fe58470ccd4a6ab2a41d8448452",
      "span first scan" ->
        "12 aab7d8db0e614692b223d88fe58b4ef26e70381fe8cbaeab0be124fd12f37159",
      "span first indexed" ->
        "12 aab7d8db0e614692b223d88fe58b4ef26e70381fe8cbaeab0be124fd12f37159",
      "span or-near scan" ->
        "12 51a71d42f54499ef5a08d4b251ffef91cbda89ebeb6b9765c8f4e0288653ee95",
      "span or-near indexed" ->
        "12 51a71d42f54499ef5a08d4b251ffef91cbda89ebeb6b9765c8f4e0288653ee95",
      "span not scan" ->
        "12 6b788281b29947443aaf0cfa60478371595ff2661db5cb152124e0a47dbb6eb4",
      "span not indexed" ->
        "12 6b788281b29947443aaf0cfa60478371595ff2661db5cb152124e0a47dbb6eb4",
      "phrase-prefix scan" ->
        "12 3428520c7fb1c980aa87da2534659e3ca278475f0928cfe3a7c93cfe0e9787ee",
      "phrase-prefix indexed" ->
        "12 3428520c7fb1c980aa87da2534659e3ca278475f0928cfe3a7c93cfe0e9787ee",
      "bool scan" ->
        "12 099df45d8baae80cab713003439efd430c045a0da5fe7535f33ff704f05da3fa",
      "bool indexed" ->
        "12 099df45d8baae80cab713003439efd430c045a0da5fe7535f33ff704f05da3fa",
      "bool-tree scan" ->
        "12 65bfd3290bcb9a7fb0b00b729892241524203ac9a93bcc10b5270b43587baf04",
      "bool-tree indexed" ->
        "12 65bfd3290bcb9a7fb0b00b729892241524203ac9a93bcc10b5270b43587baf04",
      "mlt doc scan" ->
        "12 5370ed72f8549aa0ad6d86e12891eb4cf5e0779268588e9a099f6b793fa90536",
      "mlt text scan" ->
        "12 f3190272a16a03569026c72b780c911a36254bca0ce1c781ab39f360247f7ac8",
      "mlt indexed" ->
        "12 f3190272a16a03569026c72b780c911a36254bca0ce1c781ab39f360247f7ac8",
      "terms-set scan" ->
        "40 3280aa535ab74c2034577a0c48b470859c279e985fa843911b5b6be768222867",
      "function-score scan" ->
        "12 4a773a126b290dd0b05232d2af918b6c65aa7a20156c96fb8b0cf2c79a5354d2",
      "boosting scan" ->
        "12 b525a6f00824e51f974ea044f4e261fa75c83ef6aa4c8ca1d92b25dd4704f92b",
      "collapse scan" ->
        "5 c91ebe1dfa84514d02b78593453345987f0a76d241b4c304f36438895f198f12",
      "rescore scan" ->
        "5 662d9847cef674be9c9f84aa1d76b4ea42615ad7a93e65721abb7d4fabf06cad",
      "has-child max scan" ->
        "8 1d2470bb7cb9dd278020ebc61b6024ba742817e611791fe3299fbff7e84cb7d3",
      "has-child sum scan" ->
        "8 e3ff8aa51053e1f94dd2ef086f4cb60fa9e54b90f81a23ce7b6e862c2adb23b3",
      "top-hits scan" ->
        "14 d37e6dd1263d4806fd7bcecbc02a6b42dfa35fbc70da9c500bdda882e42b172a",
      "explain scan" ->
        "69 6f339f46f4205eb1f9d2ba9247bf397605caf96ce413690841640295c06f19e5",
      "top terms indexed" ->
        "6 967cfc6872f56ce94f8082b9bce5b7b08bafbba326e4ae6e619d08bc165c625d"))
  }

  test("indexed bm25, phrase, phrase-prefix, wildcard and more-like-this " +
      "submit a pinned number of Spark jobs per query") {
    // the serving loop's job count, planning included: a stats or df pass
    // that moves to (or off) the query path changes it. df counts inside
    // the scoring plan (no df job of its own) and the term-dictionary
    // expansion is one map-only job (no dictionary shuffle)
    val dir = java.nio.file.Files.createTempDirectory("graft-pinjobs").toString
    Search.buildPostingsIndex(pinCorpus, "doc_id", "text", dir, buckets = 8)
    val likeText = pinCorpus.filter(col("doc_id") === 7L).head().getString(1)
    val got = Seq(
      "bm25" -> (() => Search.indexedBm25TopK(spark, dir, "spark window merge", 10)),
      "phrase" -> (() => Search.indexedPhraseTopK(spark, dir, "spark window", 10)),
      "phrase_prefix" -> (() => Search.indexedPhrasePrefixTopK(spark, dir, "spark win", 10,
        maxExpansions = 0)),
      "wildcard" -> (() => Search.indexedWildcardTopK(spark, dir, "w?nd*", 10,
        maxExpansions = 0)),
      "mlt" -> (() => Search.indexedMoreLikeThisTopK(spark, dir, likeText, 10,
        minTermFreq = 1, minDocFreq = 2))
    ).map { case (kind, query) =>
      query().collect() // warm the footer and listing caches
      kind -> jobsSubmitted(query().collect()).size
    }
    assert(got.toMap === Map("bm25" -> 4, "phrase" -> 4, "phrase_prefix" -> 5,
      "wildcard" -> 5, "mlt" -> 5))
  }

  test("every scan query kind refuses an empty corpus with 'empty corpus'") {
    // the stats pass reads N before any per-corpus sum: over zero rows
    // Σdl is null, and reading it first failed with ROW_VALUE_IS_NULL
    val empty = pinCorpus.filter(lit(false))
    val q = "spark window"
    import Search.BoolNode._
    val kinds = Seq[(String, () => Any)](
      "bm25" -> (() => Search.bm25TopK(empty, "doc_id", "text", q, 5)),
      "batch" -> (() => Search.bm25TopKBatch(empty, "doc_id", "text",
        Seq((1L, q)).toDF("query_id", "query_text"), 5)),
      "fuzzy" -> (() => Search.fuzzyTopK(empty, "doc_id", "text", q, 5)),
      "prefix" -> (() => Search.prefixTopK(empty, "doc_id", "text", q, 5)),
      "wildcard" -> (() => Search.wildcardTopK(empty, "doc_id", "text", "sp*", 5)),
      "regexp" -> (() => Search.regexpTopK(empty, "doc_id", "text", "sp.*", 5)),
      "multi-field" -> (() => Search.multiFieldTopK(empty, "doc_id",
        Seq(("text", 1.0), ("title", 2.0)), q, 5)),
      "phrase" -> (() => Search.phraseTopK(empty, "doc_id", "text", q, 5)),
      "span near" -> (() => Search.spanNearTopK(empty, "doc_id", "text",
        Seq("spark", "window"), 1, 5)),
      "span first" -> (() => Search.spanFirstTopK(empty, "doc_id", "text", "spark", 3, 5)),
      "span or-near" -> (() => Search.spanOrNearTopK(empty, "doc_id", "text",
        Seq(Seq("spark", "node")), 0, 5)),
      "span not" -> (() => Search.spanNotTopK(empty, "doc_id", "text",
        Seq("spark"), 0, Seq("node"), k = 5)),
      "phrase-prefix" -> (() => Search.phrasePrefixTopK(empty, "doc_id", "text", "spark wi", 5)),
      "bool" -> (() => Search.boolTopK(empty, "doc_id", "text", "spark", k = 5)),
      "bool-tree" -> (() => Search.boolQueryTopK(empty, "doc_id", "text",
        Bool(must = Seq(Term("spark"))), 5)),
      "mlt text" -> (() => Search.moreLikeThisTextTopK(empty, "doc_id", "text",
        "spark spark window", 5, minTermFreq = 1, minDocFreq = 1)),
      "terms-set" -> (() => Search.termsSetTopK(empty, "doc_id", "text",
        Seq("spark"), lit(1), 5)),
      "function-score" -> (() => Search.functionScoreTopK(empty, "doc_id", "text", q, 5,
        fieldFactor = Some(("pop", 0.1)))),
      "boosting" -> (() => Search.boostingTopK(empty, "doc_id", "text", q, "node", 5)),
      "collapse" -> (() => Search.collapseTopK(empty, "doc_id", "text", q, "grp", 5)),
      "rescore" -> (() => Search.rescoreTopK(empty, "doc_id", "text", q, q, 5)),
      "has-child" -> (() => Search.hasChildTopK(empty, "parent_id", "text", q, 5)),
      "top-hits" -> (() => Search.topHitsFacet(empty, "text", q, "doc_id", "grp", 5)),
      "explain" -> (() => Search.explainScore(empty, "doc_id", "text", q)))
    val wrong = kinds.flatMap { case (kind, call) =>
      try { call(); Some(s"$kind: no error") }
      catch {
        case e: IllegalArgumentException if e.getMessage.contains("empty corpus") => None
        case e: Throwable => Some(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("scan more-like-this takes N, Σdl and the candidate dfs from ONE " +
      "stats pass: 2 jobs before the first row") {
    val docs = pinCorpus
    val likeText = docs.filter(col("doc_id") === 7L).head().getString(1)
    def mlt() = Search.moreLikeThisTextTopK(docs, "doc_id", "text", likeText, 10,
      maxQueryTerms = 4, minTermFreq = 1, minDocFreq = 2)
    mlt() // warm
    val jobs = jobsSubmitted(mlt())
    assert(jobs.size === 2, jobs.mkString(", "))
  }

  test("in-plan idf is bit-equal to idfOf: every df in 0..3000 at N = 3000, " +
      "and a sample at N = 5e7") {
    // Spark's own log is StrictMath.log, which differs from idfOf's
    // math.log in the last ulp for some dfs: the in-plan form must be the
    // driver's function, evaluated in a Spark projection
    def mismatches(n: Long, dfs: Seq[Long]): Seq[Long] =
      dfs.toDF("df").select(col("df"), Search.idfCol(n, col("df"))).collect()
        .collect { case r if java.lang.Double.doubleToRawLongBits(r.getDouble(1)) !=
          java.lang.Double.doubleToRawLongBits(Search.idfOf(n, r.getLong(0))) => r.getLong(0) }
    assert(mismatches(3000L, 0L to 3000L) === Nil)
    val big = 50000000L
    val rnd = new scala.util.Random(5)
    val sample = (0L to 2000L) ++ Seq.fill(3000)(rnd.nextLong(big + 1)) ++
      ((big - 2000L) to big)
    assert(mismatches(big, sample) === Nil)
  }

  /** Every node of an executed plan, AQE query stages unwrapped; a reused
    * exchange is listed but not descended (its subtree ran once, where it
    * first appears). */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children.flatMap(planNodes)
    })
  }

  test("every indexed single-query kind scans its pruned postings once: one " +
      "postings FileScan per index, the df side on a ReusedExchange, only " +
      "partial counts through a SinglePartition exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import Search.BoolNode._
    val root = java.nio.file.Files.createTempDirectory("graft-onescan").toString
    val dir = s"$root/text"
    Search.buildPostingsIndex(pinCorpus, "doc_id", "text", dir, buckets = 8)
    Search.buildPostingsIndex(pinCorpus, "doc_id", "title", s"$root/title", buckets = 8)
    val likeText = pinCorpus.filter(col("doc_id") === 7L).head().getString(1)
    val kinds = Seq[(String, Int, () => org.apache.spark.sql.DataFrame)](
      ("bm25", 1, () => Search.indexedBm25TopK(spark, dir, "spark window merge", 10)),
      ("bm25 msm", 1, () => Search.indexedBm25TopK(spark, dir, "spark window merge", 10,
        minShouldMatch = 2)),
      ("fuzzy", 1, () => Search.indexedFuzzyTopK(spark, dir, "spork windw", 10)),
      ("prefix", 1, () => Search.indexedPrefixTopK(spark, dir, "win mer", 10)),
      ("wildcard", 1, () => Search.indexedWildcardTopK(spark, dir, "w?nd* sp*", 10)),
      ("regexp", 1, () => Search.indexedRegexpTopK(spark, dir, "sp[ao]rk", 10)),
      ("multi-field", 2, () => Search.indexedMultiFieldTopK(spark,
        Seq((dir, 1.0), (s"$root/title", 2.0)), "spark merge", 10)),
      ("phrase", 1, () => Search.indexedPhraseTopK(spark, dir, "spark window", 10)),
      ("phrase slop", 1, () => Search.indexedPhraseTopK(spark, dir, "spark window", 10,
        slop = 1)),
      ("span near", 1, () => Search.indexedSpanNearTopK(spark, dir, Seq("spark", "merge"),
        2, 10)),
      ("span first", 1, () => Search.indexedSpanFirstTopK(spark, dir, "merge", 3, 10)),
      ("span or", 1, () => Search.indexedSpanOrNearTopK(spark, dir,
        Seq(Seq("spark"), Seq("window", "node")), 1, 10)),
      ("span not", 1, () => Search.indexedSpanNotTopK(spark, dir, Seq("spark"), 0,
        Seq("node"), k = 10)),
      ("phrase-prefix", 1, () => Search.indexedPhrasePrefixTopK(spark, dir, "spark win", 10)),
      ("bool", 1, () => Search.indexedBoolTopK(spark, dir, "spark", "window", "node")),
      ("bool-tree", 1, () => Search.indexedBoolQueryTopK(spark, dir,
        Bool(must = Seq(Term("spark")), should = Seq(Term("window", 2.0)),
          mustNot = Seq(Term("node"))), 10)),
      ("mlt", 1, () => Search.indexedMoreLikeThisTopK(spark, dir, likeText, 10,
        minTermFreq = 1, minDocFreq = 2)))
    val wrong = kinds.flatMap { case (kind, indexes, query) =>
      val df = query()
      df.collect()
      val nodes = planNodes(df.queryExecution.executedPlan)
      val scans = nodes.count {
        case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains("/postings"))
        case _ => false
      }
      val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
      // a SinglePartition exchange carries one partial count row per task:
      // its child is an aggregate with no grouping key
      val funnels = nodes.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e.child
      }.map {
        case w: WholeStageCodegenExec => w.child
        case o => o
      }.filterNot {
        case a: BaseAggregateExec => a.groupingExpressions.isEmpty
        case _ => false
      }
      Seq(
        if (scans != indexes) Some(s"$kind: $scans postings scans, expected $indexes") else None,
        if (reused < indexes) Some(s"$kind: $reused reused exchanges") else None,
        if (funnels.nonEmpty) Some(s"$kind: rows funnel into one partition through " +
          funnels.map(_.nodeName).mkString(", ")) else None).flatten
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("a second indexed query of the same shape compiles no new classes: " +
      "bm25, phrase and phrase-prefix read idf as data") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen").toString
    Search.buildPostingsIndex(pinCorpus, "doc_id", "text", dir, buckets = 8)
    val shapes = Seq(
      "bm25" -> ((q: String) => Search.indexedBm25TopK(spark, dir, q, 10),
        "spark window merge", "node alpha query"),
      "phrase" -> ((q: String) => Search.indexedPhraseTopK(spark, dir, q, 10),
        "spark window", "merge node"),
      "phrase-prefix" -> ((q: String) => Search.indexedPhrasePrefixTopK(spark, dir, q, 10),
        "spark win", "node win"))
    val compiled = shapes.map { case (kind, (query, first, second)) =>
      query(first).collect()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      query(second).collect()
      kind -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    assert(compiled.forall(_._2 == 0L), compiled.mkString(", "))
  }
}
