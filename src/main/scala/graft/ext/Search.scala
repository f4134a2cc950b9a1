package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.EngineParquet

/**
 * Query-side full-text search over the corpus: BM25 ranking and
 * BM25+vector hybrid fusion (reciprocal-rank fusion), the read-side twin
 * of the bundle sink. The reference engine only BUILDS search indices
 * (hive2es-offline writes ES-compatible shards — see
 * `reference/src/main/scala` bulk-loading path); a user of that engine
 * queries them with BM25/hybrid ranking on the serving side. This module
 * gives the same ranking semantics Spark-side, so curation-time relevance
 * checks ("which training docs would this eval query retrieve?") don't
 * need a serving cluster. Formula is the published Lucene/ES practical
 * BM25: idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
 * score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
 *
 * One match → score → rank core serves every query kind, in its scan
 * form and its indexed form alike; each stage's law lives in one place:
 *  - [[scanScore]], the scan prologue: one tokenization, one stats pass
 *    ([[scanCounts]] reads N first and refuses an empty corpus), the
 *    matched-term count and the score column;
 *  - [[indexRead]], the index prologue: [[readStats]] → the pruned,
 *    post-tombstone postings → the positional-schema check, with no Spark
 *    job; [[tfPivot]] and [[positionPivot]] then turn postings into
 *    per-doc tf / position columns, and [[withIdf]] counts each role's df
 *    over that same pivot inside the scoring plan (one read of the pruned
 *    postings per query) and broadcasts the idfs into it as data;
 *  - [[bm25Term]], THE term score (the association above, on every path:
 *    scan, index, batch, phrase-shaped, explain) — why scan == indexed
 *    holds to the last ulp; [[idfOf]], THE idf — the scan folds it on the
 *    driver, the index evaluates the same function in its plan
 *    ([[idfCol]]);
 *  - [[rankTail]], the cut + rank window of every single-query top-k, and
 *    [[topKPerKey]], the bounded per-key heap of the batch/facet forms.
 *
 * Scale shape (the part that matters at 100 TB):
 *  - [[bm25TopK]] (literal query) is MAP-ONLY + TakeOrderedAndProject:
 *    per-term tf is a codegen'd `size(filter(tokens, = term))` projection —
 *    no explode, no postings shuffle, the corpus is read once and never
 *    moves; the global top-k is Spark's distributed TakeOrdered. The
 *    corpus statistics (N, Σdl, per-term df) are ONE bounded partial+final
 *    aggregate beforehand (|terms|+2 longs to the driver).
 *  - [[bm25TopKBatch]] (query table) is the inverted-postings shape: one
 *    corpus explode → (doc, term, tf) postings, query terms broadcast into
 *    the join, one (query_id, doc_id) aggregation. Postings can be
 *    persisted/bucketed by term for repeated batches.
 *  - [[hybridTopK]] fuses bounded candidate lists (k_cand each), so the
 *    fusion join/window never sees more than 2·k_cand rows.
 *
 * Why the kinds do not read one shared `(doc_id, dl, term, tf)` match
 * source: only the indexed forms can without a plan change (the pruned
 * postings already are that source). The scan forms are map-only
 * projections over the token array — an explode-based source would add
 * the postings Exchange to plans that have none; the phrase, span and
 * phrase-prefix kinds need positions, which that source drops; the
 * relaxed scans (fuzzy/prefix/wildcard/regexp) match tokens by predicate,
 * not by term; and [[bm25TopKBatch]] already builds exactly that source
 * (by explode) because a query table needs the join.
 *
 * Tokenization is the corpus-wide shared law (same as
 * [[Decontaminate.tokenize]]): lowercase, split on whitespace runs, drop
 * empties — documented, not configurable, so index-time and query-time
 * analysis can never disagree (the classic ES mapping pitfall).
 */
object Search {

  /** k1/b defaults per the Lucene/ES practical BM25. */
  case class Bm25Params(k1: Double = 1.2, b: Double = 0.75)

  /** Tokenized text column (the shared analysis law). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), x => x =!= lit(""))

  /** Distinct query terms in FIXED (sorted) order — the score is a float
    * sum built in this order on both the engine and any oracle, so the
    * non-associativity of IEEE addition cannot diverge them. */
  def queryTerms(query: String): Seq[String] =
    query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.sorted.toSeq

  /** THE idf law over an explicit df — exact, relaxed (expansion) and
    * union (span_or) dfs and the MLT term selection all fold through this
    * one scalar form, so every path's float arithmetic is the identical
    * sequence of operations. */
  private[graft] def idfOf(nDocs: Long, df: Long): Double =
    math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))

  /** [[idfOf]] over an in-plan df column: the driver's function itself,
    * evaluated where the df is counted. Not a re-derivation with Spark's
    * `log`, which is `StrictMath.log` and differs from `math.log` in the
    * last ulp for some dfs — so in-plan idf is bit-equal to the driver's. */
  private val idfUdf = udf((nDocs: Long, df: Long) => idfOf(nDocs, df))
  private[graft] def idfCol(nDocs: Long, df: Column): Column = idfUdf(lit(nDocs), df)

  /** Corpus statistics for a bounded term set: one distributed
    * partial+final aggregate, |terms|+2 longs back to the driver. */
  case class CorpusStats(nDocs: Long, totalTokens: Long, df: Map[String, Long]) {
    require(nDocs > 0, "empty corpus")
    def avgdl: Double = totalTokens.toDouble / nDocs
    def idf(term: String): Double = idfOf(nDocs, df.getOrElse(term, 0L))
  }

  def corpusStats(docs: DataFrame, textCol: String, terms: Seq[String]): CorpusStats = {
    val tok = tokens(col(textCol))
    scanStats(docs, tok, terms, array_contains(tok, _))
  }

  /** ONE bounded aggregate over the corpus: N, then `aggs` as longs (a
    * null sum reads 0). N is read FIRST and an empty corpus refused —
    * every sum over zero rows is null. */
  private def scanCounts(docs: DataFrame, aggs: Seq[Column]): (Long, IndexedSeq[Long]) = {
    val row = docs.agg(count(lit(1)), aggs: _*).head()
    require(row.getLong(0) > 0, "empty corpus")
    (row.getLong(0),
      aggs.indices.map(i => if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1)))
  }

  /** [[CorpusStats]] of `terms` in one [[scanCounts]] pass; `has(t)` is
    * the per-doc match test whose count is df(t). */
  private def scanStats(docs: DataFrame, tok: Column, terms: Seq[String],
                        has: String => Column): CorpusStats = {
    val (n, c) = scanCounts(docs, sum(size(tok).cast("long")) +:
      terms.map(t => sum(when(has(t), 1L).otherwise(0L))))
    CorpusStats(n, c.head, terms.zip(c.tail).toMap)
  }

  /** THE BM25 term score: idf · (tf · (k1+1)) / (tf + k1 · ((1 − b) +
    * b · dl/avgdl)), in exactly this association on every path. */
  private def bm25Term(idf: Column, tf: Column, dl: Column, avgdl: Double,
                       p: Bm25Params): Column =
    idf * (tf * lit(p.k1 + 1.0)) /
      (tf + lit(p.k1) * (lit(1.0 - p.b) + lit(p.b) * dl / lit(avgdl)))

  /** Σ [[bm25Term]] over `terms` in GIVEN (sorted) order, left-assoc;
    * `idfOf(t)` reads a term's idf (a driver-folded literal on the scan,
    * an element of the in-plan idf row on the index — [[withIdf]]) and
    * `tfOf(t)` its tf (a token-array projection on the scan, a pivot
    * column on the index). */
  private def termScores(terms: Seq[String], idfOf: String => Column, avgdl: Double,
                         p: Bm25Params, tfOf: String => Column, dl: Column): Column =
    terms.map(t => bm25Term(idfOf(t), tfOf(t), dl, avgdl, p)).reduce(_ + _)

  /** A scan's driver-folded idf, as the literal [[termScores]] reads. */
  private def idfLit(stats: CorpusStats): String => Column = t => lit(stats.idf(t))

  /** The scan prologue's columns over ONE tokenization of the text. */
  private final case class ScanScore(stats: CorpusStats, tok: Column, dl: Column,
                                     tf: String => Column, matched: Column,
                                     score: Column)

  /** The scan prologue: tokens, dl, per-term tf, the number of DISTINCT
    * query terms a doc matches, and its BM25 score over `terms`. A token
    * is an occurrence of `t` by equality, or by `relaxed(token, t)` for
    * the fuzzy/prefix/wildcard/regexp kinds (tf, df and the match count
    * all use it). `stats` reuses an already-run stats pass. */
  private def scanScore(docs: DataFrame, textCol: String, terms: Seq[String],
                        params: Bm25Params,
                        relaxed: Option[(Column, String) => Column] = None,
                        stats: Option[CorpusStats] = None): ScanScore = {
    require(terms.nonEmpty, "empty query")
    val tok = tokens(col(textCol))
    val dl = size(tok).cast("double")
    val (has, eq): (String => Column, (Column, String) => Column) = relaxed match {
      case Some(m) => (t => exists(tok, x => m(x, t)), m)
      case None => (t => array_contains(tok, t), (x, t) => x === lit(t))
    }
    val st = stats.getOrElse(scanStats(docs, tok, terms, has))
    val tf = (t: String) => size(filter(tok, x => eq(x, t))).cast("double")
    ScanScore(st, tok, dl, tf,
      terms.map(t => when(has(t), 1).otherwise(0)).reduce(_ + _),
      termScores(terms, idfLit(st), st.avgdl, params, tf, dl))
  }

  /** THE rank tail of every single-query top-k: the distributed
    * TakeOrdered cut to `k` rows, then `rank` by a window over those ≤ k
    * rows only (never corpus-sized). `keys` is the sort law — by default
    * score desc, ties to the smaller id — and `out` the published
    * columns. */
  private def rankTail(scored: DataFrame, k: Int,
                       keys: Seq[Column] = Seq(col("score").desc, col("doc_id").asc),
                       out: Seq[String] = Seq("doc_id", "rank", "score")): DataFrame =
    scored.orderBy(keys: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(keys: _*)))
      .select(out.map(col): _*)

  /** THE per-key top-k of the batch and facet forms: a bounded
    * partial+final [[graft.functions.TopKAgg]] heap per `key`, not a
    * window partitioned by it (which funnels a key's ENTIRE row set
    * through one task — a stopword query or a dominant facet value at
    * 100 TB makes that corpus-sized). ≤ k rows per (task, key) map-side,
    * ≤ k·tasks shuffled per key. Order (score desc, doc_id asc) via the
    * negated-score struct; −(−x) restores the score exactly (IEEE
    * negation is lossless). `carry` columns ride the heap. */
  private def topKPerKey(scored: DataFrame, key: String, k: Int,
                         score: String = "score",
                         carry: Seq[String] = Nil): DataFrame =
    scored.groupBy(key)
      .agg(graft.functions.TopKAgg.top_k(
        struct((-col(score)).as("ns") +: col("doc_id") +: carry.map(col): _*), k)
        .as("_top"))
      .select(col(key), posexplode(col("_top")))
      .select(Seq(col(key), col("col.doc_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank")) ++
        carry.map(c => col(s"col.$c").as(c)) :+ (-col("col.ns")).as(score): _*)

  /**
   * BM25 top-k for one literal query. Map-only scan (no explode, no
   * shuffle except the distributed TakeOrdered) over a two-action plan:
   * stats aggregate, then score+top-k. Ties break to the smaller id;
   * scores round to `roundTo` decimals (the q24 determinism convention).
   * Only docs matching ≥ `minShouldMatch` DISTINCT terms are ranked (the
   * ES `minimum_should_match` knob; default 1 = the plain OR match).
   *
   * `searchAfter` = the ES `search_after` keyset cursor: the (score,
   * doc_id) sort values of the LAST hit of the previous page. The page
   * keeps only docs strictly after that key in (score desc, doc_id asc)
   * order, so page-2-of-k == rows k+1..2k of a single-shot top-2k,
   * hash-exact — and unlike offset pagination the cursor filter rides
   * the same map-only scan + TakeOrdered (deep pages never sort more
   * than k rows per partition). The comparison uses the ROUNDED score —
   * the published sort key — so a cursor copied from a previous page's
   * output row paginates exactly. `rank` restarts at 1 per page (ES
   * returns hits, not global ranks).
   */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String, query: String,
               k: Int, params: Bm25Params = Bm25Params(),
               roundTo: Int = 4, minShouldMatch: Int = 1,
               searchAfter: Option[(Double, Any)] = None): DataFrame = {
    require(minShouldMatch >= 1, "minShouldMatch must be >= 1")
    bm25TopKWith(docs, idCol, scanScore(docs, textCol, queryTerms(query), params),
      k, roundTo, lit(minShouldMatch), searchAfter)
  }

  /** The scan top-k over a [[scanScore]] prologue: docs matching ≥
    * `minShouldMatch` distinct terms, rounded score, cursor, rank tail —
    * the scan twin of [[indexedBm25TopKWith]]. */
  private def bm25TopKWith(docs: DataFrame, idCol: String, s: ScanScore, k: Int,
                           roundTo: Int, minShouldMatch: Column = lit(1),
                           searchAfter: Option[(Double, Any)] = None): DataFrame =
    rankTail(docs.where(s.matched >= minShouldMatch)
      .select(col(idCol).as("doc_id"), round(s.score, roundTo).as("score"))
      .transform(afterFilter(searchAfter)), k)

  /** The distinct terms of a query table, sorted (bounded by definition:
    * queries are tiny). */
  private def batchTerms(queries: DataFrame): Seq[String] =
    queries.select(explode(array_distinct(tokens(col("query_text")))).as("term"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq

  /** The per-query scoring tail of both batch forms over `(doc_id, dl,
    * term, tf)` postings: the query terms broadcast into the join (never
    * shuffled), idf folds driver-side, each contribution is [[bm25Term]],
    * and the per-(query, doc) sum folds in sorted TERM order — not a
    * commutative sum whose float order follows partitioning; an absent
    * term adds exactly +0.0 on the single-query paths, which IEEE
    * addition cannot distinguish from being skipped — so per query the
    * batch is bit-identical to the single-query forms. The per-query cut
    * is [[topKPerKey]]. */
  private def batchTopK(postings: DataFrame, queries: DataFrame, terms: Seq[String],
                        stats: CorpusStats, k: Int, params: Bm25Params,
                        roundTo: Int): DataFrame = {
    val qTerms = queries.select(col("query_id"),
      explode(array_distinct(tokens(col("query_text")))).as("term"))
    val idfByTerm = typedLit(terms.map(t => t -> stats.idf(t)).toMap)
    val scored = postings
      .join(broadcast(qTerms), Seq("term"))
      .withColumn("idf", element_at(idfByTerm, col("term")))
      .withColumn("contrib",
        bm25Term(col("idf"), col("tf"), col("dl"), stats.avgdl, params))
      .groupBy("query_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("contrib"))))
        .as("_c"))
      .withColumn("score", round(
        expr("aggregate(_c, 0D, (a, x) -> a + x.contrib)"), roundTo))
      .drop("_c")
    topKPerKey(scored, "query_id", k)
  }

  /**
   * Batch BM25: one row per (query_id, doc_id) in the per-query top-k.
   * The inverted-postings shape: corpus explodes ONCE into (doc, term, tf)
   * postings, the (small by definition) query-term table broadcasts into
   * the join, scores aggregate on (query_id, doc_id), per-query top-k via
   * a bounded heap over each query's matched set. `queries` columns:
   * (query_id, query_text).
   */
  def bm25TopKBatch(docs: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, k: Int,
                    params: Bm25Params = Bm25Params(),
                    roundTo: Int = 4): DataFrame = {
    val tok = tokens(col(textCol))
    // postings: (doc_id, dl, term, tf) — distinct terms per doc via the
    // aggregate, so tf rides the explode instead of a second shuffle
    val postings = docs
      .select(col(idCol).as("doc_id"), tok.as("_w"))
      .select(col("doc_id"), size(col("_w")).cast("double").as("dl"),
        explode(col("_w")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    // N, avgdl and per-term df for the UNION of the batch's terms in one
    // map-only aggregate pass (no postings re-scan: the postings lineage
    // is evaluated exactly once, by the scored aggregation)
    val allTerms = batchTerms(queries)
    batchTopK(postings, queries, allTerms, corpusStats(docs, textCol, allTerms),
      k, params, roundTo)
  }

  // ------------------------------------------------------------------
  // Relaxed term matching: fuzzy (edit distance) and prefix queries —
  // the ES `fuzzy` / `prefix` request types
  // ------------------------------------------------------------------

  /** BM25 top-k under a RELAXED token-match predicate: a token counts as
    * an occurrence of query term `t` when `matchTok(token, t)` holds
    * (exact equality gives plain [[bm25TopK]]). tf/df/idf all use the
    * relaxed counts; fold orders are the bm25TopK laws. The indexed twin
    * expands each term against the term dictionary instead
    * ([[indexedRelaxedTopK]]). Same map-only + TakeOrdered shape; the
    * per-token predicate (edit distance, prefix test) is the added CPU,
    * not a shuffle. */
  private def relaxedTopK(docs: DataFrame, idCol: String, textCol: String,
                          terms: Seq[String], k: Int, params: Bm25Params,
                          roundTo: Int)
                         (matchTok: (Column, String) => Column): DataFrame =
    bm25TopKWith(docs, idCol,
      scanScore(docs, textCol, terms, params, relaxed = Some(matchTok)), k, roundTo)

  /**
   * Fuzzy-match top-k (the ES `fuzzy` query): a token matches a query
   * term when their CLASSIC Levenshtein distance is ≤ `fuzziness` —
   * catches typos ("spork" finds "spark" at fuzziness 1). Scoring is the
   * BM25 law over the fuzzy tf/df counts (documented deviation from ES's
   * constant-score prefix family: relevance still carries signal here).
   * Both Spark and DuckDB implement the same classic DP distance, so the
   * law is oracle-exact. Map-only scan; the per-(token, term) distance
   * is the cost knob — keep query terms few.
   */
  def fuzzyTopK(docs: DataFrame, idCol: String, textCol: String,
                query: String, k: Int, fuzziness: Int = 1,
                params: Bm25Params = Bm25Params(),
                roundTo: Int = 4): DataFrame = {
    require(fuzziness >= 0, "fuzziness must be non-negative")
    relaxedTopK(docs, idCol, textCol, queryTerms(query), k, params, roundTo)(
      (x, t) => levenshtein(x, lit(t)) <= fuzziness)
  }

  /**
   * Prefix-match top-k (the ES `prefix` query): a token matches when it
   * STARTS WITH the query term ("win" finds "window"/"winners"). Same
   * BM25-over-relaxed-counts law and map-only shape as [[fuzzyTopK]].
   */
  def prefixTopK(docs: DataFrame, idCol: String, textCol: String,
                 query: String, k: Int, params: Bm25Params = Bm25Params(),
                 roundTo: Int = 4): DataFrame =
    relaxedTopK(docs, idCol, textCol, queryTerms(query), k, params, roundTo)(
      (x, t) => x.startsWith(lit(t)))

  /** Anchored-regex translation of an ES wildcard pattern: `*` matches
    * any (possibly empty) run, `?` exactly one character, everything
    * else is literal (regex metacharacters escaped). Shared by the scan
    * and indexed paths, and simple enough that an oracle's regex engine
    * (DuckDB `regexp_full_match`) agrees on the subset emitted: only
    * `.*`, `.`, escaped literals and plain characters ever appear. */
  private[graft] def wildcardRegex(pattern: String): String =
    pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\^$.|+()[]{}".contains(c) => "\\" + c
      case c => c.toString
    }

  /**
   * Wildcard-match top-k (the ES `wildcard` query): a token matches a
   * query pattern when the WHOLE token matches it — `*` any run, `?`
   * one char (`w?nd*` finds "window"/"windows"). Scoring is the BM25
   * law over the wildcard tf/df counts (same documented deviation from
   * ES's constant-score multi-term family as [[fuzzyTopK]]). Map-only
   * scan + TakeOrdered; the per-token regex is the CPU knob. Patterns
   * are analyzed like query text (lowercased, whitespace-split), so a
   * multi-pattern query ORs its patterns exactly as [[bm25TopK]] ORs
   * terms.
   */
  def wildcardTopK(docs: DataFrame, idCol: String, textCol: String,
                   query: String, k: Int, params: Bm25Params = Bm25Params(),
                   roundTo: Int = 4): DataFrame =
    relaxedTopK(docs, idCol, textCol, queryTerms(query), k, params, roundTo)(
      (x, t) => regexp_like(x, lit("^" + wildcardRegex(t) + "$")))

  // ------------------------------------------------------------------
  // Indexed fuzzy/prefix: term-dictionary expansion — the reason real
  // engines build indices is that queries never touch the raw corpus
  // (the reference's whole design: ESContainer.scala:251-285 ships
  // Lucene indexes precisely so serving never scans Hive). The relaxed
  // query term expands against the VOCABULARY-sized dictionary, then
  // ranks via the pruned `tb=` buckets of the expansion terms.
  // ------------------------------------------------------------------

  /** The index's term dictionary `(term, df)`, summed across build/append/
    * stream deltas. INVARIANT (all maintenance ops preserve it): the
    * dictionary is a SUPERSET of the live vocabulary — extra terms (from
    * tombstoned docs, or duplicates across appends) cost expansion width
    * but never correctness, because relaxed df/tf are recomputed exactly
    * from the pruned post-tombstone postings at query time. df here is
    * therefore ADVISORY: it picks which expansions survive a binding
    * `maxExpansions` cut (deterministically), and is exact only right
    * after a build or compact. Pre-dictionary indexes refuse loudly —
    * `search-compact` (or a rebuild) creates `terms/`. */
  private[graft] def termDictionary(spark: org.apache.spark.sql.SparkSession,
                                    dir: String,
                                    prefilter: Option[Column] = None)
  : DataFrame = {
    val raw = dictionaryDeltas(spark, dir)
    // a term-level prefilter commutes with the per-term df aggregation —
    // applying it BEFORE the groupBy cuts the vocabulary-sized shuffle to
    // candidate terms only (the suggesters' fast path)
    prefilter.fold(raw)(raw.where).groupBy("term").agg(sum(col("df")).as("df"))
  }

  /** The dictionary's raw `(term, df)` rows: one per term per build/
    * append/stream delta, not yet summed. */
  private def dictionaryDeltas(spark: org.apache.spark.sql.SparkSession,
                               dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/terms")
    require(fsOf(spark, dir).exists(p),
      s"postings index at $dir has no term dictionary (terms/): it " +
        "predates the dictionary scheme — rebuild with buildPostingsIndex " +
        "or run search-compact to create it, then retry the fuzzy/prefix query")
    EngineParquet.read(spark, Seq(p.toString))
  }

  /** The dictionary terms each of `preds` matches, with their df summed
    * across deltas — the expansion read of the relaxed, phrase-prefix and
    * MLT kinds. ONE map-only job: `prefilter` (a cheap necessary
    * condition, pushed into the parquet reader) then the OR of `preds`
    * cut the vocabulary to the matching rows, at most (matching terms ×
    * deltas) of them reach the driver, and the per-term df sums there —
    * no vocabulary-sized shuffle. Each result is sorted by term. */
  private def dictionaryMatches(spark: org.apache.spark.sql.SparkSession,
                                dir: String, preds: Seq[Column],
                                prefilter: Option[Column] = None)
      : Seq[Seq[(String, Long)]] = {
    val raw = dictionaryDeltas(spark, dir)
    val rows = prefilter.fold(raw)(raw.where)
      .select(col("term") +: col("df") +: preds: _*)
      .where(preds.reduce(_ || _)).collect()
    preds.indices.map(i => rows.filter(_.getBoolean(i + 2))
      .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _).toSeq.sorted)
  }

  /**
   * Top-N corpus terms by document frequency, straight from the term
   * dictionary — the ES `terms` aggregation over an analyzed text field
   * (`(term, df, rank)`, ties to the lexicographically smaller term).
   * Cost: one vocabulary-sized aggregate + a distributed TakeOrdered —
   * the corpus is never touched. df is EXACT through builds and
   * (disjoint-id) appends/stream commits (batch partials sum to the true
   * count); pending TOMBSTONES are still counted until `search-compact`
   * physically drops them — the same "counts include deleted docs until
   * merge" behavior ES documents for its terms aggregation.
   */
  def indexedTopTerms(spark: org.apache.spark.sql.SparkSession, dir: String,
                      n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    rankTail(termDictionary(spark, dir), n,
      Seq(col("df").desc, col("term").asc), Seq("term", "df", "rank"))
  }

  /** `isin` tolerant of the empty set (zero-arg isin is invalid). */
  private def inSet(c: Column, s: Seq[String]): Column =
    if (s.isEmpty) lit(false) else c.isin(s: _*)

  /** The `search_after` keyset predicate over the (score desc, doc_id
    * asc) sort: keep rows strictly after the cursor. Compares the
    * ROUNDED score (the published sort key), so a cursor copied from a
    * previous page's output row resumes exactly. */
  private def afterFilter(after: Option[(Double, Any)])
                         (scored: DataFrame): DataFrame = after match {
    case Some((s, id)) => scored.where(col("score") < lit(s) ||
      (col("score") === lit(s) && col("doc_id") > lit(id)))
    case None => scored
  }

  /** [[relaxedTopK]] answered from a persisted postings index — the
    * shared machinery of [[indexedFuzzyTopK]] / [[indexedPrefixTopK]].
    * Bit-identical to the scan path (when `maxExpansions` does not bind):
    * each query term expands against the dictionary with the SAME match
    * predicate the scan applies per token, so a doc's relaxed tf is
    * exactly Σ_{e∈expansion} tf(doc, e) and the relaxed df is the count
    * of distinct docs holding ≥1 expansion posting — both recomputed from
    * the pruned, tombstone-anti-joined postings, in ONE plan: the relaxed
    * df is the count of pivot docs with a non-zero relaxed tf
    * ([[withIdf]]), over the same read the scores use. N/avgdl come from
    * the exact stats record. Fold orders are the [[relaxedTopK]] laws
    * (terms sorted, left-assoc sum), so even IEEE addition cannot diverge
    * them.
    *
    * Scale shape: ONE map-only dictionary read ([[dictionaryMatches]]:
    * the matching rows, at most matching terms × dictionary deltas, to the
    * driver, which sums their df — no dictionary shuffle, never the
    * corpus), then the [[indexedBm25TopK]] pruned-bucket read over the
    * expansion terms' `tb=` directories: Σ_e df(e) posting rows instead of
    * the two full corpus scans [[relaxedTopK]] pays. `maxExpansions > 0` caps a
    * runaway expansion (a one-letter prefix) ES-style, keeping the top
    * terms by (advisory df desc, term asc) — a DOCUMENTED deviation from
    * scan equality when it binds. */
  private def indexedRelaxedTopK(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, terms: Seq[String], k: Int,
                                 params: Bm25Params, roundTo: Int,
                                 maxExpansions: Int,
                                 cheap: (Column, String) => Option[Column] =
                                   (_, _) => None)
                                (pred: (Column, String) => Column): DataFrame = {
    require(terms.nonEmpty, "empty query")
    require(maxExpansions >= 0, "maxExpansions must be >= 0 (0 = unlimited)")
    // NECESSARY-condition prefilter (ES walks a Levenshtein automaton over
    // its term index for the same reason): the OR of every query term's
    // cheap test runs BEFORE the exact (DP-levenshtein/regex) predicate,
    // pushed into the dictionary read. Purely an optimization: `cheap`
    // must be implied by `pred`, so the match set is unchanged — BUT the
    // dictionary is shared by ALL terms, so the OR is only a valid
    // prefilter when EVERY term contributed a cheap condition; a term
    // with no cheap test (e.g. a leading-`*` wildcard) must see the full
    // vocabulary, so the prefilter is dropped entirely in that case.
    val cheaps = terms.map(t => cheap(col("term"), t))
    val pre =
      if (cheaps.forall(_.isDefined)) cheaps.flatten.reduceOption(_ || _)
      else None
    // expansion: one map-only dictionary read for every query term (the
    // expansion is at most vocabulary-sized; cap via maxExpansions for
    // serving)
    val matched = dictionaryMatches(spark, dir, terms.zip(cheaps).map {
      case (t, Some(c)) => c && pred(col("term"), t)
      case (t, None) => pred(col("term"), t)
    }, pre)
    val expansion: Map[String, Seq[String]] = terms.zip(matched).map {
      case (t, m) => t -> capExpansion(m, maxExpansions)
    }.toMap
    val allExp = expansion.values.flatten.toSeq.distinct.sorted
    // relaxed per-query-term df: DISTINCT docs holding >= 1 expansion
    // posting — exact by construction over the pruned, post-tombstone
    // postings. Nothing in the vocabulary matching any query term is an
    // empty result, typed off the index's own postings schema (" " can
    // never be a token: the tokenization law splits on whitespace)
    val ir = indexRead(spark, dir, if (allExp.isEmpty) Seq(" ") else allExp)
    if (allExp.isEmpty) return ir.none
    // relaxed tf = Σ tf over the term's expansion postings (a token
    // matches exactly one dictionary term, so the sum IS the scan path's
    // matching-token count); a doc row exists only when >= 1 expansion
    // posting exists, which is exactly the scan's match filter
    pivotTopK(ir, terms, terms.map(t => inSet(col("term"), expansion(t))), k,
      params, roundTo)
  }

  /** The ES `max_expansions` cut: when `maxExpansions > 0` binds, keep
    * the top terms by (advisory df desc, term asc) — deterministic. */
  private def capExpansion(matched: Seq[(String, Long)],
                           maxExpansions: Int): Seq[String] =
    (if (maxExpansions > 0 && matched.length > maxExpansions)
      matched.sortBy { case (t, df) => (-df, t) }.take(maxExpansions)
    else matched).map(_._1)

  /**
   * Fuzzy-match top-k from a persisted postings index — [[fuzzyTopK]]
   * answered from the term dictionary + pruned postings instead of two
   * corpus scans. Bit-identical to the scan path unless `maxExpansions`
   * binds (see [[indexedRelaxedTopK]]). The levenshtein tests run over
   * the VOCABULARY (|dict| strings), not over every token of every doc —
   * the cost profile that makes typo-tolerant serving viable.
   *
   * `maxExpansions` DEFAULTS to 50 (ES parity — `max_expansions`): the
   * expansion is collected to the driver and its postings are unioned, so
   * unlimited expansion of a short high-fuzziness term against a
   * large-corpus vocabulary is a serving-path latency/OOM hazard.
   * Pass 0 to opt in to unlimited (exact scan equality).
   */
  def indexedFuzzyTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                       query: String, k: Int, fuzziness: Int = 1,
                       params: Bm25Params = Bm25Params(), roundTo: Int = 4,
                       maxExpansions: Int = 50): DataFrame = {
    require(fuzziness >= 0, "fuzziness must be non-negative")
    // cheap necessary condition: |len(term) − len(t)| ≤ f (any edit
    // changes length by ≤ 1) — prunes the dictionary before the DP; the
    // exact test uses the THRESHOLD levenshtein (early-exits past f, and
    // returns −1 above it) instead of the full-distance form
    indexedRelaxedTopK(spark, dir, queryTerms(query), k, params, roundTo,
      maxExpansions,
      cheap = (x, t) =>
        Some(abs(length(x) - lit(t.length)) <= lit(fuzziness)))(
      (x, t) => levenshtein(x, lit(t), fuzziness) >= 0)
  }

  /**
   * Prefix-match top-k from a persisted postings index — [[prefixTopK]]
   * via term-dictionary expansion; bit-identical to the scan path unless
   * `maxExpansions` binds (see [[indexedRelaxedTopK]]). Defaults to the
   * ES `max_expansions` cap of 50 — a one-letter prefix expands to a
   * vocabulary-sized driver collect otherwise; pass 0 to opt in to
   * unlimited (exact scan equality).
   */
  def indexedPrefixTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                        query: String, k: Int,
                        params: Bm25Params = Bm25Params(), roundTo: Int = 4,
                        maxExpansions: Int = 50): DataFrame =
    // the prefix test IS already cheap — passing it as the prefilter too
    // pushes it into the dictionary read
    indexedRelaxedTopK(spark, dir, queryTerms(query), k, params, roundTo,
      maxExpansions,
      cheap = (x, t) => Some(x.startsWith(lit(t))))(
      (x, t) => x.startsWith(lit(t)))

  /**
   * Wildcard top-k from a persisted postings index — [[wildcardTopK]]
   * via term-dictionary expansion: each pattern expands against the
   * VOCABULARY with the shared [[wildcardRegex]] full-match law, then
   * ranks from the expansion terms' pruned `tb=` buckets. Bit-identical
   * to the scan path unless `maxExpansions` binds (ES `wildcard` also
   * rewrites through its indexed terms with the same cap family).
   * Defaults to 50 — a leading-`*` pattern is a vocabulary-sized
   * expansion otherwise; pass 0 to opt in to unlimited (exact scan
   * equality).
   */
  def indexedWildcardTopK(spark: org.apache.spark.sql.SparkSession,
                          dir: String, query: String, k: Int,
                          params: Bm25Params = Bm25Params(), roundTo: Int = 4,
                          maxExpansions: Int = 50): DataFrame =
    // cheap necessary condition: the pattern's literal prefix (chars
    // before the first meta) as a startsWith — regex only on survivors
    indexedRelaxedTopK(spark, dir, queryTerms(query), k, params, roundTo,
      maxExpansions,
      cheap = (x, t) => {
        val p = t.takeWhile(c => c != '*' && c != '?')
        if (p.isEmpty) None else Some(x.startsWith(lit(p)))
      })((x, t) => regexp_like(x, lit("^" + wildcardRegex(t) + "$")))

  /** Per-field score combination — the ONE float law shared by the scan
    * and indexed multi-field paths (bit-identity depends on both calling
    * this): most_fields = left-assoc field-order sum; best_fields =
    * greatest, plus `tb · (sum − greatest)` when the dis_max tie_breaker
    * is set (tb = 0 keeps the bare greatest expression). */
  private def combineFieldScores(fieldScores: Seq[Column], mode: String,
                                 tieBreaker: Double): Column = mode match {
    case "most_fields" => fieldScores.reduce(_ + _)
    case "best_fields" =>
      val mx =
        if (fieldScores.length == 1) fieldScores.head
        else greatest(fieldScores: _*)
      if (tieBreaker == 0.0) mx
      else mx + lit(tieBreaker) * (fieldScores.reduce(_ + _) - mx)
  }

  /** Literal prefix of a regex pattern: the chars before the first regex
    * metacharacter — a NECESSARY startsWith condition for a full-match of
    * the pattern (sound only because the prefix is meta-free: every match
    * of `^pat$` starts with it). Empty when the pattern leads with a meta
    * (e.g. `.*ing`) — then NO cheap prefilter exists and the dictionary
    * pass must see the full vocabulary (the r13 leading-`*` lesson: a
    * shared prefilter is only valid when EVERY term contributes one).
    * A TOP-LEVEL alternation voids the prefix entirely: in `cat|dog`
    * the chars before `|` constrain only the LEFT branch — "dog" matches
    * the pattern without starting with "cat" — so any non-empty prefix
    * would drop the other branches' vocabulary. `|` inside a group
    * (`wind(ow|y)`) is fine: takeWhile already stopped at `(`, and the
    * group's matches all still start with the literal head. */
  private[graft] def regexLiteralPrefix(pattern: String): String = {
    var depth = 0; var inClass = false; var esc = false
    var topAlt = false
    pattern.foreach { c =>
      if (esc) esc = false
      else c match {
        case '\\'                              => esc = true
        case '[' if !inClass                   => inClass = true
        case ']' if inClass                    => inClass = false
        case '(' if !inClass                   => depth += 1
        case ')' if !inClass && depth > 0      => depth -= 1
        case '|' if !inClass && depth == 0     => topAlt = true
        case _                                 => ()
      }
    }
    if (topAlt) ""
    else pattern.takeWhile(c => !"\\^$.|?*+()[]{}".contains(c))
  }

  /**
   * Regexp-match top-k (the ES `regexp` query, the `wildcard` sibling):
   * a token matches a query pattern when the WHOLE token matches it —
   * the ES/Lucene regexp convention of implicit anchoring (`sp[aeiou]rk`
   * finds "spark"/"spork"; `wind(ow|y)` finds "window" only as
   * `wind(ow|y).*`-style patterns would). Scoring is the BM25 law over
   * the regexp tf/df counts (the [[fuzzyTopK]] documented deviation from
   * ES's constant-score multi-term family). Map-only scan + TakeOrdered;
   * the per-token regex is the CPU knob. Patterns are analyzed like
   * query text (lowercased, whitespace-split), so a multi-pattern query
   * ORs its patterns exactly as [[bm25TopK]] ORs terms. Use the portable
   * subset (classes, alternation, quantifiers) if an external engine
   * must agree on matches.
   */
  def regexpTopK(docs: DataFrame, idCol: String, textCol: String,
                 query: String, k: Int, params: Bm25Params = Bm25Params(),
                 roundTo: Int = 4): DataFrame =
    relaxedTopK(docs, idCol, textCol, queryTerms(query), k, params, roundTo)(
      (x, t) => regexp_like(x, lit("^(?:" + t + ")$")))

  /**
   * Regexp top-k from a persisted postings index — [[regexpTopK]] via
   * term-dictionary expansion: each pattern full-matches against the
   * VOCABULARY, then ranks from the expansion terms' pruned `tb=`
   * buckets. Bit-identical to the scan path unless `maxExpansions` binds
   * (defaults to 50 — a `.*`-leading pattern is a vocabulary-sized
   * expansion otherwise; pass 0 for unlimited / exact scan equality).
   * The cheap prefilter is the pattern's literal prefix when one is
   * extractable; a prefixless pattern drops the prefilter entirely
   * (see [[indexedRelaxedTopK]] — the OR-prefilter validity rule).
   */
  def indexedRegexpTopK(spark: org.apache.spark.sql.SparkSession,
                        dir: String, query: String, k: Int,
                        params: Bm25Params = Bm25Params(), roundTo: Int = 4,
                        maxExpansions: Int = 50): DataFrame =
    indexedRelaxedTopK(spark, dir, queryTerms(query), k, params, roundTo,
      maxExpansions,
      cheap = (x, t) => {
        val p = regexLiteralPrefix(t)
        if (p.isEmpty) None else Some(x.startsWith(lit(p)))
      })((x, t) => regexp_like(x, lit("^(?:" + t + ")$")))

  /**
   * Multi-field BM25 top-k — the ES `multi_match` query over weighted
   * fields: each field is scored with ITS OWN statistics (df/avgdl per
   * field, the ES per-field index semantics; null text = empty tokens)
   * and the document score combines per `mode`:
   *  - `"most_fields"` (default): Σ_f boost_f · bm25_f — fields ADD
   *    evidence (the same entity described in several fields);
   *  - `"best_fields"`: max_f boost_f · bm25_f — the dis_max form,
   *    fields COMPETE (the match lives in one field). `tieBreaker` (the
   *    ES dis_max / multi_match `tie_breaker`, default 0, common usage
   *    0.3) lets the non-best fields contribute: score = max + tb · (Σ_f
   *    − max), algebraically max + tb·Σ(others) but pinned in THIS float
   *    form (Σ_f is the left-assoc field-order sum, max is `greatest`)
   *    so an oracle reproduces it; tb = 0 keeps the bare `greatest`
   *    expression — bit-identical to the pre-knob behavior.
   * Docs matching ≥1 term in ≥1 field qualify. Fold orders are pinned:
   * terms sorted within a field, fields combined in GIVEN order (sum is
   * left-assoc; max is `greatest`), so an oracle reproduces the float
   * arithmetic exactly.
   *
   * Scale shape: the [[bm25TopK]] twin — per-field stats ride ONE bounded
   * partial+final aggregate (|fields|·(|terms|+1)+1 longs), scoring is a
   * pure projection over each field's token array, the global top-k is
   * the distributed TakeOrdered. Map-only; the corpus never shuffles.
   */
  def multiFieldTopK(docs: DataFrame, idCol: String,
                     fields: Seq[(String, Double)], query: String, k: Int,
                     mode: String = "most_fields",
                     params: Bm25Params = Bm25Params(),
                     roundTo: Int = 4,
                     tieBreaker: Double = 0.0): DataFrame = {
    val terms = multiFieldTerms(fields, mode, tieBreaker, query)
    // per-field stats in ONE aggregate pass: N once, then (Σdl, df...)
    // per field — tokens(null text) is null, so sizes/contains coalesce
    val toks = fields.map { case (f, _) => tokens(col(f)) }
    val (nDocs, c) = scanCounts(docs, toks.flatMap { tok =>
      sum(coalesce(size(tok).cast("long"), lit(0L))) +:
        terms.map(t => sum(when(array_contains(tok, t), 1L).otherwise(0L)))
    })
    val fieldScores = toks.zip(fields).zipWithIndex.map { case ((tok, (_, boost)), fi) =>
      val base = fi * (1 + terms.length)
      // a DEAD field (empty/null across the whole corpus) has avgdl = 0:
      // its length norm would divide 0.0/0.0 = NaN and poison the combined
      // score for EVERY matched doc — skip it driver-side (it can match
      // nothing anyway), contributing exactly +0.0 like an absent term
      if (c(base) == 0L) lit(0.0)
      else {
        val stats = CorpusStats(nDocs, c(base),
          terms.zip(c.slice(base + 1, base + 1 + terms.length)).toMap)
        // null-field rows score +0.0 for this field (tf reads coalesce to 0)
        val tf0 = coalesce(tok, array().cast("array<string>"))
        lit(boost) * termScores(terms, idfLit(stats), stats.avgdl, params,
          t => size(filter(tf0, x => x === lit(t))).cast("double"),
          coalesce(size(tok).cast("double"), lit(0.0)))
      }
    }
    val matched = toks.flatMap(tok =>
      terms.map(t => when(array_contains(tok, t), 1).otherwise(0))).reduce(_ + _)
    rankTail(docs.where(matched > 0).select(col(idCol).as("doc_id"),
      round(combineFieldScores(fieldScores, mode, tieBreaker), roundTo).as("score")), k)
  }

  /** The multi-field argument laws shared by both forms; the analyzed
    * query terms. */
  private def multiFieldTerms(fields: Seq[(String, Double)], mode: String,
                              tieBreaker: Double, query: String): Seq[String] = {
    require(fields.nonEmpty, "need at least one (field, boost)")
    require(mode == "most_fields" || mode == "best_fields",
      s"unknown multi-field mode '$mode' (most_fields | best_fields)")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tie_breaker must be in [0, 1]: got $tieBreaker")
    require(tieBreaker == 0.0 || mode == "best_fields",
      "tie_breaker only applies to best_fields (dis_max); " +
        "most_fields already sums every field")
    val terms = queryTerms(query)
    require(terms.nonEmpty, "empty query")
    terms
  }

  /**
   * Multi-field BM25 top-k from persisted postings indexes — the
   * [[multiFieldTopK]] semantics answered from one STANDING index per
   * field (`fields` = (index dir, boost) in scoring order). Each field's
   * list rides its own pruned `tb=` read + pivot with in-plan df + scoring
   * (the [[indexedBm25TopK]] machinery verbatim, boost applied
   * outside the term sum like the scan path); fields combine per `mode`
   * over a full-outer join of the bounded per-field MATCH SETS (a doc
   * absent from a field contributes exactly +0.0 — IEEE-identical to the
   * scan path's computed zero), so the output is BIT-IDENTICAL to
   * [[multiFieldTopK]] over the source corpus. A DEAD field (zero tokens
   * corpus-wide) is skipped driver-side, mirroring the scan guard.
   *
   * Contract: every field index was built (and is maintained — appends,
   * tombstones) over the SAME corpus; the per-index doc counts are
   * cross-checked loudly. Scale shape: |fields| pruned reads (Σ_t df_f(t)
   * rows each), joins over match-set-sized frames only, distributed
   * TakeOrdered — the corpus never scans.
   */
  def indexedMultiFieldTopK(spark: org.apache.spark.sql.SparkSession,
                            fields: Seq[(String, Double)], query: String,
                            k: Int, mode: String = "most_fields",
                            params: Bm25Params = Bm25Params(),
                            roundTo: Int = 4,
                            tieBreaker: Double = 0.0): DataFrame = {
    val terms = multiFieldTerms(fields, mode, tieBreaker, query)
    val statsPerField = fields.map { case (dir, _) => readStats(spark, dir) }
    val nDocs = statsPerField.map(_._1).distinct
    require(nDocs.size == 1,
      s"field indexes disagree on corpus size (${nDocs.mkString(", ")}): " +
        "multi-field indexes must be built and maintained over the SAME corpus")
    val perField: Seq[Option[DataFrame]] =
      fields.zip(statsPerField).zipWithIndex.map { case (((dir, boost), st), fi) =>
        // dead field (avgdl = 0): skipped, contributing exactly +0.0 (the
        // multiFieldTopK driver-side guard)
        if (st._2 == 0L) None
        else {
          val ir = indexRead(spark, dir, terms, indexStats = Some(st))
          Some(tfPivot(ir, terms.map(isTerm)).select(col("doc_id"),
            (lit(boost) * termScores(terms, pivotIdf(terms), ir.avgdl, params,
              pivotCol("_tf", terms), col("dl"))).as(s"_s$fi")))
        }
      }
    val present = perField.flatten
    require(present.nonEmpty,
      "every field index is empty (zero tokens corpus-wide)")
    val joined = present.reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    // combine in GIVEN field order; a dead/absent field is exactly +0.0
    val fieldScores = fields.indices.map { fi =>
      if (perField(fi).isEmpty) lit(0.0)
      else coalesce(col(s"_s$fi"), lit(0.0))
    }
    rankTail(joined.select(col("doc_id"),
      round(combineFieldScores(fieldScores, mode, tieBreaker), roundTo).as("score")), k)
  }

  /** Cosine top-k against ONE literal query vector: map-only scoring +
    * distributed TakeOrdered, rank window over the bounded result (the
    * same shape as [[bm25TopK]]). Rows are unitized; the query vector is
    * unitized driver-side with the same sequential-sum law. */
  def cosineTopK(vecs: DataFrame, idCol: String, vecCol: String,
                 queryVec: Seq[Double], k: Int, roundTo: Int = 4): DataFrame = {
    val nrm = math.sqrt(queryVec.foldLeft(0.0)((a, x) => a + x * x))
    val qv = if (nrm > 0) queryVec.map(_ / nrm) else queryVec
    val qCol = array(qv.map(lit): _*)
    rankTail(vecs.select(col(idCol).as("doc_id"),
      round(Similarity.dot(
        Similarity.unitize(col(vecCol).cast("array<double>")), qCol),
        roundTo).as("score")), k)
  }

  /**
   * Batch cosine top-k: one row per (query_id, doc_id) in each query's
   * top-k by exact cosine. `queryVecs` columns: (query_id, vec). Both
   * sides unitize with the shared kernel; scores round to `roundTo`,
   * ties to the smaller doc_id (the [[cosineTopK]] law per query).
   *
   * Scale shape: the (small by definition) query-vector table BROADCASTS
   * into a nested-loop join against the corpus — the corpus is read once
   * and never shuffles — and the per-query top-k is the bounded
   * [[graft.functions.TopKAgg]] partial+final heap, so no task ever
   * holds more than k rows per query.
   */
  def cosineTopKBatch(vecs: DataFrame, idCol: String, vecCol: String,
                      queryVecs: DataFrame, qidCol: String, qvecCol: String,
                      k: Int, roundTo: Int = 4): DataFrame = {
    val qv = queryVecs.select(col(qidCol).as("query_id"),
      Similarity.unitize(col(qvecCol).cast("array<double>")).as("_qv"))
    val scored = vecs
      .select(col(idCol).as("doc_id"),
        Similarity.unitize(col(vecCol).cast("array<double>")).as("_rv"))
      .crossJoin(broadcast(qv))
      .select(col("query_id"), col("doc_id"),
        round(Similarity.dot(col("_rv"), col("_qv")), roundTo).as("score"))
    topKPerKey(scored, "query_id", k)
  }

  /**
   * Batch hybrid BM25 + vector search — [[hybridTopK]] for a query TABLE:
   * `queries` (query_id, query_text) drive [[bm25TopKBatch]], `queryVecs`
   * (query_id, vec) drive [[cosineTopKBatch]], and each query's two
   * bounded candidate lists fuse with the same RRF arithmetic. One row
   * per (query_id, doc_id) in each query's fused top-k. Per query the
   * result equals the single-query [[hybridTopK]] exactly (spec law).
   *
   * Scale shape: two corpus passes total (postings explode + vector
   * scan) for the WHOLE batch, queries broadcast into both, every
   * per-query cut is a bounded k-heap — no rank window anywhere, so
   * neither a stopword term nor the fusion can create a corpus-sized
   * single-task sort.
   */
  def hybridTopKBatch(docs: DataFrame, idCol: String, textCol: String,
                      vecs: DataFrame, vecIdCol: String, vecCol: String,
                      queries: DataFrame, queryVecs: DataFrame,
                      k: Int, kCand: Int = 50, rrfK: Int = 60,
                      params: Bm25Params = Bm25Params()): DataFrame = {
    val bm = bm25TopKBatch(docs, idCol, textCol, queries, kCand, params)
      .select(col("query_id"), col("doc_id"), col("rank").as("bm25_rank"))
    val vc = cosineTopKBatch(vecs, vecIdCol, vecCol, queryVecs,
        "query_id", "vec", kCand)
      .select(col("query_id"), col("doc_id"), col("rank").as("vec_rank"))
    rrfFuseBatch(bm, vc, k, rrfK)
  }

  /** THE batch RRF fusion tail — one definition for the scan
    * ([[hybridTopKBatch]]) and standing-index
    * ([[hybridTopKIndexedBatch]]) batch paths, as [[rrfFuse]] is for the
    * single-query paths. Inputs are bounded per-query candidate lists
    * (≤ kCand rows each); the per-query cut is the TopKAgg heap — no
    * rank window. */
  private def rrfFuseBatch(bm: DataFrame, vc: DataFrame, k: Int,
                           rrfK: Int): DataFrame = {
    topKPerKey(bm.join(vc, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", rrfScoreCol(rrfK)), "query_id", k,
      "rrf_score", Seq("bm25_rank", "vec_rank"))
  }

  /**
   * Batch hybrid search against STANDING indexes — the full serving-loop
   * composition: the whole batch's BM25 candidates ride ONE pruned
   * postings read ([[indexedBm25TopKBatch]]), the vector candidates come
   * from the ANN index's probed cells ([[Similarity.indexTopK]] is
   * batch-native), and each query's fusion is the shared
   * [[rrfFuseBatch]] heap — a q-query serving batch touches ZERO corpus
   * scans and no rank windows. Per query the result equals
   * [[hybridTopKIndexed]] with that query's id as `syntheticQid` (spec
   * law), and at full-fidelity ANN knobs equals the scan-path
   * [[hybridTopKBatch]].
   *
   * Contract: `queries` (query_id, query_text) and `queryVecs`
   * (query_id, vec) share the id space, and those query_ids must NOT
   * collide with any indexed corpus id — the ANN join self-excludes
   * qid == nid (use negative ids for ad-hoc batches over a non-negative
   * corpus).
   */
  def hybridTopKIndexedBatch(spark: org.apache.spark.sql.SparkSession,
                             postingsDir: String, annDir: String,
                             queries: DataFrame, queryVecs: DataFrame,
                             k: Int, kCand: Int = 50, rrfK: Int = 60,
                             params: Bm25Params = Bm25Params(),
                             nprobe: Int = -1, rerankFactor: Int = 64,
                             rerankCorpus: Option[DataFrame] = None,
                             rerankIdCol: String = "",
                             rerankVecCol: String = ""): DataFrame = {
    val bm = indexedBm25TopKBatch(spark, postingsDir, queries, kCand, params)
      .select(col("query_id"), col("doc_id"), col("rank").as("bm25_rank"))
    val vc = Similarity.indexTopK(
        queryVecs.select(col("query_id").as("qid"), col("vec").as("qv")),
        annDir, "qid", "qv", kCand,
        nprobe = nprobe, rerankFactor = rerankFactor,
        rerankCorpus = rerankCorpus, rerankIdCol = rerankIdCol,
        rerankVecCol = rerankVecCol)
      .select(col("qid").as("query_id"), col("nid").as("doc_id"),
        col("rank").as("vec_rank"))
    rrfFuseBatch(bm, vc, k, rrfK)
  }

  // ------------------------------------------------------------------
  // Persisted postings index: build once, query many
  // ------------------------------------------------------------------
  //
  // The read-side analog of the persisted ANN index (`Similarity.buildIndex`
  // family): [[bm25TopK]] costs two full corpus scans per query, which is
  // the right shape for one-off curation checks but not for a standing
  // eval-retrieval loop over a frozen 100 TB corpus. The index pays ONE
  // corpus explode at build time and stores (term, doc_id, tf, dl)
  // postings hash-partitioned into `tb=<bucket>` directories; a query then
  // opens ONLY the buckets its terms hash to (explicit pruned paths, the
  // indexTopK listing discipline — no full-tree InMemoryFileIndex) and
  // reads Σ_t df(t) posting rows instead of the corpus. Results are
  // BIT-IDENTICAL to [[bm25TopK]] on the source corpus: df/N/avgdl are
  // exact (not sketched), and the score is assembled with the same
  // fixed-term-order float sum (per-term pivot columns added left to
  // right), so even IEEE non-associativity cannot diverge them.

  /** Postings layout version + corpus stats, stored as a tiny parquet
    * (house convention: `Similarity.buildIndex` model/stats tables).
    * The `tomb_*` triple records which tombstone GENERATION has already
    * been folded into these base numbers — the crash-window seam between
    * [[compactPostingsIndex]]'s stats rewrite and its `deletes/` removal:
    * [[readStats]] subtracts only the UN-folded part of the pending
    * delete mass, so base-net-plus-still-present-deletes can never
    * double-subtract (see the epoch rule there). Published through
    * [[graft.sink.FsAtomic.replaceDir]]: nothing can rebuild the record
    * exactly (N counts empty docs), so a crash mid-write must leave the
    * previous one. */
  private def writeStats(spark: org.apache.spark.sql.SparkSession, dir: String,
                         nDocs: Long, totalTokens: Long, buckets: Int,
                         tombEpoch: Long = -1L, tombDocs: Long = 0L,
                         tombTokens: Long = 0L,
                         foldedBatch: Long = -1L): Unit = {
    import spark.implicits._
    val rec = Seq((nDocs, totalTokens, buckets, tombEpoch, tombDocs, tombTokens,
        foldedBatch))
      .toDF("n_docs", "total_tokens", "buckets",
        "tomb_epoch", "tomb_docs", "tomb_tokens", "folded_batch")
    graft.sink.FsAtomic.replaceDir(fsOf(spark, dir),
      new org.apache.hadoop.fs.Path(s"$dir/stats"))(p => rec.write.parquet(p.toString))
  }

  /** The highest streaming-delta batch id a completed compaction already
    * folded into the base record (−1 on pre-scheme indexes): [[readStats]]
    * counts only deltas beyond it. NOTE: a NEW streaming checkpoint
    * restarts batch ids at 0 — compact (which clears both the deltas and
    * this marker's relevance) before attaching a fresh checkpoint to an
    * index that already folded higher ids. */
  private def readFoldedBatch(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Long =
    foldedBatchOf(statsRecord(spark, dir))

  private def foldedBatchOf(r: org.apache.spark.sql.Row): Long =
    if (r.schema.fieldNames.contains("folded_batch"))
      r.getAs[Long]("folded_batch")
    else -1L

  /** The one row of a record table ([[writeStats]], the deletes record),
    * read on the driver — no Spark job. */
  private def record(spark: org.apache.spark.sql.SparkSession,
                     path: String): org.apache.spark.sql.Row =
    EngineParquet.rows(spark, path).headOption.getOrElse(
      throw new IllegalStateException(s"no record in $path"))

  private def statsRecord(spark: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.Row = {
    graft.sink.FsAtomic.heal(fsOf(spark, dir),
      new org.apache.hadoop.fs.Path(s"$dir/stats"))
    record(spark, s"$dir/stats")
  }

  /** Full base record incl. the folded-tombstone triple (absent on
    * pre-tombstone indexes → (-1, 0, 0): no generation folded yet). */
  private def readBaseStatsFull(spark: org.apache.spark.sql.SparkSession,
                                dir: String)
      : (Long, Long, Int, Long, Long, Long) =
    baseStatsOf(statsRecord(spark, dir))

  private def baseStatsOf(r: org.apache.spark.sql.Row)
      : (Long, Long, Int, Long, Long, Long) = {
    val has = r.schema.fieldNames.contains("tomb_epoch")
    (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
      r.getAs[Int]("buckets"),
      if (has) r.getAs[Long]("tomb_epoch") else -1L,
      if (has) r.getAs[Long]("tomb_docs") else 0L,
      if (has) r.getAs[Long]("tomb_tokens") else 0L)
  }

  /** Build/append-owned base stats only (streaming batch deltas excluded —
    * [[appendToPostingsIndex]] rewrites THIS record, so it must not fold
    * the idempotent per-batch deltas in or a later read would double
    * count them). */
  private[graft] def readBaseStats(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): (Long, Long, Int) = {
    val (n, t, b, _, _, _) = readBaseStatsFull(spark, dir)
    (n, t, b)
  }

  /** Effective corpus stats: base build/append record plus the streaming
    * maintainer's per-batch deltas (`batch_stats/batch=N`, each written
    * idempotently by [[graft.streaming.PostingsIndexStream]]), MINUS the
    * pending tombstones' UN-FOLDED mass ([[deleteFromPostingsIndex]]) —
    * so N and avgdl are exactly those of corpus \ deleted.
    *
    * Epoch rule (the compaction crash-window seam): the deletes record
    * carries a generation `epoch`; the base record remembers which epoch
    * (and how much of its mass) a completed stats-fold already absorbed
    * (`tomb_*`). Same epoch ⇒ subtract only the part beyond the folded
    * amount (0 right after a compact whose `deletes/` removal hasn't
    * happened yet — no double subtraction); different epoch ⇒ the whole
    * pending mass (a fresh generation, nothing folded). */
  private[graft] def readStats(spark: org.apache.spark.sql.SparkSession,
                               dir: String): (Long, Long, Int) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    // readers heal an interrupted tombstone swap too (statsRecord heals
    // the stats record's): without this, a crash inside the delete path's
    // swap would serve the index with ZERO tombstones (takedowns
    // resurface) until some maintenance op happened to run
    healDeletes(fs, dir)
    val base = statsRecord(spark, dir)
    val (n0, t0, buckets, fe, fd, ft) = baseStatsOf(base)
    val bs = new org.apache.hadoop.fs.Path(s"$dir/batch_stats")
    val (n1, t1) =
      if (!fs.exists(bs)) (n0, t0)
      else {
        // only deltas NEWER than what the base record already folded
        // (folded_batch, written by compaction's stats fold — a crash
        // before the delta-dir removal cannot double-count); each
        // `batch=N` delta is a one-row record read on the driver
        val foldedBatch = foldedBatchOf(base)
        val deltas = fs.listStatus(bs).toSeq.filter { st =>
          val name = st.getPath.getName
          st.isDirectory && name.startsWith("batch=") &&
            name.stripPrefix("batch=").toLongOption.exists(_ > foldedBatch)
        }.flatMap(st => EngineParquet.rows(spark, st.getPath.toString))
        (n0 + deltas.map(_.getAs[Long]("n_docs")).sum,
          t0 + deltas.map(_.getAs[Long]("total_tokens")).sum)
      }
    deleteStats(spark, dir) match {
      case None => (n1, t1, buckets)
      case Some((dDocs, dTokens, epoch)) if epoch == fe =>
        (n1 - (dDocs - fd), t1 - (dTokens - ft), buckets)
      case Some((dDocs, dTokens, _)) =>
        (n1 - dDocs, t1 - dTokens, buckets)
    }
  }

  /** Filesystem of an index directory (one line everywhere). */
  private def fsOf(spark: org.apache.spark.sql.SparkSession,
                   dir: String): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** The term→bucket law, shared executor/driver side: Spark's seed-42
    * xxhash64 over UTF-8 (== [[Decontaminate.BenchmarkSet.hashGram]]),
    * floorMod into `buckets`. The driver uses it to compute which `tb=`
    * directories a query must open WITHOUT touching the index. */
  def termBucket(term: String, buckets: Int): Int =
    java.lang.Math.floorMod(Decontaminate.BenchmarkSet.hashGram(term),
      buckets.toLong).toInt

  /**
   * Build a persisted postings index at `dir`: one corpus explode →
   * distinct (term, doc_id, tf, dl) postings, hash-partitioned by
   * [[termBucket]] into `postings/tb=<b>/`, plus exact corpus stats.
   * `buckets` bounds query-time listing (a query opens ≤ |terms| bucket
   * dirs); more buckets = finer pruning, more files. The explode is the
   * build's only shuffle and runs once per corpus version — the
   * incremental path is [[appendToPostingsIndex]].
   */
  def buildPostingsIndex(docs: DataFrame, idCol: String, textCol: String,
                         dir: String, buckets: Int = 64,
                         positional: Boolean = true): Unit = {
    require(buckets > 0, "buckets must be positive")
    val spark = docs.sparkSession
    // the corpus token total rides the postings write as an observe()
    // metric (sum(tf) over the written entries == sum(size(tokens)) over
    // the corpus: empty/null-text docs contribute no entries and no
    // tokens), so the stats publish below needs NO second tokenize pass —
    // the old `docs.agg(count, sum(size(tokens)))` re-scanned and
    // re-tokenized the whole corpus once per build (guide §1.2: don't
    // compute things twice). tf is an exact integer carried as double:
    // the sum stays exact below 2^53 tokens.
    val obsTok = org.apache.spark.sql.Observation()
    postings(docs, idCol, textCol, buckets, positional)
      .transform(boundBuildFiles(_))
      .observe(obsTok, coalesce(sum(col("tf")), lit(0.0)).as("_tt"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$dir/postings")
    // term dictionary for relaxed (fuzzy/prefix) query expansion: one
    // bounded aggregate over the JUST-WRITTEN postings (vocabulary-sized
    // output; re-reading the index back is cheaper than a second corpus
    // explode). df here is ADVISORY — see [[termDictionary]]. An
    // all-empty corpus (every text null/empty — e.g. a dead field in a
    // multi-field layout) writes NO postings part files, so the
    // read-back would fail schema inference: write the typed empty
    // dictionary explicitly.
    val emptyCorpus = indexFlavor(spark, dir).isEmpty
    (if (emptyCorpus)
       spark.createDataFrame(
         spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
         org.apache.spark.sql.types.StructType(Seq(
           org.apache.spark.sql.types.StructField("term",
             org.apache.spark.sql.types.StringType),
           org.apache.spark.sql.types.StructField("df",
             org.apache.spark.sql.types.LongType))))
     else spark.read.parquet(s"$dir/postings")
       .groupBy("term").agg(count(lit(1)).as("df")))
      .write.mode("overwrite").parquet(s"$dir/terms")
    // nDocs counts EVERY corpus row (empty/null texts included — the BM25
    // N the scan path uses): a bare count() is satisfied from parquet
    // row-group metadata / cached partition counts, no tokenize
    val totalTokens = obsTok.get("_tt") match {
      case d: java.lang.Double => d.toLong
      case other => other.asInstanceOf[Number].longValue()
    }
    writeStats(spark, dir, docs.count(), totalTokens, buckets)
  }

  /** Incremental maintenance (the ann-append story): NEW docs' postings
    * append into the matching `tb=` partitions — one bounded pass over the
    * new rows only — and the exact corpus stats re-publish. Ids must be
    * disjoint from the indexed corpus (the caller's contract, as with
    * every dedup/append operator here). Offline maintenance op: a query
    * racing the stats re-publish may see pre-append statistics, same
    * read-vs-maintenance contract as `ann-append`. */
  def appendToPostingsIndex(docs: DataFrame, idCol: String, textCol: String,
                            dir: String): Unit = {
    val spark = docs.sparkSession
    // appends CONFORM to the index's own flavor (positional or BM25-only):
    // mixed schemas would silently break phrase queries for pre-upgrade
    // docs (their null positions read as "term absent"), so the flavor is
    // sniffed from one data-file footer and the new postings are built to
    // match. An empty index defaults to positional.
    val positional = indexFlavor(spark, dir).getOrElse(true)
    requireNotTombstoned(spark, dir, docs.select(col(idCol).as("doc_id")))
    val (n0, t0, buckets, fe, fd, ft) = readBaseStatsFull(spark, dir)
    // keep the term dictionary a SUPERSET of the live vocabulary (the
    // [[termDictionary]] invariant): append the new batch's terms BEFORE
    // the postings land. Crash-ordering matters — an over-full dictionary
    // (terms written, postings crash) is always safe under the superset
    // contract, while the reverse order leaves relaxed queries silently
    // under-expanding against the appended docs' novel terms until a
    // search-compact rebuilds the dictionary. An index built before the
    // dictionary scheme has no terms/ — appending a PARTIAL dictionary
    // there would itself break the superset invariant, so skip (relaxed
    // queries refuse until a search-compact rebuilds the full dictionary).
    if (fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(s"$dir/terms")))
      postings(docs, idCol, textCol, buckets, positional = false)
        .groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("append").parquet(s"$dir/terms")
    // token-total delta rides the append write (same observe() trick as
    // [[buildPostingsIndex]] — no extra tokenize pass over the new docs)
    val obsTok = org.apache.spark.sql.Observation()
    postings(docs, idCol, textCol, buckets, positional)
      .transform(boundBuildFiles(_))
      .observe(obsTok, coalesce(sum(col("tf")), lit(0.0)).as("_tt"))
      .write.mode("append").partitionBy("tb").parquet(s"$dir/postings")
    val dTok = obsTok.get("_tt") match {
      case d: java.lang.Double => d.toLong
      case other => other.asInstanceOf[Number].longValue()
    }
    // base rewrite preserves the folded-tombstone triple AND the folded
    // streaming-batch watermark (readStats' double-count guards) — an
    // append must not forget what a prior compaction already folded
    writeStats(spark, dir, n0 + docs.count(), t0 + dTok, buckets,
      fe, fd, ft, readFoldedBatch(spark, dir))
  }

  /** Refuse to re-ingest a currently-TOMBSTONED id: its new postings
    * would be anti-joined out by every query (unfindable) while the
    * append's stats count it present, and the next compaction would
    * physically delete the corrected rows — silent data loss. The honest
    * sequence is delete → compact → append; this guard names it. One
    * bounded broadcast semi-join over the new ids. */
  private def requireNotTombstoned(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, newIds: DataFrame): Unit =
    postingsTombstones(spark, dir).foreach { dels =>
      val clash = newIds.join(broadcast(dels), Seq("doc_id"), "left_semi")
        .limit(1).count()
      require(clash == 0,
        s"appending ids that are tombstoned in $dir: their postings would " +
          "be unfindable until compaction physically drops them — run " +
          "search-compact first, then append the corrected documents")
    }

  /** [[requireNotTombstoned]] for callers holding the raw doc frame
    * (the streaming maintainer). */
  private[graft] def requireNotTombstonedIds(docs: DataFrame, idCol: String,
                                             dir: String): Unit =
    requireNotTombstoned(docs.sparkSession, dir,
      docs.select(col(idCol).as("doc_id")))

  /** The index's postings FLAVOR: Some(true) = positional, Some(false) =
    * BM25-only (`buildPostingsIndex(positional = false)`, or an index
    * predating the positional schema), None = no data file yet (empty
    * index). Maintenance ops (append, streaming commits) build their new
    * postings to MATCH this flavor — a mixed-schema index would silently
    * never phrase-match the non-positional docs (their null positions
    * read as "term absent"). One bounded listing; the sampled file is
    * the first DATA file found (an empty `tb=` dir left by a crashed
    * streaming commit must not wedge the sniff), and only its one footer
    * is read — never a full-tree file index. */
  private[graft] def indexFlavor(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): Option[Boolean] = {
    val fs = fsOf(spark, dir)
    val root = new org.apache.hadoop.fs.Path(s"$dir/postings")
    if (!fs.exists(root)) return None
    fs.listStatus(root).filter(_.isDirectory).iterator
      .flatMap(d => fs.listStatus(d.getPath).find(f => f.isFile &&
        !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith(".")))
      .take(1).toSeq.headOption
      .map(f => EngineParquet.read(spark, Seq(f.getPath.toString))
        .schema.fieldNames.contains("positions"))
  }

  /** (term, doc_id, tf, dl[, positions], tb) postings — the
    * [[bm25TopKBatch]] explode with the bucket key attached executor-side
    * via the same xxhash64. `positions` is the ascending 0-based token
    * indexes of the term in the doc (the POSITIONAL half of the index:
    * [[indexedPhraseTopK]] intersects shifted position sets instead of
    * rescanning text); BM25 queries never read the column (parquet
    * column pruning), so it costs index bytes, not query time — and
    * `positional = false` skips it entirely (roughly half the build cost
    * and index bytes for a corpus that will never phrase-query). */
  /** Bound the file count of a map-side `partitionBy("tb")` postings write
    * (guide §6): the zero-exchange build writes straight from scan tasks,
    * so output files = scan-tasks × buckets — fine locally (≤ a few
    * thousand) but a 100 TB corpus is hundreds of thousands of scan tasks
    * and the same write would leave tens of millions of small parquet
    * files. `spark.graft.postings.filesPerBucket` (0/unset = off, the
    * local default) applies a NARROW coalesce — no exchange, the build
    * plan stays shuffle-free — so each of the ≤ filesPerBucket merged
    * tasks writes at most one file per bucket: files ≤ filesPerBucket ×
    * buckets. The knob trades build parallelism for file count; cluster
    * deployments size it to (target file size ÷ per-bucket bytes), e.g.
    * ~200 at 100 TB/32 buckets for ~0.5–1 GB files. */
  private def boundBuildFiles(entries: DataFrame): DataFrame = {
    val n = entries.sparkSession.conf
      .get("spark.graft.postings.filesPerBucket", "0").toInt
    if (n > 0) entries.coalesce(n) else entries
  }

  private[graft] def postings(docs: DataFrame, idCol: String, textCol: String,
                              buckets: Int,
                              positional: Boolean = true): DataFrame = {
    // per-(doc, term) aggregation WITHOUT a shuffle: all of a document's
    // tokens live in its own input row, so tf/positions/dl are a row-local
    // one-pass kernel ([[graft.functions.TermPostings]], differential-spec
    // pinned against the posexplode+groupBy formulation this replaces).
    // The old form paid one full Exchange of the entire postings volume
    // (partial ObjectHashAggregate -> hash exchange on (doc, dl, term) ->
    // final) on every index build — pure overhead, since the partial
    // aggregate had already fully grouped each doc's tokens inside its
    // task (one doc never spans input rows). Guide §2.3/§2.4.
    val entries = docs
      // id keeps its ORIGINAL type (a silent cast("long") would null out
      // string ids and corrupt the index with no error; parquet stores
      // any type, and query-side grouping is type-agnostic)
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.EsFunctions.term_postings(
          col(textCol), positional)).as("_e"))
    val grouped =
      if (positional)
        entries.select(col("doc_id"), col("_e.dl").as("dl"),
          col("_e.term").as("term"), col("_e.tf").as("tf"),
          col("_e.positions").as("positions"))
      else
        entries.select(col("doc_id"), col("_e.dl").as("dl"),
          col("_e.term").as("term"), col("_e.tf").as("tf"))
    grouped.withColumn("tb", pmod(xxhash64(col("term")), lit(buckets.toLong))
      .cast("int"))
  }

  /** The index prologue's read: exact N / token total and the pruned
    * post-tombstone postings. */
  private final class IndexRead(val nDocs: Long, val totalTokens: Long,
                                val pruned: DataFrame) {
    def avgdl: Double = totalTokens.toDouble / nDocs
    /** The empty result, typed off the index's own postings schema. */
    def none: DataFrame = pruned.where(lit(false))
      .select(col("doc_id"), lit(0).cast("int").as("rank"), lit(0.0).as("score"))
  }

  /** The index prologue every indexed kind opens with: [[readStats]] (or
    * the caller's already-read triple) → [[prunedPostings]] of
    * `readTerms` → when `positionsFor` names a position-reading kind, the
    * refusal of an index that stores no positions. No Spark job: df is
    * counted inside the scoring plan ([[withIdf]]). */
  private def indexRead(spark: org.apache.spark.sql.SparkSession, dir: String,
                        readTerms: Seq[String],
                        positionsFor: Option[String] = None,
                        indexStats: Option[(Long, Long, Int)] = None): IndexRead = {
    val (nDocs, totalTokens, buckets) = indexStats.getOrElse(readStats(spark, dir))
    val pruned = prunedPostings(spark, dir, readTerms, buckets)
    positionsFor.foreach(kind => require(pruned.schema.fieldNames.contains("positions"),
      s"postings index at $dir stores no positions (built with " +
        "positional = false, or predating the positional schema): rebuild " +
        s"with positional postings to serve $kind queries"))
    new IndexRead(nDocs, totalTokens, pruned)
  }

  /** THE df and idf of every indexed kind — ES's "DFS query then fetch"
    * as one plan, not a df job ahead of the scoring job. `pivot` holds one
    * row per doc, so the number of rows where `present(i)` holds IS role
    * i's df (an exact term, an expansion, a span_or clause): ONE
    * partial+final aggregate counts them — only a partial count row per
    * task crosses its SinglePartition exchange — [[idfCol]] turns each
    * count into an idf, `sums` folds those into further idfs (a phrase's
    * Σ idf), and that one row, the array `_idf` (role idfs in role order,
    * then the sums), is broadcast into every pivot row. idf is data, not
    * a literal, so two queries of one shape share their generated code.
    *
    * The count reads the pivot's own postings exchange (a ReusedExchange
    * in the physical plan: the pruned postings are scanned once). That
    * holds while both sides compute the same pivot aggregate, so
    * `present` reads every pivot column, the idfs travel as ONE array
    * (column pruning cannot drop a count the score does not read), and
    * the pivots group by (doc_id, dl) — dl is a function of doc_id —
    * instead of carrying a `first(dl)` the count side would prune. */
  private def withIdf(pivot: DataFrame, nDocs: Long, present: Seq[Column],
                      sums: (Int => Column) => Seq[Column] = _ => Nil): DataFrame = {
    val dfs = present.zipWithIndex.map { case (p, i) => count(when(p, 1)).as(s"_df$i") }
    val idf = (i: Int) => idfCol(nDocs, col(s"_df$i"))
    pivot.crossJoin(broadcast(pivot.agg(dfs.head, dfs.tail: _*)
      .select(array(present.indices.map(idf) ++ sums(idf): _*).as("_idf"))))
  }

  /** Element `i` of [[withIdf]]'s idf row. */
  private def idfAt(i: Int): Column = col("_idf")(i)

  /** Per-doc pivot of the pruned postings with its [[withIdf]] row: `dl`
    * plus one `_tf<i>` column per role predicate — the posting's tf, 0.0
    * when the doc has none, so an absent term contributes exactly +0.0
    * like the scan's size(filter) = 0 — and role i's idf at `_idf[i]`
    * (present: tf > 0). Columns are named by POSITION, never by term
    * text: a term containing '.' (node.js, a URL) in a column name would
    * parse as nested-field access downstream. */
  private def tfPivot(ir: IndexRead, roles: Seq[Column]): DataFrame = {
    val tfs = roles.zipWithIndex.map { case (r, i) =>
      coalesce(sum(when(r, col("tf"))), lit(0.0)).as(s"_tf$i") }
    withIdf(ir.pruned.groupBy("doc_id", "dl").agg(tfs.head, tfs.tail: _*), ir.nDocs,
      roles.indices.map(i => col(s"_tf$i") > 0.0))
  }

  /** Per-doc pivot of the stored positions with its [[withIdf]] row: `dl`
    * plus one `_ps<i>` set per role predicate (empty when absent;
    * collect_list skips the non-matching nulls and flatten unwraps the
    * per-posting arrays), role idfs present on a non-empty set, and
    * `_idfs`, the kind's combined idf folded from them by `idfSum`. */
  private def positionPivot(ir: IndexRead, roles: Seq[Column])
                           (idfSum: (Int => Column) => Column): DataFrame = {
    val ps = roles.zipWithIndex.map { case (r, i) =>
      flatten(collect_list(when(r, col("positions")))).as(s"_ps$i") }
    withIdf(ir.pruned.groupBy("doc_id", "dl").agg(ps.head, ps.tail: _*), ir.nDocs,
      roles.indices.map(i => size(col(s"_ps$i")) > 0), idf => Seq(idfSum(idf)))
      .withColumn("_idfs", idfAt(roles.length))
  }

  /** The phrase-shaped idf fold on the index: Σ over `terms` in GIVEN
    * order of each term's role idf (`role(t)` its position), left-assoc
    * from 0.0 — [[idfSum]]'s float sequence verbatim. */
  private def idfFold(terms: Seq[String], role: String => Int)
                     (idf: Int => Column): Column =
    terms.foldLeft(lit(0.0))((a, t) => a + idf(role(t)))

  /** `term = t`, the role predicate of an exact term. */
  private def isTerm(t: String): Column = col("term") === t

  /** A term's role number: its position in `terms`. */
  private def roleOf(terms: Seq[String]): String => Int = terms.zipWithIndex.toMap

  /** A pivot column by its term's position in `terms`. */
  private def pivotCol(prefix: String, terms: Seq[String]): String => Column = {
    val role = roleOf(terms)
    t => col(s"$prefix${role(t)}")
  }

  /** A term's idf from the pivot's [[withIdf]] row. */
  private def pivotIdf(terms: Seq[String]): String => Column = {
    val role = roleOf(terms)
    t => idfAt(role(t))
  }

  /** The BM25 tail of the tf-pivot kinds: [[tfPivot]] over one role per
    * term, the [[termScores]] sum in sorted term order (the scan
    * projection verbatim), an optional minimum of present terms — a
    * Filter in the plan only when given — cursor and rank tail. */
  private def pivotTopK(ir: IndexRead, terms: Seq[String], roles: Seq[Column],
                        k: Int, params: Bm25Params, roundTo: Int,
                        minShouldMatch: Option[Int] = None,
                        searchAfter: Option[(Double, Any)] = None): DataFrame = {
    val grouped = tfPivot(ir, roles)
    val present = terms.indices.map(i => when(col(s"_tf$i") > 0.0, 1).otherwise(0))
    rankTail(minShouldMatch.fold(grouped)(m => grouped.where(present.reduce(_ + _) >= m))
      .select(col("doc_id"), round(termScores(terms, pivotIdf(terms), ir.avgdl, params,
        pivotCol("_tf", terms), col("dl")), roundTo).as("score"))
      .transform(afterFilter(searchAfter)), k)
  }

  /**
   * BM25 top-k from a persisted postings index — bit-identical output to
   * [[bm25TopK]] over the source corpus (same rounding, same tie-break,
   * same fixed-term-order float sum), at Σ_t df(t) posting rows of read
   * instead of two corpus scans.
   *
   * Scale shape: the driver computes the needed buckets from the query
   * terms alone ([[termBucket]]) and opens ONLY those `tb=` directories as
   * explicit paths (≤ |terms| existence RPCs; never a full-tree listing),
   * with `term IN (...)` pushed into the parquet reader on top. Scoring
   * pivots each term's single (doc, term) posting into a column and adds
   * them in sorted term order, so the arithmetic is the [[bm25TopK]]
   * projection verbatim. Per-term df is counted over that same pivot in
   * the same plan ([[withIdf]]: a one-row partial+final aggregate on the
   * pivot's reused exchange, broadcast back as the idf row), so the
   * pruned postings are read once per query, and the idf reaches the
   * score as data — the bit-equal [[idfOf]], not a literal — so queries of
   * one shape reuse their generated code. The global top-k is the same
   * distributed TakeOrdered.
   */
  def indexedBm25TopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                      query: String, k: Int,
                      params: Bm25Params = Bm25Params(),
                      roundTo: Int = 4, minShouldMatch: Int = 1,
                      searchAfter: Option[(Double, Any)] = None): DataFrame =
    indexedBm25TopKWith(spark, dir, readStats(spark, dir), queryTerms(query), k,
      params, roundTo, minShouldMatch, searchAfter)

  /** [[indexedBm25TopK]] over already-analyzed terms and an already-read
    * [[readStats]] triple (a caller that needed the stats itself reads
    * them once per query). `minShouldMatch` counts the DISTINCT present
    * terms from the pivot columns (grouped rows exist only for docs with
    * >= 1 term, so the default 1 is a no-op filter). */
  private def indexedBm25TopKWith(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, indexStats: (Long, Long, Int),
                                  terms: Seq[String], k: Int, params: Bm25Params,
                                  roundTo: Int, minShouldMatch: Int,
                                  searchAfter: Option[(Double, Any)])
      : DataFrame = {
    require(minShouldMatch >= 1, "minShouldMatch must be >= 1")
    require(terms.nonEmpty, "empty query")
    val ir = indexRead(spark, dir, terms, indexStats = Some(indexStats))
    pivotTopK(ir, terms, terms.map(isTerm), k, params, roundTo,
      Some(minShouldMatch), searchAfter)
  }

  /**
   * Batched BM25 from a persisted postings index — the serving-loop shape
   * for a query TABLE `(query_id, query_text)`: the UNION of the batch's
   * terms prunes the postings ONCE (≤ |terms| `tb=` dirs, `term IN`
   * pushed to parquet), per-term df rides one bounded aggregate over the
   * pruned rows, and each query's top-k is the bounded
   * [[graft.functions.TopKAgg]] partial+final heap — so a serving loop
   * pays ONE pruned read per batch instead of per query, with no rank
   * window anywhere (a stopword term cannot create a corpus-sized
   * single-task sort). Per query the output is BIT-IDENTICAL to
   * [[indexedBm25TopK]] — and hence to the corpus scan — through the
   * shared [[batchTopK]] tail. The df here is a grouped count collected
   * before the scoring job, not the single-query [[withIdf]] row: a
   * batch's term union grows with the query count, and one conditional
   * count per term per pivot row would grow with it.
   */
  def indexedBm25TopKBatch(spark: org.apache.spark.sql.SparkSession,
                           dir: String, queries: DataFrame, k: Int,
                           params: Bm25Params = Bm25Params(),
                           roundTo: Int = 4): DataFrame = {
    val (nDocs, totalTokens, buckets) = readStats(spark, dir)
    val allTerms = batchTerms(queries)
    require(allTerms.nonEmpty, "batch has no query terms")
    val pruned = prunedPostings(spark, dir, allTerms, buckets)
    val dfMap = pruned.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    batchTopK(pruned, queries, allTerms, CorpusStats(nDocs, totalTokens,
      allTerms.map(t => t -> dfMap.getOrElse(t, 0L)).toMap), k, params, roundTo)
  }

  // ------------------------------------------------------------------
  // Tombstone deletes: remove documents from a standing postings index
  // without a rebuild
  // ------------------------------------------------------------------

  private def healDeletes(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit =
    graft.sink.FsAtomic.heal(fs, new org.apache.hadoop.fs.Path(s"$dir/deletes"))

  /** The index's tombstone set `(doc_id)`, if any — bounded by the
    * [[deleteFromPostingsIndex]] contract (a delete list is takedown- or
    * correction-sized, never corpus-sized). */
  private[graft] def postingsTombstones(
      spark: org.apache.spark.sql.SparkSession, dir: String): Option[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/deletes/ids")
    if (fs.exists(p)) Some(EngineParquet.read(spark, Seq(p.toString)))
    else None
  }

  /**
   * Tombstone documents out of a postings index: queries exclude them
   * IMMEDIATELY (bounded broadcast anti-join on the pruned postings +
   * exact stats adjustment), and [[compactPostingsIndex]] later removes
   * their postings physically and clears the set — so a takedown or a
   * re-ingest correction never needs a full rebuild.
   *
   * Exactness: per-term df is computed from post-anti-join postings at
   * query time (so it is exact by construction), and N / total-token
   * decrements are recorded here from the deleted docs' own `dl` rows —
   * queries against the tombstoned index are BIT-IDENTICAL to a fresh
   * build over corpus \ ids (the spec law). An id deleted twice is
   * counted once (new ids are anti-joined against the standing set).
   *
   * Atomicity: the ids and their mass totals are two facts that must
   * move together (ids without totals = queries exclude postings but
   * over-count N forever, and the idempotence anti-join would block the
   * retry from healing it). The new COMPLETE set (old ∪ new ids + updated
   * totals + generation epoch) is staged and swapped in by
   * [[graft.sink.FsAtomic.replaceDir]], so every state is either the old
   * complete set or the new complete set.
   *
   * Contract: `ids` must be ids that were actually indexed (the
   * append-path discipline); the set stays bounded (it broadcasts into
   * every query until the next compaction). Offline maintenance op, like
   * append/compact: not concurrent with commits or queries. One full
   * postings-tree read to recover the deleted docs' dl (offline cost,
   * the compaction class); docs indexed with EMPTY token lists have no
   * postings and correctly decrement only N.
   */
  def deleteFromPostingsIndex(spark: org.apache.spark.sql.SparkSession,
                              dir: String, ids: DataFrame,
                              idCol: String = "doc_id"): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    healDeletes(fs, dir)
    val newIds0 = ids.select(col(idCol).as("doc_id")).distinct()
    val old = postingsTombstones(spark, dir)
    val newIds = old
      .map(o => newIds0.join(o, Seq("doc_id"), "left_anti"))
      .getOrElse(newIds0)
      .localCheckpoint() // pin: written below AND aggregated over
    val nNew = newIds.count()
    if (nNew == 0) return
    // token mass of the deleted docs, from their own (distinct) dl rows
    val post = spark.read.parquet(s"$dir/postings")
    val row = post.join(broadcast(newIds), Seq("doc_id"))
      .select(col("doc_id"), col("dl")).distinct()
      .agg(sum(col("dl").cast("long"))).head()
    val tokensRemoved = if (row.isNullAt(0)) 0L else row.getLong(0)
    val (d0, t0, epoch) = deleteStats(spark, dir).getOrElse {
      // fresh generation: one past whatever the base record last folded
      val (_, _, _, fe, _, _) = readBaseStatsFull(spark, dir)
      (0L, 0L, fe + 1)
    }
    import spark.implicits._
    graft.sink.FsAtomic.replaceDir(fs,
        new org.apache.hadoop.fs.Path(s"$dir/deletes")) { staging =>
      old.map(_.unionByName(newIds)).getOrElse(newIds)
        .write.parquet(s"$staging/ids")
      Seq((d0 + nNew, t0 + tokensRemoved, epoch))
        .toDF("n_docs_removed", "tokens_removed", "epoch")
        .write.parquet(s"$staging/stats")
    }
  }

  /** The pending tombstone record: (docs removed, tokens removed,
    * generation epoch), or None when no deletes are pending. Pre-epoch
    * records (written before the atomic-swap scheme) read as epoch 0. */
  private def deleteStats(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Option[(Long, Long, Long)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/deletes/stats")
    if (!fs.exists(p)) None
    else {
      val r = record(spark, p.toString)
      Some((r.getAs[Long]("n_docs_removed"), r.getAs[Long]("tokens_removed"),
        if (r.schema.fieldNames.contains("epoch")) r.getAs[Long]("epoch")
        else 0L))
    }
  }

  /** Postings rows for `terms` from a persisted index. The driver computes
    * the needed `tb=` buckets from the terms alone ([[termBucket]]) and
    * opens ONLY those directories as explicit paths (≤ |terms| existence
    * RPCs; never a full-tree listing), with `term IN (...)` pushed into
    * the parquet reader on top — the shared read path of
    * [[indexedBm25TopK]] and [[indexedPhraseTopK]]. Tombstoned docs
    * ([[deleteFromPostingsIndex]]) are anti-joined out against the
    * bounded delete set, so every consumer (scoring, in-plan df counts,
    * position pivots) sees post-delete postings. */
  private def prunedPostings(spark: org.apache.spark.sql.SparkSession,
                             dir: String, terms: Seq[String],
                             buckets: Int): DataFrame = {
    val root = s"$dir/postings"
    val needed = terms.map(termBucket(_, buckets)).distinct.sorted
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    // explicit pruned paths (the indexTopK discipline): a bucket dir can
    // be absent when nothing ever hashed there
    val paths = needed.map(b => s"$root/tb=$b")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    // schema off one footer on the driver, `tb` typed as written
    def read(ps: Seq[String]): DataFrame =
      EngineParquet.read(spark, ps, Map("basePath" -> root),
        Seq(org.apache.spark.sql.types.StructField("tb",
          org.apache.spark.sql.types.IntegerType)))
    val pruned0 =
      if (paths.nonEmpty)
        read(paths)
          .where(col("tb").isin(needed.map(_.asInstanceOf[Any]): _*))
      else {
        // no needed bucket exists -> nothing can match. Take ANY one
        // bucket dir for the schema (one listStatus of the root, never a
        // full-tree listing — keeping the pruning contract above); an
        // index with no postings at all (all-empty texts) gets a typed
        // empty frame
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val any =
          if (fs.exists(rootPath))
            fs.listStatus(rootPath).filter(_.isDirectory).take(1)
          else Array.empty[org.apache.hadoop.fs.FileStatus]
        any.headOption match {
          case Some(d) => read(Seq(d.getPath.toString)).where(lit(false))
          case None => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("dl",
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("term",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("tf",
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("positions",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.IntegerType, false)),
              org.apache.spark.sql.types.StructField("tb",
                org.apache.spark.sql.types.IntegerType))))
        }
      }
    val pruned = pruned0.where(col("term").isin(terms: _*))
    postingsTombstones(spark, dir)
      .map(d => pruned.join(broadcast(d), Seq("doc_id"), "left_anti"))
      .getOrElse(pruned)
  }

  // ------------------------------------------------------------------
  // Phrase (positional) queries: the match_phrase half of real search
  // traffic — terms must occur ADJACENT and IN ORDER
  // ------------------------------------------------------------------

  /** Phrase tokens in ORDER — position matters, so unlike [[queryTerms]]
    * nothing is deduped or sorted. */
  def phraseTokens(phrase: String): Seq[String] =
    phrase.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  /** Occurrence count of the token sequence `pTerms` inside `tok` —
    * every start position counts, INCLUDING overlapping ones ("a a a"
    * contains "a a" twice, the Lucene ExactPhraseScorer convention). A
    * codegen'd HOF projection: candidate starts 0..len−m tested
    * element-for-element, no explode, no shuffle.
    *
    * `slop` relaxes adjacency with a POSITION-WINDOW law: base b matches
    * when every term t_j appears at SOME index within ±slop of its home
    * slot b+j (documented deviation from Lucene's SloppyPhraseScorer,
    * which charges a TOTAL edit-distance budget across terms and needs
    * slop 2 for a transposition: here "b a" matches the phrase "a b" at
    * slop 1, because each term is within 1 of its slot — a per-term
    * window, not a shared budget; slop 0 is the exact adjacent law
    * either way). Out-of-bounds probes read as non-matches (the guarded
    * element_at), so a base near the doc edge simply has fewer live
    * probes. */
  private def phraseFreq(tok: Column, pTerms: Seq[String],
                         slop: Int = 0): Column = {
    val m = pTerms.length
    val starts = when(size(tok) >= m,
      filter(sequence(lit(0), size(tok) - lit(m)), i =>
        pTerms.zipWithIndex.map { case (t, j) =>
          if (slop == 0) element_at(tok, i + lit(j + 1)) === lit(t)
          else (-slop to slop).map { d =>
            val idx = i + lit(j + d + 1)
            // CaseWhen evaluates the branch lazily, so the ANSI-mode
            // element_at never sees an out-of-bounds index
            when(idx >= lit(1) && idx <= size(tok),
              element_at(tok, idx) === lit(t)).otherwise(lit(false))
          }.reduce(_ || _)
        }.reduce(_ && _)))
      .otherwise(array().cast("array<int>"))
    size(starts).cast("double")
  }

  /** The phrase-shaped rank tail, shared by every phrase, span and
    * phrase-prefix kind in both forms: over `(doc_id, _ptf, dl)` rows —
    * `_ptf` the kind's occurrence count — keep `_ptf > 0` and score BM25
    * with `_ptf` as tf and `idf` as idf ([[bm25Term]]) — a driver-folded
    * literal on the scan, the pivot's `_idfs` on the index — then
    * [[rankTail]]. */
  private def phraseRank(freqs: DataFrame, idf: Column, avgdl: Double,
                         k: Int, p: Bm25Params, roundTo: Int): DataFrame =
    rankTail(freqs.where(col("_ptf") > 0).select(col("doc_id"),
      round(bm25Term(idf, col("_ptf"), col("dl"), avgdl, p), roundTo)
        .as("score")), k)

  /** The scan form's `(doc_id, _ptf, dl)` rows for [[phraseRank]]. */
  private def scanFreqs(docs: DataFrame, idCol: String, tok: Column,
                        ptf: Column): DataFrame =
    docs.select(col(idCol).as("doc_id"), ptf.as("_ptf"),
      size(tok).cast("double").as("dl"))

  /** Σ idf over `terms` in GIVEN order, folded driver-side — the combined
    * idf of a phrase (each occurrence counted, the Lucene PhraseWeight
    * convention) or of a span chain; the same fold on both forms. */
  private def idfSum(stats: CorpusStats, terms: Seq[String]): Double =
    terms.foldLeft(0.0)((a, t) => a + stats.idf(t))

  /** Validated phrase arguments: the phrase tokens in order. */
  private def phraseArgs(phrase: String, slop: Int): Seq[String] = {
    require(slop >= 0, "slop must be non-negative")
    val pTerms = phraseTokens(phrase)
    require(pTerms.nonEmpty, "empty phrase")
    pTerms
  }

  /**
   * Phrase-match top-k for one literal phrase (the ES `match_phrase`
   * analog): only documents containing the EXACT adjacent in-order token
   * sequence qualify; score = BM25 with the phrase occurrence count as
   * tf and Σ idf(term) over the phrase's terms as idf (see
   * [[phraseRank]]). Same shape as [[bm25TopK]]: map-only scan (the
   * occurrence count is a HOF projection over the shared tokenization
   * law), distributed TakeOrdered, rank window over ≤ k rows. Ties break
   * to the smaller id; scores round to `roundTo` decimals. `slop > 0`
   * relaxes adjacency per the [[phraseFreq]] position-window law (the ES
   * `match_phrase` `slop` knob).
   */
  def phraseTopK(docs: DataFrame, idCol: String, textCol: String,
                 phrase: String, k: Int, params: Bm25Params = Bm25Params(),
                 roundTo: Int = 4, slop: Int = 0): DataFrame = {
    val pTerms = phraseArgs(phrase, slop)
    val stats = corpusStats(docs, textCol, pTerms.distinct.sorted)
    val tok = tokens(col(textCol))
    phraseRank(scanFreqs(docs, idCol, tok, phraseFreq(tok, pTerms, slop)),
      lit(idfSum(stats, pTerms)), stats.avgdl, k, params, roundTo)
  }

  /**
   * Phrase-match top-k from a persisted POSITIONAL postings index —
   * bit-identical output to [[phraseTopK]] over the source corpus, at
   * Σ_t df(t) posting rows of read instead of two corpus scans. The
   * phrase count never touches text: a doc's occurrence starts are the
   * intersection of its per-term position sets shifted by each term's
   * phrase offset (`pos(t_j) − j`), so adjacency is pure integer set
   * arithmetic over the stored `positions` arrays. Same pruned-bucket
   * read, in-plan df and tie-break as the BM25 twin; the idf sum folds
   * on the one-row df side in phrase order ([[idfFold]]). Indexes built before the positional schema fail loudly —
   * rebuild or append-compact to upgrade.
   */
  def indexedPhraseTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                        phrase: String, k: Int,
                        params: Bm25Params = Bm25Params(),
                        roundTo: Int = 4, slop: Int = 0): DataFrame = {
    val pTerms = phraseArgs(phrase, slop)
    val distinctTerms = pTerms.distinct.sorted
    val ir = indexRead(spark, dir, distinctTerms, positionsFor = Some("phrase"))
    val grouped = positionPivot(ir, distinctTerms.map(isTerm))(
      idfFold(pTerms, roleOf(distinctTerms)))
    val ps = pivotCol("_ps", distinctTerms)
    // slop 0: adjacency is the shifted-position-set intersection (bases
    // land in [0, dl−m] by construction). slop > 0: the [[phraseFreq]]
    // position-window law over the SAME base domain — every candidate
    // base 0..dl−m is kept when each term has a stored position within
    // ±slop of its home slot b+j. Pure integer set arithmetic either
    // way; text is never re-read.
    val starts =
      if (slop == 0)
        pTerms.zipWithIndex.map { case (t, j) =>
          transform(ps(t), p => p - lit(j))
        }.reduce((a, b) => array_intersect(a, b))
      else {
        val m = pTerms.length
        when(col("dl") >= lit(m.toDouble),
          filter(sequence(lit(0), col("dl").cast("int") - lit(m)), b =>
            pTerms.zipWithIndex.map { case (t, j) =>
              exists(ps(t), p => abs(p - (b + lit(j))) <= lit(slop))
            }.reduce(_ && _)))
          .otherwise(array().cast("array<int>"))
      }
    phraseRank(grouped.withColumn("_ptf", size(starts).cast("double")),
      col("_idfs"), ir.avgdl, k, params, roundTo)
  }

  // ------------------------------------------------------------------
  // geo_distance: the ES geo query — filter by great-circle distance
  // from a query point, rank nearest-first
  // ------------------------------------------------------------------

  /** Haversine great-circle distance in km as ONE codegen'd projection
    * (mean Earth radius 6371.0088 km, the ES/Lucene constant). Shared
    * verbatim by the query and any oracle re-derivation: d = 2R·asin(√(
    * sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))). */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column,
                  lon2: Column): Column = {
    val rad = math.Pi / 180.0
    val dphi = (lat2 - lat1) * lit(rad) / lit(2.0)
    val dlmb = (lon2 - lon1) * lit(rad) / lit(2.0)
    val a = sin(dphi) * sin(dphi) +
      cos(lat1 * lit(rad)) * cos(lat2 * lit(rad)) * sin(dlmb) * sin(dlmb)
    // clamp before the root: for near-antipodal pairs floating rounding
    // can push the radicand fractionally above 1, and asin(>1) = NaN —
    // which a radius filter would then silently DROP (a point ~20015 km
    // away is outside any sane radius, but "NaN, excluded" is the wrong
    // reason and breaks distance projections)
    lit(2.0 * 6371.0088) * asin(sqrt(least(a, lit(1.0))))
  }

  /**
   * geo_distance top-k (the ES `geo_distance` query + `_geo_distance`
   * sort): rows within `radiusKm` of the query point, nearest first,
   * ties to the smaller id; distances round to `roundTo` (the published
   * sort key, like the BM25 score convention). Map-only scan — the
   * haversine is one codegen'd trig projection, the radius filter runs
   * BEFORE the distributed TakeOrdered, so a selective radius prunes the
   * sort input the way a pushed filter prunes a scan. At index scale
   * this composes with any coarse spatial pre-filter (a bounding-box
   * where-clause pushes to parquet; the exact haversine then runs over
   * survivors only — the Lucene bkd-then-exact shape).
   */
  def geoDistanceTopK(docs: DataFrame, idCol: String, latCol: String,
                      lonCol: String, qLat: Double, qLon: Double,
                      radiusKm: Double, k: Int,
                      roundTo: Int = 4): DataFrame = {
    require(radiusKm > 0, "radiusKm must be positive")
    // bounding-box NECESSARY condition first (pure comparisons push to
    // the scan; 1 deg latitude = 111.19 km at the Lucene radius, and the
    // longitude window widens by 1/cos(lat) — clamped at the poles where
    // the box degenerates to all-longitudes)
    // the box is implied by the UNROUNDED radius filter below, PROVIDED
    // the extents are the spherical-cap ones: Δlat is bounded by the
    // angular radius c = r/R (meridian distance = R·Δφ exactly), but the
    // cap's true maximum longitude extent is asin(sin c / cos φ) — the
    // circle bulges east/west at its mid latitudes, exceeding the naive
    // c/cos φ whenever sin|φ| > c/√2 (a correctness review caught a
    // dropped in-radius sliver at the naive pad). A cap touching a pole
    // spans ALL longitudes. Tiny epsilons absorb double rounding at the
    // boundary; the box stays a pure pushdown — dropped when it would
    // wrap the antimeridian, where one interval cannot express it.
    val cRad = radiusKm / 6371.0088
    val latPad = math.toDegrees(cRad) + 1e-9
    val qLatR = math.max(-90.0, math.min(90.0, qLat))
    val capHitsPole = math.abs(qLatR) + math.toDegrees(cRad) >= 90.0 - 1e-9
    val cosLat = math.cos(qLatR * math.Pi / 180.0)
    val sinRatio = if (cosLat < 1e-12) 2.0 else math.sin(cRad) / cosLat
    val lonPad =
      if (capHitsPole || sinRatio >= 1.0) 360.0
      else math.toDegrees(math.asin(sinRatio)) + 1e-9
    val wraps = lonPad >= 180.0 || qLon - lonPad < -180.0 || qLon + lonPad > 180.0
    val boxed = docs
      .where(col(latCol) >= qLat - latPad && col(latCol) <= qLat + latPad)
      .where(if (wraps) lit(true)
        else col(lonCol) >= qLon - lonPad && col(lonCol) <= qLon + lonPad)
    val d = haversineKm(lit(qLat), lit(qLon),
      col(latCol).cast("double"), col(lonCol).cast("double"))
    rankTail(boxed
      .select(col(idCol).as("doc_id"), d.as("_d"))
      .where(col("_d") <= lit(radiusKm)) // exact filter; rounding is display
      .select(col("doc_id"), round(col("_d"), roundTo).as("distance_km")), k,
      Seq(col("distance_km").asc, col("doc_id").asc),
      Seq("doc_id", "rank", "distance_km"))
  }

  /**
   * geo_bounding_box (the ES filter query): rows whose point lies inside
   * the box, inclusive edges (the ES convention). `left > right` means
   * the box CROSSES THE ANTIMERIDIAN (e.g. 170 to −170): the longitude
   * test becomes the OR of the two half-intervals — the case a naive
   * `BETWEEN` silently empties. Pure comparisons: the whole predicate
   * pushes to the parquet scan (PushedFilters), no trig anywhere.
   * Output: (doc_id, lat, lon), caller orders.
   */
  def geoBoundingBox(docs: DataFrame, idCol: String, latCol: String,
                     lonCol: String, top: Double, left: Double,
                     bottom: Double, right: Double): DataFrame = {
    require(top >= bottom, s"top ($top) must be >= bottom ($bottom)")
    val lonPred =
      if (left <= right) col(lonCol) >= left && col(lonCol) <= right
      else col(lonCol) >= left || col(lonCol) <= right // antimeridian box
    docs
      .where(col(latCol) >= bottom && col(latCol) <= top && lonPred)
      .select(col(idCol).as("doc_id"),
        col(latCol).cast("double").as("lat"),
        col(lonCol).cast("double").as("lon"))
  }

  /**
   * geo_shape query, ENVELOPE subset (the ES `geo_shape` with an
   * `envelope` query shape over docs that carry envelope extents): each
   * document's shape is its [latMin, latMax] × [lonMin, lonMax] box,
   * the query shape is the literal envelope (`top`/`left`/`bottom`/
   * `right`, the ES top-left + bottom-right convention), and `relation`
   * picks the spatial predicate — pure inclusive interval algebra, one
   * codegen'd conjunction that pushes to the scan:
   *  - `"intersects"` (ES default): the boxes overlap;
   *  - `"within"`: the doc box lies inside the query envelope;
   *  - `"contains"`: the doc box contains the query envelope;
   *  - `"disjoint"`: no overlap (the intersects negation).
   * Non-crossing envelopes only (left <= right — antimeridian-crossing
   * doc shapes would need the [[geoBoundingBox]] split convention;
   * callers split first). Filter-form result (no score): doc_id + the
   * extents, the [[geoBoundingBox]] deterministic-page convention.
   */
  def geoShapeEnvelope(docs: DataFrame, idCol: String,
                       latMinCol: String, latMaxCol: String,
                       lonMinCol: String, lonMaxCol: String,
                       top: Double, left: Double, bottom: Double,
                       right: Double, relation: String = "intersects"
                      ): DataFrame = {
    require(top >= bottom, s"top ($top) must be >= bottom ($bottom)")
    require(left <= right,
      s"left ($left) must be <= right ($right): the envelope subset " +
        "does not cross the antimeridian (split the query box first)")
    val (laMin, laMax) = (col(latMinCol), col(latMaxCol))
    val (loMin, loMax) = (col(lonMinCol), col(lonMaxCol))
    val intersects = laMin <= lit(top) && laMax >= lit(bottom) &&
      loMin <= lit(right) && loMax >= lit(left)
    val within = laMin >= lit(bottom) && laMax <= lit(top) &&
      loMin >= lit(left) && loMax <= lit(right)
    val contains = laMin <= lit(bottom) && laMax >= lit(top) &&
      loMin <= lit(left) && loMax >= lit(right)
    val pred = relation match {
      case "intersects" => intersects
      case "within"     => within
      case "contains"   => contains
      case "disjoint"   => !intersects
      case other => throw new IllegalArgumentException(
        s"unknown geo_shape relation '$other' " +
          "(intersects | within | contains | disjoint)")
    }
    docs.where(pred)
      .select(col(idCol).as("doc_id"),
        laMin.cast("double").as("lat_min"),
        laMax.cast("double").as("lat_max"),
        loMin.cast("double").as("lon_min"),
        loMax.cast("double").as("lon_max"))
  }

  /** Even-odd (ray-casting) point-in-polygon as ONE codegen'd projection
    * over a LITERAL vertex list — the planar test on (lon, lat) treated
    * as x/y (the ES geo_polygon law for non-pole, non-antimeridian
    * polygons; callers with crossing polygons split them first). A point
    * is inside when a ray to +x crosses an odd number of edges; the
    * crossing test `(yi > y) != (yj > y) && x < (xj−xi)·(y−yi)/(yj−yi) +
    * xi` is the numerically-standard form (no division by zero: the
    * first conjunct already excludes yi == yj), and every operation is
    * plain IEEE arithmetic on shared literals, so an external engine
    * evaluating the same formula agrees bit-for-bit. Boundary points
    * follow the raycast's half-open convention (ES makes no boundary
    * promise either). */
  def pointInPolygon(lat: Column, lon: Column,
                     vertices: Seq[(Double, Double)]): Column = {
    require(vertices.length >= 3, "polygon needs >= 3 (lat, lon) vertices")
    val crossings = vertices.indices.map { i =>
      val (yi, xi) = vertices(i)
      val (yj, xj) = vertices((i + 1) % vertices.length)
      when((lit(yi) > lat) =!= (lit(yj) > lat) &&
        lon < (lit(xj) - lit(xi)) * (lat - lit(yi)) /
          (lit(yj) - lit(yi)) + lit(xi), 1).otherwise(0)
    }.reduce(_ + _)
    crossings % 2 === 1
  }

  /**
   * geo_polygon (the ES filter query): rows whose point falls inside the
   * literal polygon — [[pointInPolygon]] pushed over a bounding-box
   * prefilter (min/max of the vertices, pure comparisons that reach the
   * scan; the exact raycast runs over box survivors only — the Lucene
   * bkd-then-exact shape). Output: (doc_id, lat, lon), caller orders.
   */
  def geoPolygon(docs: DataFrame, idCol: String, latCol: String,
                 lonCol: String, vertices: Seq[(Double, Double)]): DataFrame = {
    require(vertices.length >= 3, "polygon needs >= 3 (lat, lon) vertices")
    val lats = vertices.map(_._1); val lons = vertices.map(_._2)
    docs
      .where(col(latCol) >= lats.min && col(latCol) <= lats.max &&
        col(lonCol) >= lons.min && col(lonCol) <= lons.max)
      .where(pointInPolygon(col(latCol).cast("double"),
        col(lonCol).cast("double"), vertices))
      .select(col(idCol).as("doc_id"),
        col(latCol).cast("double").as("lat"),
        col(lonCol).cast("double").as("lon"))
  }

  /** Geohash cell of a point at `precision` chars (1..12) as one codegen
    * projection: the standard base32 encoding — longitude halves the
    * world on even interleaved bits, latitude on odd, 5 bits per char
    * over the alphabet 0-9 b-z (no a/i/l/o). Computed ARITHMETICALLY
    * (scaled integer cell coords + bit interleave), not by successive
    * halving: floor((lon+180)/360 · 2^lonBits) is exact integer math any
    * engine reproduces, where binary midpoint comparisons can disagree
    * in the last ulp. Edge clamp: lon = 180 / lat = 90 land in the top
    * cell (the encoding's half-open convention). */
  def geohash(lat: Column, lon: Column, precision: Int): Column = {
    require(precision >= 1 && precision <= 12,
      s"geohash precision must be 1..12: got $precision")
    val totalBits = precision * 5
    val lonBits = (totalBits + 1) / 2 // even positions (MSB first) = lon
    val latBits = totalBits / 2
    val ix = least(floor((lon + lit(180.0)) / lit(360.0) *
      lit(math.pow(2, lonBits))), lit(math.pow(2, lonBits) - 1)).cast("long")
    val iy = least(floor((lat + lit(90.0)) / lit(180.0) *
      lit(math.pow(2, latBits))), lit(math.pow(2, latBits) - 1)).cast("long")
    // interleave: result bit (totalBits-1-p) takes lon bit for even p,
    // lat bit for odd p — a static sum of shifted single-bit extracts
    val interleaved = (0 until totalBits).map { p =>
      val outShift = totalBits - 1 - p
      val (src, srcBit) =
        if (p % 2 == 0) (ix, lonBits - 1 - p / 2)
        else (iy, latBits - 1 - p / 2)
      shiftleft(shiftright(src, srcBit).bitwiseAND(lit(1L)), outShift)
    }.reduce((a, b) => a.bitwiseOR(b))
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    val chars = (0 until precision).map { c =>
      val sh = (precision - 1 - c) * 5
      element_at(
        array(alphabet.map(ch => lit(ch.toString)): _*),
        (shiftright(interleaved, sh).bitwiseAND(lit(31L)) + 1L).cast("int"))
    }
    concat(chars: _*)
  }

  /**
   * geohash_grid aggregation (the ES geo bucketing facet): documents
   * bucket by their [[geohash]] cell at `precision`, non-empty cells
   * return (geohash, docs) with an exact top-N by (docs desc, geohash
   * asc) — the ES tie-break law, and exact where ES shard_size
   * approximates. One map-only projection + one partial+final count
   * (cardinality = occupied cells, never corpus rows) + the bounded
   * [[graft.functions.TopKAgg]] heap — no corpus-sized window. Null
   * coordinates are skipped (ES missing unconfigured).
   */
  def geohashGridFacet(docs: DataFrame, latCol: String, lonCol: String,
                       precision: Int, topN: Int = 10): DataFrame = {
    require(topN > 0, "topN must be positive")
    val counted = docs
      .where(col(latCol).isNotNull && col(lonCol).isNotNull)
      .select(geohash(col(latCol).cast("double"),
        col(lonCol).cast("double"), precision).as("geohash"))
      .groupBy("geohash").agg(count(lit(1)).as("docs"))
    counted
      .agg(graft.functions.TopKAgg.top_k(
        struct((-col("docs")).as("nd"), col("geohash")), topN).as("_top"))
      .select(posexplode(col("_top")))
      .select(col("col.geohash").as("geohash"), (-col("col.nd")).as("docs"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  // ------------------------------------------------------------------
  // parent-child: the ES has_child query (join-field / nested-doc
  // surface) — parents ranked by their matching children's scores
  // ------------------------------------------------------------------

  /**
   * has_child top-k (the ES `has_child` query with `score_mode`):
   * parents with ≥ `minChildren` children matching the BM25 query rank
   * by an aggregate of the matching children's scores — `"max"`, `"sum"`,
   * `"avg"`, or `"none"` (filter only: score 0.0, ties resolve by parent
   * id — the constant_score form). DELIBERATE DEVIATION from ES: the ES
   * default score_mode is `"none"`; this engine defaults to `"max"`
   * because a ranked parent list is the useful analytic answer (pass
   * `"none"` explicitly for ES-default parity). Child scores
   * are [[bm25TopK]]'s law verbatim (same stats, rounding AFTER the
   * aggregate); the parent key is just a column on the child table (the
   * ES join-field denormalized the Spark way — no separate parent scan
   * needed to rank).
   *
   * Scale shape: ONE map-only child scan (stats agg + score projection),
   * then a partial+final aggregate on the parent key — no join, no
   * window; the TakeOrdered runs over parent aggregates.
   */
  def hasChildTopK(children: DataFrame, parentCol: String, textCol: String,
                   query: String, k: Int, scoreMode: String = "max",
                   minChildren: Int = 1,
                   params: Bm25Params = Bm25Params(),
                   roundTo: Int = 4): DataFrame = {
    require(Set("max", "sum", "avg", "none")(scoreMode),
      s"score_mode must be max|sum|avg|none: got '$scoreMode'")
    require(minChildren >= 1, "minChildren must be >= 1")
    val s = scanScore(children, textCol, queryTerms(query), params)
    val child = children
      .where(s.matched >= 1)
      .select(col(parentCol).as("parent_id"), s.score.as("_cs"))
    val agg = scoreMode match {
      case "max" => max(col("_cs"))
      case "sum" => sum(col("_cs"))
      case "avg" => avg(col("_cs"))
      case "none" => lit(0.0)
    }
    rankTail(child.groupBy("parent_id")
      .agg(round(agg, roundTo).as("score"),
        count(lit(1)).as("_nc"))
      .where(col("_nc") >= minChildren)
      .select(col("parent_id"), col("score")), k,
      Seq(col("score").desc, col("parent_id").asc),
      Seq("parent_id", "rank", "score"))
  }

  /**
   * Score explanation (the ES `_explain` API): one row per (doc, term)
   * decomposing the BM25 score — tf, df, idf, the length-norm factor,
   * and the term's contribution — plus the total (which is exactly
   * [[bm25TopK]]'s published score: the contributions sum in sorted term
   * order before rounding). Only MATCHING terms explain (tf > 0, the ES
   * convention); docs matching nothing produce no rows. The relevance
   * debugger's workhorse: "why did doc X outrank doc Y" answers from
   * the per-term rows without re-deriving the formula by hand.
   */
  def explainScore(docs: DataFrame, idCol: String, textCol: String,
                   query: String, params: Bm25Params = Bm25Params(),
                   roundTo: Int = 4): DataFrame = {
    val terms = queryTerms(query)
    val s = scanScore(docs, textCol, terms, params)
    // ONE corpus scan: per-term (term, tf, df, idf, contribution)
    // structs explode in place — df/idf are driver-folded constants inside
    // the struct, so the row-to-m-rows expansion costs a projection, not
    // m re-scans
    val termStructs = terms.map { t =>
      struct(lit(t).as("term"), s.tf(t).as("tf"),
        lit(s.stats.df.getOrElse(t, 0L)).as("df"),
        lit(s.stats.idf(t)).as("idf"),
        bm25Term(lit(s.stats.idf(t)), s.tf(t), s.dl, s.stats.avgdl, params).as("c"))
    }
    docs
      .where(s.matched >= 1)
      .select(col(idCol).as("doc_id"), s.dl.as("_dl"),
        round(s.score, roundTo).as("score"),
        explode(array(termStructs: _*)).as("_e"))
      .where(col("_e.tf") > 0)
      .select(col("doc_id"), col("_e.term").as("term"),
        col("_e.tf").cast("long").as("tf"), col("_e.df").as("df"),
        round(col("_e.idf"), 6).as("idf"),
        col("_dl").cast("long").as("dl"),
        round(col("_e.c"), 6).as("contribution"),
        col("score"))
      .orderBy("doc_id", "term")
  }

  /**
   * nested query top-k (the ES `nested` query): documents whose
   * array-of-struct field contains ≥ `minMatched` elements satisfying
   * `pred` — ON THE SAME ELEMENT, the whole reason ES nested docs exist
   * (a flattened mapping matches when DIFFERENT elements each satisfy
   * part of a conjunction; nested does not). Ranked by matched-element
   * count desc (the inner-hits evidence), id asc; output carries the
   * count (`n_matched`). One map-only scan — the element predicate is a
   * codegen'd HOF filter over the array column, no explode, no shuffle
   * before the TakeOrdered.
   */
  def nestedTopK(docs: DataFrame, idCol: String, itemsCol: String,
                 pred: Column => Column, k: Int,
                 minMatched: Int = 1): DataFrame = {
    require(minMatched >= 1, "minMatched must be >= 1")
    val n = size(filter(col(itemsCol), e => pred(e)))
    rankTail(docs
      .select(col(idCol).as("doc_id"), n.as("n_matched"))
      .where(col("n_matched") >= minMatched), k,
      Seq(col("n_matched").desc, col("doc_id").asc),
      Seq("doc_id", "rank", "n_matched"))
  }

  // ------------------------------------------------------------------
  // span queries: span_near (in-order proximity with a width budget)
  // and span_first (match within the first `end` positions) — the ES
  // span family over the same position machinery as the phrase paths
  // ------------------------------------------------------------------

  /** The span_near in-order match-count law, shared verbatim by the scan
    * and indexed paths: tf = #{p₁ ∈ pos(t₁) : the GREEDY chain
    * p₂ = min{q ∈ pos(t₂) : q > p₁}, p₃ = min{q ∈ pos(t₃) : q > p₂}, …
    * exists and (p_m − p₁ + 1 − m) ≤ slop}. Greedy minimal completion
    * minimizes p_m for a given p₁, so "the chain satisfies the budget"
    * ⇔ "SOME in-order tuple from p₁ does" — the count is exact, not a
    * heuristic, and each p₁ is counted once (no combinatorial blowup).
    * `posCols(j)` = term j's sorted position array for the doc. */
  private def spanNearTf(posCols: Seq[Column], slop: Int): Column = {
    val m = posCols.length
    size(filter(posCols.head, p1 => {
      val pm = posCols.tail.foldLeft(p1)((prev, ps) =>
        array_min(filter(ps, q => q > prev)))
      // an incomplete chain leaves pm null; null comparisons are null and
      // filter keeps only TRUE — exactly the "no match from p1" case
      pm - p1 + lit(1 - m) <= lit(slop)
    })).cast("double")
  }

  /** Validated single-term span clauses, in clause order. */
  private def spanTerms(clauses: Seq[String], slop: Int): Seq[String] = {
    require(clauses.nonEmpty, "span_near needs >= 1 clause")
    require(slop >= 0, "slop must be non-negative")
    clauses.map { c =>
      val t = queryTerms(c)
      require(t.length == 1, s"span clauses are single terms: got '$c'")
      t.head
    }
  }

  /** Per-term 0-based position array over the shared tokenization law —
    * the span scan paths' pivot. Empty-token guard (the phraseFreq
    * convention): sequence(0, -1) on a zero-token doc yields the
    * DESCENDING [0, -1] and element_at(tok, 0) throws unconditionally —
    * such docs have no positions at all. */
  private def scanPositions(tok: Column, t: String): Column =
    when(size(tok) >= 1,
      filter(sequence(lit(0), size(tok) - 1),
        i => element_at(tok, i + 1) === lit(t)))
      .otherwise(array().cast("array<int>"))

  /**
   * span_near top-k (the ES `span_near` query with `in_order: true` and
   * single-term clauses): a document matches when its tokens contain the
   * clause terms in order within a span of at most `clauses.length +
   * slop` positions; tf = the [[spanNearTf]] greedy count, score = the
   * phrase convention (Σ idf over clauses × BM25 tf saturation — spans
   * are phrase-shaped evidence, so they score like phrases). Map-only
   * scan + TakeOrdered, ties to the smaller id, round(`roundTo`).
   * slop 0 with adjacent clauses degenerates to [[phraseTopK]]'s exact
   * law on distinct-term phrases.
   */
  def spanNearTopK(docs: DataFrame, idCol: String, textCol: String,
                   clauses: Seq[String], slop: Int, k: Int,
                   params: Bm25Params = Bm25Params(),
                   roundTo: Int = 4): DataFrame = {
    val terms = spanTerms(clauses, slop)
    val stats = corpusStats(docs, textCol, terms.distinct.sorted)
    val tok = tokens(col(textCol))
    phraseRank(scanFreqs(docs, idCol, tok,
        spanNearTf(terms.map(scanPositions(tok, _)), slop)),
      lit(idfSum(stats, terms)), stats.avgdl, k, params, roundTo)
  }

  /** [[spanNearTopK]] from a persisted POSITIONAL postings index —
    * bit-identical output at Σ df posting rows of read: per-term position
    * sets pivot from the stored arrays (the [[indexedPhraseTopK]] shape),
    * the chain law is [[spanNearTf]] verbatim, df/idf counted in the
    * same plan over the position pivot. */
  def indexedSpanNearTopK(spark: org.apache.spark.sql.SparkSession,
                          dir: String, clauses: Seq[String], slop: Int,
                          k: Int, params: Bm25Params = Bm25Params(),
                          roundTo: Int = 4): DataFrame = {
    val terms = spanTerms(clauses, slop)
    val distinctTerms = terms.distinct.sorted
    val ir = indexRead(spark, dir, distinctTerms, positionsFor = Some("span"))
    phraseRank(positionPivot(ir, distinctTerms.map(isTerm))(
        idfFold(terms, roleOf(distinctTerms))).withColumn("_ptf",
        spanNearTf(terms.map(pivotCol("_ps", distinctTerms)), slop)),
      col("_idfs"), ir.avgdl, k, params, roundTo)
  }

  /**
   * span_first top-k (the ES `span_first` query over a single-term
   * match): only occurrences at token positions < `end` count; tf = that
   * truncated occurrence count, score = the phrase convention with the
   * term's own idf. The "title match" workhorse when a corpus stores
   * title+body as one field. Map-only scan + TakeOrdered.
   */
  def spanFirstTopK(docs: DataFrame, idCol: String, textCol: String,
                    term: String, end: Int, k: Int,
                    params: Bm25Params = Bm25Params(),
                    roundTo: Int = 4): DataFrame = {
    val t = spanFirstTerm(term, end)
    val stats = corpusStats(docs, textCol, Seq(t))
    val tok = tokens(col(textCol))
    // positions are 0-based, so "span ends within the first `end`
    // positions" = occurrence index < end
    phraseRank(scanFreqs(docs, idCol, tok,
        size(filter(slice(tok, 1, end), x => x === lit(t))).cast("double")),
      lit(stats.idf(t)), stats.avgdl, k, params, roundTo)
  }

  /** Validated span_first arguments: the one analyzed term. */
  private def spanFirstTerm(term: String, end: Int): String = {
    require(end >= 1, "end must be >= 1")
    val ts = queryTerms(term)
    require(ts.length == 1, s"span_first matches a single term: got '$term'")
    ts.head
  }

  /** [[spanFirstTopK]] from a persisted POSITIONAL postings index:
    * ONE term's postings (≤ df rows) pivoted per doc (the pivot's exchange
    * is what its in-plan df reads), tf = stored positions < `end`,
    * bit-identical scores. */
  def indexedSpanFirstTopK(spark: org.apache.spark.sql.SparkSession,
                           dir: String, term: String, end: Int, k: Int,
                           params: Bm25Params = Bm25Params(),
                           roundTo: Int = 4): DataFrame = {
    val t = spanFirstTerm(term, end)
    val ir = indexRead(spark, dir, Seq(t), positionsFor = Some("span"))
    phraseRank(positionPivot(ir, Seq(isTerm(t)))(idf => idf(0)).withColumn("_ptf",
        size(filter(col("_ps0"), p => p < lit(end))).cast("double")),
      col("_idfs"), ir.avgdl, k, params, roundTo)
  }

  // ------------------------------------------------------------------
  // span_or / span_not: the remaining ES span-family compositors, over
  // the same greedy-chain position machinery as span_near/span_first.
  // span_or = the union of alternative single-term spans (standalone, or
  // as a CLAUSE of a span_near chain); span_not = include spans minus
  // those an exclude occurrence shadows within a [pre, post] window.
  // ------------------------------------------------------------------

  /** Parse span_or clauses: each inner Seq is one clause's alternative
    * single terms (a 1-element Seq = a plain span_term clause). */
  private def parseOrClauses(clauses: Seq[Seq[String]], slop: Int): Seq[Seq[String]] = {
    require(clauses.nonEmpty, "span_near needs >= 1 clause")
    require(slop >= 0, "slop must be non-negative")
    clauses.map { c =>
      val ts = c.flatMap(queryTerms).distinct.sorted
      require(ts.nonEmpty, "a span_or clause needs >= 1 term")
      ts
    }
  }

  /** The span_or clause idf fold: left-assoc Σ over clauses in query
    * order of each clause's UNION-df idf. */
  private def clauseIdfSum(nDocs: Long, clauseDfs: Seq[Long]): Double =
    clauseDfs.foldLeft(0.0)((a, df) => a + idfOf(nDocs, df))

  /**
   * span_near over span_or clauses (the ES `span_near` whose clauses may
   * be `span_or`s of single terms; `in_order: true`): clause j's position
   * set is the UNION of its alternatives' positions, and the greedy
   * chain law ([[spanNearTf]]) runs over the union sets — 1-term clauses
   * recover [[spanNearTopK]] exactly. A SINGLE multi-term clause at slop 0
   * is the standalone `span_or` query: the chain degenerates to "any
   * occurrence", tf = |union|. Scoring: clause idf uses the clause's
   * UNION df (#docs holding ANY alternative — a span_or clause is one
   * subquery, so its rarity is the union's, not its alternatives' sum),
   * idfSum = left-assoc Σ over clauses in query order, score = the
   * phrase convention. Map-only scan + TakeOrdered.
   */
  def spanOrNearTopK(docs: DataFrame, idCol: String, textCol: String,
                     clauses: Seq[Seq[String]], slop: Int, k: Int,
                     params: Bm25Params = Bm25Params(),
                     roundTo: Int = 4): DataFrame = {
    val alts = parseOrClauses(clauses, slop)
    val tok = tokens(col(textCol))
    // ONE stats pass: N, Σdl, each clause's union df
    val (nDocs, c) = scanCounts(docs, sum(size(tok).cast("long")) +:
      alts.map(ts => sum(when(ts.map(t => array_contains(tok, t)).reduce(_ || _), 1L)
        .otherwise(0L))))
    // union = concat: alternatives are DISTINCT terms, so their position
    // sets are disjoint (no double counting); the chain law never needs
    // sorted inputs (filter + array_min are order-free)
    val tf = spanNearTf(alts.map(ts => concat(ts.map(scanPositions(tok, _)): _*)), slop)
    phraseRank(scanFreqs(docs, idCol, tok, tf), lit(clauseIdfSum(nDocs, c.tail)),
      c.head.toDouble / nDocs, k, params, roundTo)
  }

  /** [[spanOrNearTopK]] from a persisted POSITIONAL postings index —
    * bit-identical at Σ df posting rows of read: one pivot role per
    * CLAUSE, whose position set is the union of its alternatives' stored
    * arrays (the chain law is order-free, so the union's order does not
    * matter) and whose presence count is the clause's union df. */
  def indexedSpanOrNearTopK(spark: org.apache.spark.sql.SparkSession,
                            dir: String, clauses: Seq[Seq[String]],
                            slop: Int, k: Int,
                            params: Bm25Params = Bm25Params(),
                            roundTo: Int = 4): DataFrame = {
    val alts = parseOrClauses(clauses, slop)
    val distinctTerms = alts.flatten.distinct.sorted
    val ir = indexRead(spark, dir, distinctTerms, positionsFor = Some("span"))
    phraseRank(positionPivot(ir, alts.map(inSet(col("term"), _)))(idf =>
        alts.indices.foldLeft(lit(0.0))((a, j) => a + idf(j))).withColumn("_ptf",
        spanNearTf(alts.indices.map(j => col(s"_ps$j")), slop)),
      col("_idfs"), ir.avgdl, k, params, roundTo)
  }

  /** The span_not tf law, shared verbatim by the scan and indexed paths:
    * tf = #{p₁ ∈ pos(t₁) : the greedy in-order chain completes within
    * the slop budget (the [[spanNearTf]] law, span = [p₁, p_m]) AND no
    * exclude occurrence q lies in [p₁ − pre, p_m + post]}. Lucene's
    * SpanNotQuery rejects enumerated include spans that an exclusion
    * overlaps (dist extended by pre/post); our include enumerator is the
    * greedy-minimal chain, so the rejected set is decided against the
    * MINIMAL span from each start — the same spans [[spanNearTf]]
    * counts. */
  private def spanNotTf(posCols: Seq[Column], slop: Int, excPos: Column,
                        pre: Int, post: Int): Column = {
    val m = posCols.length
    size(filter(posCols.head, p1 => {
      val pm = posCols.tail.foldLeft(p1)((prev, ps) =>
        array_min(filter(ps, q => q > prev)))
      (pm - p1 + lit(1 - m) <= lit(slop)) &&
        size(filter(excPos,
          q => q >= p1 - lit(pre) && q <= pm + lit(post))) === lit(0)
    })).cast("double")
  }

  /** Validated span_not arguments: (include terms in clause order,
    * sorted distinct exclude terms). */
  private def spanNotArgs(include: Seq[String], slop: Int, exclude: Seq[String],
                          pre: Int, post: Int): (Seq[String], Seq[String]) = {
    require(include.nonEmpty, "span_not needs >= 1 include clause")
    require(pre >= 0 && post >= 0, "slop/pre/post must be non-negative")
    val terms = spanTerms(include, slop)
    val exc = exclude.flatMap(queryTerms).distinct.sorted
    require(exc.nonEmpty, "span_not needs >= 1 exclude term")
    (terms, exc)
  }

  /**
   * span_not top-k (the ES `span_not` query): include = an in-order
   * span_near chain of single terms (a 1-element `include` is the plain
   * span_term form), exclude = any of `exclude`'s terms occurring within
   * `pre` positions before the span start through `post` positions after
   * the span end (ES `pre`/`post`, default 0 = overlap-only). tf = the
   * surviving-span count ([[spanNotTf]]); idfSum = Σ idf over the
   * include terms (the phrase convention — exclusion changes the
   * EVIDENCE, not the include terms' rarity); score = the phrase
   * convention. Map-only scan + TakeOrdered.
   */
  def spanNotTopK(docs: DataFrame, idCol: String, textCol: String,
                  include: Seq[String], slop: Int, exclude: Seq[String],
                  pre: Int = 0, post: Int = 0, k: Int = 10,
                  params: Bm25Params = Bm25Params(),
                  roundTo: Int = 4): DataFrame = {
    val (terms, exc) = spanNotArgs(include, slop, exclude, pre, post)
    val stats = corpusStats(docs, textCol, terms.distinct.sorted)
    val tok = tokens(col(textCol))
    val tf = spanNotTf(terms.map(scanPositions(tok, _)), slop,
      concat(exc.map(scanPositions(tok, _)): _*), pre, post)
    phraseRank(scanFreqs(docs, idCol, tok, tf), lit(idfSum(stats, terms)),
      stats.avgdl, k, params, roundTo)
  }

  /** [[spanNotTopK]] from a persisted POSITIONAL postings index —
    * bit-identical: include-term positions AND exclude-term positions
    * both pivot from the pruned postings (an excluded-only doc never
    * scores, so pruning to include∪exclude terms loses nothing); df/idf
    * of the include terms counted in the same plan over that pivot. */
  def indexedSpanNotTopK(spark: org.apache.spark.sql.SparkSession,
                         dir: String, include: Seq[String], slop: Int,
                         exclude: Seq[String], pre: Int = 0, post: Int = 0,
                         k: Int = 10, params: Bm25Params = Bm25Params(),
                         roundTo: Int = 4): DataFrame = {
    val (terms, exc) = spanNotArgs(include, slop, exclude, pre, post)
    val allTerms = (terms ++ exc).distinct.sorted
    val ir = indexRead(spark, dir, allTerms, positionsFor = Some("span"))
    val ps = pivotCol("_ps", allTerms)
    phraseRank(positionPivot(ir, allTerms.map(isTerm))(
        idfFold(terms, roleOf(allTerms))).withColumn("_ptf",
        spanNotTf(terms.map(ps), slop, concat(exc.map(ps): _*), pre, post)),
      col("_idfs"), ir.avgdl, k, params, roundTo)
  }

  /**
   * terms_set top-k (the ES `terms_set` query): like a bool-should over
   * `terms`, but the minimum number of matching DISTINCT terms comes
   * from a PER-DOCUMENT expression `msm` (the ES
   * `minimum_should_match_field` / `_script` — e.g. `least(lit(2),
   * col("required_matches"))`). The effective bound is
   * `greatest(msm, 1)` — a null/zero/negative per-doc value degrades to
   * the plain OR match, and a value above the term count matches
   * nothing, both the Lucene CoveringQuery edges. Scoring is
   * [[bm25TopK]]'s law verbatim over the sorted distinct terms (only
   * present terms contribute — absent terms add exactly +0.0). Scan-only
   * by nature: the per-doc bound reads a document field, which a
   * postings index does not carry.
   */
  def termsSetTopK(docs: DataFrame, idCol: String, textCol: String,
                   terms: Seq[String], msm: Column, k: Int,
                   params: Bm25Params = Bm25Params(),
                   roundTo: Int = 4): DataFrame = {
    val ts = terms.flatMap(queryTerms).distinct.sorted
    require(ts.nonEmpty, "terms_set needs >= 1 term")
    bm25TopKWith(docs, idCol, scanScore(docs, textCol, ts, params), k, roundTo,
      greatest(coalesce(msm.cast("int"), lit(1)), lit(1)))
  }

  // ------------------------------------------------------------------
  // match_phrase_prefix: the search-as-you-type phrase form — every
  // term but the last matches exactly in sequence, the LAST term
  // matches as a prefix at its slot
  // ------------------------------------------------------------------

  /** Phrase-prefix idf fold: fixed terms in PHRASE order (repeats count
    * each occurrence, the [[phraseTopK]] Lucene convention), then the
    * prefix term's relaxed idf — one left fold shared verbatim by the
    * scan and indexed paths. */
  private def phrasePrefixIdfSum(nDocs: Long, fixed: Seq[String],
                                 fixedDf: Map[String, Long],
                                 prefixDf: Long): Double =
    fixed.foldLeft(0.0)((a, t) => a + idfOf(nDocs, fixedDf(t))) +
      idfOf(nDocs, prefixDf)

  /**
   * Phrase-prefix top-k (the ES `match_phrase_prefix` query — the
   * search-as-you-type shape): a base position matches when every term
   * but the last appears EXACTLY at its slot and the token at the last
   * slot STARTS WITH the final term ("fast key or" finds "fast key
   * order"). Scoring is the [[phraseTopK]] BM25 law with the
   * phrase-prefix occurrence count as tf; the combined idf folds the
   * fixed terms' exact dfs in phrase order then the prefix term's
   * RELAXED df (distinct docs holding ≥1 token with the prefix — the
   * [[prefixTopK]] df notion). Same map-only scan + TakeOrdered shape
   * as [[phraseTopK]]: the occurrence count is a HOF projection, stats
   * are one bounded aggregate, no corpus shuffle. A single-term phrase
   * degenerates to prefix matching under phrase scoring.
   */
  def phrasePrefixTopK(docs: DataFrame, idCol: String, textCol: String,
                       phrase: String, k: Int,
                       params: Bm25Params = Bm25Params(),
                       roundTo: Int = 4): DataFrame = {
    val pTerms = phraseArgs(phrase, 0)
    val fixed = pTerms.init
    val distinctFixed = fixed.distinct.sorted
    // ONE row-local codegen kernel per expression tree computes (dl, ptf,
    // df flags) from a single tokenize ([[graft.functions.PhrasePrefixStats]])
    // — the HOF formulation this replaces (`filter(sequence(...))` starts
    // scan + `exists(startsWith)` + per-expression re-tokenize) is
    // CodegenFallback: an interpreted lambda per candidate start and 3-4
    // tokenizes per row per pass. The scoring scan evaluates the kernel
    // twice per surviving row (the committed plan keeps
    // `phrase_prefix_stats` in both the pushed Filter on `ptf > 0` and the
    // Project), so that pass tokenizes twice. Bit-identical by the
    // kernel's differential spec; same two-pass shape (bounded stats
    // aggregate, then the map-only scoring scan).
    val statsCol = graft.functions.EsFunctions.phrase_prefix_stats(
      col(textCol), fixed, pTerms.last)
    // one bounded aggregate: n, Σdl, exact df per fixed term, relaxed
    // (prefix) df for the last term
    val (nDocs, c) = scanCounts(docs.select(statsCol.as("_s")),
      sum(col("_s.dl").cast("long")) +: (0 to distinctFixed.length).map(i =>
        sum(element_at(col("_s.hits"), lit(i + 1)).cast("long"))))
    val idfs = phrasePrefixIdfSum(nDocs, fixed,
      distinctFixed.zip(c.tail).toMap, c.last)
    phraseRank(docs.select(col(idCol).as("doc_id"), statsCol.as("_s"))
      .select(col("doc_id"), col("_s.ptf").cast("double").as("_ptf"),
        col("_s.dl").cast("double").as("dl")),
      lit(idfs), c.head.toDouble / nDocs, k, params, roundTo)
  }

  /**
   * Phrase-prefix top-k from a persisted POSITIONAL postings index —
   * [[phrasePrefixTopK]] answered from the term dictionary + pruned
   * `tb=` buckets: the final term expands against the VOCABULARY
   * (prefix match, `maxExpansions` cap — ES `match_phrase_prefix`
   * defaults its expansion cap to 50 for exactly this reason; 0 opts in
   * to unlimited = exact scan equality), and a doc's occurrence starts
   * are the intersection of the fixed terms' shifted position sets with
   * the UNION of the expansion terms' positions shifted to the last
   * slot (a token occupies exactly one term, so the union is
   * duplicate-free). The prefix term's relaxed df is recomputed exactly
   * as distinct docs holding ≥1 expansion posting; fixed dfs, idf fold,
   * tie-break and rounding are the scan law verbatim — bit-identical
   * unless the cap binds. Cost: one map-only dictionary read (the
   * prefix pushed into it) + Σ df postings of the touched terms, read
   * once; the corpus is never scanned.
   */
  def indexedPhrasePrefixTopK(spark: org.apache.spark.sql.SparkSession,
                              dir: String, phrase: String, k: Int,
                              params: Bm25Params = Bm25Params(),
                              roundTo: Int = 4,
                              maxExpansions: Int = 50): DataFrame = {
    require(maxExpansions >= 0, "maxExpansions must be >= 0 (0 = unlimited)")
    val pTerms = phraseArgs(phrase, 0)
    val fixed = pTerms.init
    val prefix = pTerms.last
    val distinctFixed = fixed.distinct.sorted
    val m = pTerms.length
    val expansion = capExpansion(dictionaryMatches(spark, dir,
      Seq(col("term").startsWith(lit(prefix)))).head, maxExpansions)
    val allTerms = (distinctFixed ++ expansion).distinct.sorted
    // ONE postings open per query: the pruned read doubles as the schema
    // probe (" " can never be a token, so a single-term phrase with no
    // expansion still gets a typed, empty frame). The positional check
    // runs FIRST: a non-positional index must refuse loudly even when the
    // prefix matches no vocabulary term — an empty result from an index
    // that could never serve the query would mask the misuse
    val ir = indexRead(spark, dir, if (allTerms.isEmpty) Seq(" ") else allTerms,
      positionsFor = Some("phrase-prefix"))
    if (expansion.isEmpty) return ir.none
    // the fixed terms' position sets + ONE prefix-expansion set (the last
    // role, whose presence count is the prefix term's relaxed df); the
    // idf fold is [[phrasePrefixIdfSum]]'s: fixed terms in phrase order,
    // then the prefix. starts = ∩ (fixed set_j − j) ∩ (expansion set −
    // (m−1)): pure integer set arithmetic over stored positions, text
    // never re-read
    val nf = distinctFixed.length
    val grouped = positionPivot(ir,
        distinctFixed.map(isTerm) :+ inSet(col("term"), expansion))(idf =>
      idfFold(fixed, roleOf(distinctFixed))(idf) + idf(nf))
    val ps = pivotCol("_ps", distinctFixed)
    val starts = (fixed.zipWithIndex.map { case (t, j) =>
      transform(ps(t), p => p - lit(j))
    } :+ transform(col(s"_ps$nf"), p => p - lit(m - 1)))
      .reduce((a, b) => array_intersect(a, b))
    phraseRank(grouped.withColumn("_ptf", size(starts).cast("double")),
      col("_idfs"), ir.avgdl, k, params, roundTo)
  }

  // ------------------------------------------------------------------
  // Boolean queries: must / should / must_not — the ES `bool` query,
  // the most common real-search request shape
  // ------------------------------------------------------------------

  /** [[queryTerms]] tolerant of empty/null input (bool clauses may be
    * absent). */
  private def termsOf(q: String): Seq[String] =
    if (q == null || q.trim.isEmpty) Seq.empty else queryTerms(q)

  /**
   * Boolean-query top-k (the ES `bool` query): documents must contain ALL
   * `must` terms, NONE of the `mustNot` terms, and — when `must` is empty —
   * at least one `should` term (with `must` present, `should` is a pure
   * score boost, the ES rule). Score = the [[bm25TopK]] BM25 sum over the
   * UNION of must+should terms in sorted order (an absent should term
   * contributes exactly +0.0). At least one of must/should is required.
   *
   * Scale shape: identical to [[bm25TopK]] — every clause is an
   * `array_contains` projection on the shared tokenization, so the plan
   * stays map-only + distributed TakeOrdered, two corpus reads total.
   */
  def boolTopK(docs: DataFrame, idCol: String, textCol: String,
               must: String, should: String = "", mustNot: String = "",
               k: Int = 10, params: Bm25Params = Bm25Params(),
               roundTo: Int = 4): DataFrame = {
    val mTerms = termsOf(must)
    val sTerms = termsOf(should)
    val nTerms = termsOf(mustNot)
    require(mTerms.nonEmpty || sTerms.nonEmpty,
      "bool query needs at least one must or should term")
    val s = scanScore(docs, textCol, (mTerms ++ sTerms).distinct.sorted, params)
    val mustPred = mTerms.map(t => array_contains(s.tok, t))
      .foldLeft(lit(true))(_ && _)
    val notPred = nTerms.map(t => !array_contains(s.tok, t))
      .foldLeft(lit(true))(_ && _)
    val shouldPred =
      if (mTerms.nonEmpty) lit(true)
      else sTerms.map(t => array_contains(s.tok, t)).reduce(_ || _)
    rankTail(docs
      .where(mustPred && notPred && shouldPred)
      .select(col(idCol).as("doc_id"), round(s.score, roundTo).as("score")), k)
  }

  /**
   * Boolean-query top-k from a persisted postings index — bit-identical
   * to [[boolTopK]] (the [[indexedBm25TopK]] guarantee extended to
   * clause logic). Reads the pruned buckets of must+should+mustNot
   * terms; clause tests become pivot predicates (`tf > 0` per must term,
   * a max-flag for mustNot), df/score come from the same exact pivot
   * machinery. mustNot postings cost Σ df(t) extra rows of read — the
   * price of exclusion without a corpus scan.
   */
  def indexedBoolTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                      must: String, should: String = "", mustNot: String = "",
                      k: Int = 10, params: Bm25Params = Bm25Params(),
                      roundTo: Int = 4): DataFrame = {
    val mTerms = termsOf(must)
    val sTerms = termsOf(should)
    val nTerms = termsOf(mustNot)
    require(mTerms.nonEmpty || sTerms.nonEmpty,
      "bool query needs at least one must or should term")
    val scoring = (mTerms ++ sTerms).distinct.sorted
    val ir = indexRead(spark, dir, (scoring ++ nTerms).distinct.sorted)
    // one role per scoring term, then ONE for the mustNot set: a doc with
    // any mustNot posting has tf > 0 there
    val grouped = tfPivot(ir, scoring.map(isTerm) :+ inSet(col("term"), nTerms))
    val tf = pivotCol("_tf", scoring)
    val mustOk = mTerms.map(t => tf(t) > 0.0).foldLeft(lit(true))(_ && _)
    val shouldOk =
      if (mTerms.nonEmpty) lit(true)
      else sTerms.map(t => tf(t) > 0.0).reduce(_ || _)
    rankTail(grouped
      .where(mustOk && col(s"_tf${scoring.length}") === 0.0 && shouldOk)
      .select(col("doc_id"), round(termScores(scoring, pivotIdf(scoring), ir.avgdl,
        params, tf, col("dl")), roundTo).as("score")), k)
  }

  // ------------------------------------------------------------------
  // Nested boolean queries with per-clause boosts — the full ES `bool`
  // shape (bool inside should, clause-level boost), generalizing the
  // flat [[boolTopK]]
  // ------------------------------------------------------------------

  /** A node of the ES `bool` tree. `Term` is an analyzed match clause
    * (its text tokenizes via [[queryTerms]]; multi-term = OR-match,
    * BM25-sum score in sorted term order); `Bool` nests arbitrarily.
    * `boost` multiplies the clause's score contribution (the ES
    * clause-level boost; powers of two are IEEE-exact). */
  sealed trait BoolNode { def boost: Double }
  object BoolNode {
    final case class Term(text: String, boost: Double = 1.0) extends BoolNode
    final case class Bool(must: Seq[BoolNode] = Nil,
                          should: Seq[BoolNode] = Nil,
                          mustNot: Seq[BoolNode] = Nil,
                          boost: Double = 1.0) extends BoolNode
  }

  /** Terms that can SCORE (under must/should anywhere in the tree);
    * mustNot subtrees contribute only presence tests. */
  private def scoringTermsOf(n: BoolNode): Seq[String] = n match {
    case BoolNode.Term(text, _) => termsOf(text)
    case BoolNode.Bool(m, s, _, _) => (m ++ s).flatMap(scoringTermsOf)
  }

  /** Every term the tree TESTS (incl. mustNot presence probes). */
  private def allTermsOf(n: BoolNode): Seq[String] = n match {
    case BoolNode.Term(text, _) => termsOf(text)
    case BoolNode.Bool(m, s, mn, _) => (m ++ s ++ mn).flatMap(allTermsOf)
  }

  /** Whether every document matching `n` is GUARANTEED to contain at
    * least one scoring term — the boundedness requirement: a purely
    * negative query would match the whole corpus (and be invisible to
    * the postings index, which only sees docs holding some query term).
    * must: one positive clause suffices; must-empty: the match requires
    * SOME should clause, and any of them could be the one, so ALL must
    * be positive. */
  private def hasPositiveClause(n: BoolNode): Boolean = n match {
    case BoolNode.Term(text, _) => termsOf(text).nonEmpty
    case BoolNode.Bool(m, s, _, _) =>
      m.exists(hasPositiveClause) ||
        (m.isEmpty && s.nonEmpty && s.forall(hasPositiveClause))
  }

  /** The shared predicate/score constructor for both bool-tree paths —
    * parameterized over how a term's tf is read (token-array HOF on the
    * scan, pivot column on the index), so the float arithmetic is the
    * same EXPRESSION on both sides. Laws: a Term scores
    * boost · Σ_{its terms, sorted} bm25(t); a Bool scores
    * boost · (must scores ++ guarded should scores, folded left in GIVEN
    * clause order — must first); a should clause that does not match
    * contributes exactly +0.0 (the when-guard matters for nested bools,
    * whose inner must-terms might partially match); mustNot never
    * scores. Match rule per node: all must ∧ none mustNot ∧ (should
    * optional when must present, else ≥ 1 should). */
  private def boolPredScore(node: BoolNode, idfOf: String => Column,
                            avgdl: Double, params: Bm25Params,
                            tfOf: String => Column, dl: Column): (Column, Column) = {
    def pred(n: BoolNode): Column = n match {
      case BoolNode.Term(text, _) =>
        termsOf(text).map(t => tfOf(t) > lit(0.0)).reduce(_ || _)
      case BoolNode.Bool(m, s, mn, _) =>
        val mp = m.map(pred).foldLeft(lit(true))(_ && _)
        val np = mn.map(c => !pred(c)).foldLeft(lit(true))(_ && _)
        val sp =
          if (s.isEmpty || m.nonEmpty) lit(true)
          else s.map(pred).reduce(_ || _)
        mp && np && sp
    }
    def score(n: BoolNode): Column = n match {
      case BoolNode.Term(text, boost) =>
        lit(boost) * termScores(termsOf(text).distinct.sorted, idfOf, avgdl, params,
          tfOf, dl)
      case BoolNode.Bool(m, s, _, boost) =>
        val parts = m.map(score) ++
          s.map(c => when(pred(c), score(c)).otherwise(lit(0.0)))
        lit(boost) * (if (parts.isEmpty) lit(0.0) else parts.reduce(_ + _))
    }
    (pred(node), score(node))
  }

  /**
   * Nested-bool top-k over a corpus scan — the full ES `bool` request
   * (bool inside should, per-clause boost). The tree must have a
   * positive clause ([[hasPositiveClause]]): purely negative queries are
   * corpus-sized and refused. Same scale shape as [[bm25TopK]]: every
   * clause is a token-array projection, map-only + distributed
   * TakeOrdered, two corpus reads total.
   */
  def boolQueryTopK(docs: DataFrame, idCol: String, textCol: String,
                    node: BoolNode, k: Int,
                    params: Bm25Params = Bm25Params(),
                    roundTo: Int = 4): DataFrame = {
    require(hasPositiveClause(node),
      "bool tree needs a guaranteed positive (must/should) clause — a " +
        "purely negative query matches the whole corpus")
    val s = scanScore(docs, textCol, scoringTermsOf(node).distinct.sorted, params)
    val (pred, score) = boolPredScore(node, idfLit(s.stats), s.stats.avgdl, params,
      s.tf, s.dl)
    rankTail(docs.where(pred)
      .select(col(idCol).as("doc_id"), round(score, roundTo).as("score")), k)
  }

  /**
   * Nested-bool top-k from a persisted postings index — bit-identical to
   * [[boolQueryTopK]]: the pruned read covers every tested term (mustNot
   * probes included, the [[indexedBoolTopK]] price of exclusion without
   * a corpus scan), tf pivots feed the SAME [[boolPredScore]] expression
   * the scan builds, and df/N/avgdl are the exact index statistics.
   */
  def indexedBoolQueryTopK(spark: org.apache.spark.sql.SparkSession,
                           dir: String, node: BoolNode, k: Int,
                           params: Bm25Params = Bm25Params(),
                           roundTo: Int = 4): DataFrame = {
    require(hasPositiveClause(node),
      "bool tree needs a guaranteed positive (must/should) clause — a " +
        "purely negative query matches the whole corpus")
    val readTerms = allTermsOf(node).distinct.sorted
    val ir = indexRead(spark, dir, readTerms)
    val (pred, score) = boolPredScore(node, pivotIdf(readTerms), ir.avgdl, params,
      pivotCol("_tf", readTerms), col("dl"))
    rankTail(tfPivot(ir, readTerms.map(isTerm)).where(pred)
      .select(col("doc_id"), round(score, roundTo).as("score")), k)
  }

  /**
   * Compact a postings index: append/streaming maintenance leaves one
   * file per (bucket, batch) — rewrite back to ~one file per bucket
   * through [[graft.sink.FsAtomic.replaceDir]], behind a full row-count
   * check on the rewritten tree. The streaming maintainer's
   * `batch_stats/` deltas fold into the base
   * stats record afterwards, so a long-lived stream's per-batch rows
   * don't accumulate into query-time reads. Offline maintenance op, like
   * `ann-compact`: not concurrent with commits. Returns (files before,
   * files after). */
  def compactPostingsIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String): (Long, Long) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    healDeletes(fs, dir)
    val post = new org.apache.hadoop.fs.Path(s"$dir/postings")
    graft.sink.FsAtomic.heal(fs, post)
    val before = graft.sink.ShardState.countDataFiles(fs, post)
    // effective stats BEFORE touching anything (base + streaming deltas −
    // pending tombstones: readStats already nets the delete mass out, so
    // the post-compaction base record simply inherits it)
    val (n, t, buckets) = readStats(spark, dir)
    // physical removal of tombstoned docs rides the rewrite: anti-join on
    // the bounded delete set, then the set is retired with the deltas
    val data0 = spark.read.parquet(post.toString)
    val data = postingsTombstones(spark, dir)
      .map(d => data0.join(broadcast(d), Seq("doc_id"), "left_anti"))
      .getOrElse(data0)
    val total = data.count()
    graft.sink.FsAtomic.replaceDir(fs, post) { staging =>
      data.repartition(buckets, col("tb"))
        .write.partitionBy("tb").parquet(staging.toString)
      val rewritten = spark.read.parquet(staging.toString).count()
      if (rewritten != total) throw new IllegalStateException(
        s"postings compaction aborted: rewrote $rewritten of $total rows; postings left intact")
    }
    // fold the streaming deltas AND the tombstone mass into the base
    // record, then retire both (tombstoned rows are physically gone now).
    // The base record remembers WHICH tombstone generation it folded
    // (epoch + mass): if the crash hits between this write and the
    // deletes removal below, readStats sees same-epoch deletes and
    // subtracts only the beyond-folded part — zero — instead of
    // double-subtracting the whole mass.
    // the folded-batch watermark: the highest delta this fold absorbed —
    // a crash between this stats write and the delta-dir removal leaves
    // same-or-lower batch ids that readStats now filters out instead of
    // double-counting (the streaming twin of the tombstone epoch rule)
    val bsPath = new org.apache.hadoop.fs.Path(s"$dir/batch_stats")
    val foldedBatch =
      if (!fs.exists(bsPath)) readFoldedBatch(spark, dir)
      else math.max(readFoldedBatch(spark, dir),
        spark.read.parquet(bsPath.toString)
          .agg(max(col("batch").cast("long"))).head() match {
            case r if r.isNullAt(0) => -1L
            case r => r.getLong(0)
          })
    deleteStats(spark, dir) match {
      case Some((dDocs, dTokens, epoch)) =>
        writeStats(spark, dir, n, t, buckets,
          tombEpoch = epoch, tombDocs = dDocs, tombTokens = dTokens,
          foldedBatch = foldedBatch)
      case None =>
        // no pending deletes: preserve the previously-folded triple so a
        // crash-leftover same-epoch record (already retired mass) stays
        // recognizable
        val (_, _, _, fe, fd, ft) = readBaseStatsFull(spark, dir)
        writeStats(spark, dir, n, t, buckets, fe, fd, ft, foldedBatch)
    }
    // (healDeletes above left no deletes-old that a later heal could
    // resurrect with already-folded mass)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch_stats"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/deletes"), true)
    // rewrite the term dictionary EXACTLY from the compacted postings —
    // retiring append/stream duplicates and tombstoned-only terms, and
    // CREATING terms/ on a pre-dictionary index (the documented upgrade
    // path for relaxed queries). (A crash BEFORE this point leaves the old
    // dictionary — a superset of the live vocabulary, still correct for
    // expansion; see [[termDictionary]].)
    graft.sink.FsAtomic.replaceDir(fs,
        new org.apache.hadoop.fs.Path(s"$dir/terms")) { staging =>
      spark.read.parquet(post.toString)
        .groupBy("term").agg(count(lit(1)).as("df"))
        .write.parquet(staging.toString)
    }
    (before, graft.sink.ShardState.countDataFiles(fs, post))
  }

  // ------------------------------------------------------------------
  // Serving-side companions: highlights and facets (the other two
  // thirds of an ES search response: hits + highlight + aggregations)
  // ------------------------------------------------------------------

  /**
   * Match highlighting: for every document matching ≥1 query term, one
   * row per OCCURRENCE of each present term — its position (0-based
   * token index) and a ±`window`-token snippet centered on it —
   * `(doc_id, term, pos, snippet)`. ALL occurrences are reported, not
   * just the first (the real-positions upgrade: a doc mentioning the
   * term ten times gets ten snippets, like an ES highlighter's fragment
   * list). Pure integer/array arithmetic over the shared tokenization
   * law, so an oracle reproduces it exactly. Map-only scan: terms are a
   * literal array, per-term occurrence positions are one HOF projection
   * over the token array, and each snippet a bounded `slice`; the only
   * row fan-out is the bounded per-occurrence explode — no shuffle.
   * Compose with [[bm25TopK]] by joining on the top-k ids (highlight k
   * docs, not the corpus) — the operator takes any doc frame.
   */
  def highlights(docs: DataFrame, idCol: String, textCol: String,
                 query: String, window: Int = 3): DataFrame = {
    require(window >= 0, "window must be non-negative")
    val terms = queryTerms(query)
    require(terms.nonEmpty, "empty query")
    val tok = tokens(col(textCol))
    // 1-based occurrence positions of `term` in the token array (empty
    // token arrays guard the sequence(): sequence(1, 0) would descend)
    val occ = when(size(col("_w")) > 0,
      filter(transform(sequence(lit(1), size(col("_w"))), i =>
        when(element_at(col("_w"), i) === col("term"), i)),
        x => x.isNotNull))
    docs
      .select(col(idCol).as("doc_id"), tok.as("_w"))
      .select(col("doc_id"), col("_w"),
        explode(array(terms.map(lit): _*)).as("term"))
      .select(col("doc_id"), col("_w"), col("term"),
        explode(occ).as("_p1")) // absent term -> empty list -> no row
      .select(col("doc_id"), col("term"),
        (col("_p1") - 1).cast("int").as("pos"),
        array_join(slice(col("_w"),
          greatest(col("_p1") - window, lit(1)).cast("int"),
          // center the window: length = (pos + window) - start + 1
          ((col("_p1") + window) -
            greatest(col("_p1") - window, lit(1)) + 1).cast("int")), " ")
          .as("snippet"))
  }

  /**
   * Facet counts over the MATCHED set — the aggregations half of an ES
   * search response: for each facet column, the top-`topN` values by
   * document count (ties to the smaller value, NULLs first like ES
   * `missing`) among documents matching ≥1 query term.
   * `(facet, value, docs, rank)`.
   *
   * Scale shape: ONE corpus scan total — each matched row explodes into
   * |facetCols| (facet, value) pairs (bounded fan-out, map-only), one
   * partial+final count on (facet, value), then the per-facet top-N is
   * the bounded [[graft.functions.TopKAgg]] k-heap — no unpartitioned
   * rank window, so a high-cardinality facet column can never become a
   * single-task corpus-sized sort, and F facets cost one pass, not F.
   */
  def facets(docs: DataFrame, textCol: String, query: String,
             facetCols: Seq[String], topN: Int = 10,
             missing: Option[String] = None): DataFrame = {
    require(facetCols.nonEmpty, "need at least one facet column")
    require(topN > 0, "topN must be positive")
    val matchedPred = matchedPredOf(docs, textCol, query)
    // ES `missing`: bucket null facet values under an explicit label
    // instead of the null-first bucket (one knob for all facet columns;
    // accuracy note: unlike ES shard_size, the per-facet top-N here is
    // EXACT — counts aggregate globally before the heap cut, so there is
    // no shard-approximation error to tune away)
    def valueOf(f: String): Column = missing match {
      case Some(mv) => coalesce(col(f).cast("string"), lit(mv))
      case None => col(f).cast("string")
    }
    val pairs = docs.filter(matchedPred)
      .select(explode(array(facetCols.map(f =>
        struct(lit(f).as("facet"), valueOf(f).as("value"))): _*))
        .as("_fv"))
      .select(col("_fv.facet").as("facet"), col("_fv.value").as("value"))
    val counted = pairs.groupBy("facet", "value")
      .agg(count(lit(1)).as("docs"))
    // ascending heap over (−docs, value): docs DESC, value ASC NULLS FIRST
    // (struct ordering puts null fields first) — the ES tie-break law
    counted.groupBy("facet")
      .agg(graft.functions.TopKAgg.top_k(
        struct((-col("docs")).as("nd"), col("value")), topN).as("_top"))
      .select(col("facet"), posexplode(col("_top")))
      .select(col("facet"), col("col.value").as("value"),
        (-col("col.nd")).as("docs"), (col("pos") + 1).cast("int").as("rank"))
  }

  /**
   * Histogram facet over the MATCHED set — the ES `histogram` aggregation:
   * fixed-interval buckets of a numeric column over documents matching ≥1
   * query term, `(bucket, docs)` with bucket = floor(value/interval) ·
   * interval (the ES bucketing law) for non-empty buckets; null values
   * are skipped (ES `missing` unconfigured). One map-only matched scan +
   * one partial+final count whose cardinality is value-range/interval —
   * never corpus rows; no window anywhere.
   */
  def histogramFacet(docs: DataFrame, textCol: String, query: String,
                     numCol: String, interval: Double): DataFrame = {
    require(interval > 0, "interval must be positive")
    docs.filter(matchedPredOf(docs, textCol, query) && col(numCol).isNotNull)
      .select((floor(col(numCol).cast("double") / lit(interval)) *
        lit(interval)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("docs"))
  }

  /**
   * Calendar date-histogram — the ES `date_histogram` aggregation with a
   * `calendar_interval`: rows bucket by `date_trunc(interval, tsCol)`
   * over the (optionally `filter`ed) input, `(bucket, docs)` for
   * NON-EMPTY buckets (the [[histogramFacet]] `min_doc_count = 1`
   * convention; ES gap-fills empty calendar buckets by default — a
   * presentation concern a consumer adds with a `sequence` join, kept
   * out of the engine law). Null timestamps are skipped (ES `missing`
   * unconfigured). One map-only scan + one partial+final count whose
   * cardinality is the covered calendar span / interval — never corpus
   * rows; no window anywhere.
   */
  def dateHistogramFacet(docs: DataFrame, tsCol: String,
                         calendarInterval: String,
                         filter: Option[Column] = None): DataFrame = {
    val allowed = Set("hour", "day", "week", "month", "quarter", "year")
    require(allowed(calendarInterval.toLowerCase(java.util.Locale.ROOT)),
      s"calendarInterval must be one of ${allowed.mkString(", ")}: " +
        s"got '$calendarInterval'")
    filter.map(docs.filter).getOrElse(docs)
      .where(col(tsCol).isNotNull)
      .select(date_trunc(calendarInterval, col(tsCol)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("docs"))
  }

  /**
   * percentiles aggregation over the MATCHED set — the ES `percentiles`
   * aggregation scoped by the search query: for each requested percent
   * (ES convention: 0..100), the value of `numCol` at that rank among
   * documents matching ≥1 query term. EXACT by default (linear
   * interpolation — Spark's `percentile`, one distributed sort-based
   * aggregate): where ES's t-digest is a per-shard memory compromise,
   * the distributed exact form is affordable here and is the oracled
   * law. `approximate = true` switches to `approx_percentile`
   * (engine-specific sketch — spec-bounded, not oracle-comparable).
   * Output: (percent, value), one row per requested percent. Null
   * values are skipped (both forms' aggregate semantics).
   */
  def percentilesFacet(docs: DataFrame, textCol: String, query: String,
                       numCol: String, percents: Seq[Double],
                       approximate: Boolean = false,
                       roundTo: Int = 4): DataFrame = {
    require(percents.nonEmpty, "need at least one percent")
    require(percents.forall(p => p >= 0.0 && p <= 100.0),
      "percents are ES-style 0..100")
    val fr = percents.map(_ / 100.0)
    val agg =
      if (approximate)
        expr(s"approx_percentile($numCol, array(${fr.mkString(",")}), 10000)")
      else expr(s"percentile($numCol, array(${fr.mkString(",")}))")
    docs.filter(matchedPredOf(docs, textCol, query))
      .agg(agg.as("_v"))
      .select(posexplode(col("_v")))
      .select(element_at(array(percents.map(lit): _*), col("pos").cast("int") + 1)
        .as("percent"),
        // approx_percentile preserves the INPUT column's type (a long
        // column yields longs); the facet publishes doubles either way
        round(col("col").cast("double"), roundTo).as("value"))
  }

  /**
   * stats aggregation over the MATCHED set — the ES `stats` agg on a
   * numeric field: ONE row (count, min, max, avg, sum), nulls skipped
   * (the ES missing-value law: count = docs WITH a value). Values
   * publish as doubles rounded to `roundTo`; for an integral column the
   * sum accumulates exactly in the input type before the single cast,
   * so the result is engine-exact (a double column's sum is
   * order-dependent — the rounding absorbs it, the other facets'
   * convention). One map-only matched scan + one partial+final
   * aggregate; no window, no collect.
   */
  def statsFacet(docs: DataFrame, textCol: String, query: String,
                 numCol: String, roundTo: Int = 4): DataFrame = {
    val m = docs.filter(matchedPredOf(docs, textCol, query) &&
      col(numCol).isNotNull)
    m.agg(count(col(numCol)).as("cnt"),
      round(min(col(numCol)).cast("double"), roundTo).as("min_value"),
      round(max(col(numCol)).cast("double"), roundTo).as("max_value"),
      round(sum(col(numCol)).cast("double") /
        count(col(numCol)).cast("double"), roundTo).as("avg_value"),
      round(sum(col(numCol)).cast("double"), roundTo).as("sum_value"))
  }

  /**
   * extended_stats aggregation over the MATCHED set — [[statsFacet]]
   * plus sum_of_squares, POPULATION variance (the ES default:
   * Σx²/n − mean²), std_deviation, and the ±`sigma` std bounds (ES
   * `sigma`, default 2). The derived doubles compute from the exact
   * integral sums in the SAME arithmetic an external oracle can write
   * (sumsq/n − avg·avg, sqrt, avg ± sigma·std — each IEEE-determined
   * from the two exact sums), so hash-equality pins the whole derivation
   * chain. Squares accumulate in LONG for integral inputs (int·int
   * would wrap).
   */
  def extendedStatsFacet(docs: DataFrame, textCol: String, query: String,
                         numCol: String, sigma: Double = 2.0,
                         roundTo: Int = 4): DataFrame = {
    val m = docs.filter(matchedPredOf(docs, textCol, query) &&
      col(numCol).isNotNull)
    val isIntegral = Set("integer", "long", "short", "byte")(
      docs.schema(numCol).dataType.typeName)
    val sq =
      if (isIntegral) col(numCol).cast("long") * col(numCol).cast("long")
      else col(numCol).cast("double") * col(numCol).cast("double")
    val n = count(col(numCol)).cast("double")
    val avg = sum(col(numCol)).cast("double") / n
    val variance = sum(sq).cast("double") / n - avg * avg
    val std = sqrt(variance)
    m.agg(count(col(numCol)).as("cnt"),
      round(min(col(numCol)).cast("double"), roundTo).as("min_value"),
      round(max(col(numCol)).cast("double"), roundTo).as("max_value"),
      round(avg, roundTo).as("avg_value"),
      round(sum(col(numCol)).cast("double"), roundTo).as("sum_value"),
      round(sum(sq).cast("double"), roundTo).as("sum_of_squares"),
      round(variance, roundTo).as("variance"),
      round(std, roundTo).as("std_deviation"),
      round(avg + lit(sigma) * std, roundTo).as("std_upper"),
      round(avg - lit(sigma) * std, roundTo).as("std_lower"))
  }

  /**
   * percentile_ranks aggregation over the MATCHED set — the inverse of
   * [[percentilesFacet]]: for each requested value, the PERCENT of
   * observations ≤ it (one row per value, `(value, percent)`). This is
   * the exact step-CDF form — 100 · |{x : x ≤ v}| / n — the twin an
   * external oracle reproduces; ES's TDigest additionally interpolates
   * between neighboring centroids, a sketch artifact not a semantic
   * (the [[cardinalityFacet]] exact-twin convention). Nulls are skipped.
   * One matched scan + one aggregate for ALL requested values.
   */
  def percentileRanksFacet(docs: DataFrame, textCol: String, query: String,
                           numCol: String, values: Seq[Double],
                           roundTo: Int = 4): DataFrame = {
    require(values.nonEmpty, "need at least one value")
    val v = col(numCol).cast("double")
    val les = values.map(x => sum(when(v <= lit(x), 1L).otherwise(0L)))
    val row = docs.filter(matchedPredOf(docs, textCol, query) && v.isNotNull)
      .agg(count(lit(1)).as("_n"),
        les.zipWithIndex.map { case (c, i) => c.as(s"_le$i") }: _*).head()
    val n = row.getLong(0)
    val out = values.zipWithIndex.map { case (x, i) =>
      val le = if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1)
      (x, if (n == 0L) 0.0 else 100.0 * le.toDouble / n.toDouble)
    }
    val spark = docs.sparkSession
    import spark.implicits._
    // rounding through the shared round() column keeps the published
    // value on the same rounding law as every other facet
    out.toDF("value", "_p")
      .select(col("value"), round(col("_p"), roundTo).as("percent"))
  }

  // ------------------------------------------------------------------
  // more_like_this: the ES MLT query — "find documents like this one"
  // ------------------------------------------------------------------

  /** The like text's term frequencies and its candidate terms (tf >=
    * minTermFreq, sorted) — the one like-text analysis the three MLT
    * entry points share ([[tokens]]' law, driver-side: [[phraseTokens]]). */
  private def likeTerms(likeText: String,
                        minTermFreq: Int): (Map[String, Int], Seq[String]) = {
    val tf = phraseTokens(likeText).groupBy(identity).map { case (t, xs) => t -> xs.size }
    val cands = tf.filter(_._2 >= minTermFreq).keys.toSeq.sorted
    require(cands.nonEmpty,
      s"no like-text term reaches min_term_freq=$minTermFreq")
    (tf, cands)
  }

  /** The shared MLT term-selection law: from per-like-doc term
    * frequencies, keep tf >= minTermFreq and corpus df >= minDocFreq,
    * score each survivor tf · idf (the engine's BM25 idf) ROUNDED to 6
    * decimals (absorbs libm-vs-JVM ln last-ulps so an external oracle
    * selects identically), keep the top maxQueryTerms by (score desc,
    * term asc). Returns terms in sorted order (the bm25 fold law). */
  private def selectMltTerms(tf: Map[String, Int], df: Map[String, Long],
                             nDocs: Long, maxQueryTerms: Int,
                             minTermFreq: Int, minDocFreq: Int): Seq[String] = {
    val scored = tf.toSeq
      .filter { case (_, f) => f >= minTermFreq }
      .flatMap { case (t, f) =>
        val d = df.getOrElse(t, 0L)
        if (d < minDocFreq) None
        else Some((t, BigDecimal(f * idfOf(nDocs, d))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    val selected = scored.sortBy { case (t, s) => (-s, t) }
      .take(maxQueryTerms).map(_._1).sorted
    require(selected.nonEmpty,
      s"no candidate term reaches min_doc_freq=$minDocFreq")
    selected
  }

  /** The scan MLT: ONE stats pass gives N, Σdl and every candidate's df;
    * the selected terms (a subset of the candidates) then score with
    * those same stats through [[bm25TopKWith]] — bit-identical to a
    * fresh stats pass over the selected terms, one corpus pass fewer.
    * `exclude` drops one id from the ranked docs only (the stats still
    * count it). */
  private def moreLikeThisScan(docs: DataFrame, idCol: String, textCol: String,
                               likeText: String, k: Int, maxQueryTerms: Int,
                               minTermFreq: Int, minDocFreq: Int,
                               params: Bm25Params, roundTo: Int,
                               exclude: Option[Any] = None): DataFrame = {
    val (tf, cands) = likeTerms(likeText, minTermFreq)
    val stats = corpusStats(docs, textCol, cands)
    val selected = selectMltTerms(tf, stats.df, stats.nDocs, maxQueryTerms,
      minTermFreq, minDocFreq)
    bm25TopKWith(exclude.fold(docs)(id => docs.where(col(idCol) =!= lit(id))), idCol,
      scanScore(docs, textCol, selected, params, stats = Some(stats)), k, roundTo)
  }

  /**
   * more_like_this top-k (the ES MLT query, like = an existing document):
   * extract the like-doc's most significant terms — per-doc tf >=
   * `minTermFreq` (ES default 2), corpus df >= `minDocFreq` (ES default
   * 5), top `maxQueryTerms` (ES default 25) by tf·idf with ties to the
   * smaller term — then rank the corpus with [[bm25TopK]]'s law verbatim
   * over the selected terms. Corpus stats cover the WHOLE corpus (the
   * like doc included — ES index-stats semantics); the like doc itself is
   * EXCLUDED from the hits (the ES like-by-id convention) before the one
   * [[rankTail]] cut, so ranks run over the surviving docs.
   *
   * Scale shape: one id-pushdown fetch of the like doc (a single text to
   * the driver), one bounded stats aggregate over the candidate terms,
   * then the map-only bm25 scan + distributed TakeOrdered.
   */
  def moreLikeThisTopK(docs: DataFrame, idCol: String, textCol: String,
                       likeId: Any, k: Int, maxQueryTerms: Int = 25,
                       minTermFreq: Int = 2, minDocFreq: Int = 5,
                       params: Bm25Params = Bm25Params(),
                       roundTo: Int = 4): DataFrame = {
    val likeRows = docs.filter(col(idCol) === lit(likeId))
      .select(col(textCol)).head(2)
    require(likeRows.length == 1,
      s"like doc $likeId: expected exactly one row, got ${likeRows.length}")
    moreLikeThisScan(docs, idCol, textCol,
      Option(likeRows(0).getString(0)).getOrElse(""), k, maxQueryTerms,
      minTermFreq, minDocFreq, params, roundTo, exclude = Some(likeId))
  }

  /**
   * more_like_this with free TEXT (the ES `like` = text form): the same
   * term-selection law as [[moreLikeThisTopK]] with tf from the given
   * text; nothing is excluded from the hits (there is no source doc).
   */
  def moreLikeThisTextTopK(docs: DataFrame, idCol: String, textCol: String,
                           likeText: String, k: Int, maxQueryTerms: Int = 25,
                           minTermFreq: Int = 2, minDocFreq: Int = 5,
                           params: Bm25Params = Bm25Params(),
                           roundTo: Int = 4): DataFrame =
    moreLikeThisScan(docs, idCol, textCol, likeText, k, maxQueryTerms,
      minTermFreq, minDocFreq, params, roundTo)

  /**
   * more_like_this from a persisted postings index — the
   * [[moreLikeThisTextTopK]] semantics answered from a standing index:
   * candidate df reads the TERM DICTIONARY (one map-only read of the
   * candidates' rows, summed on the driver — never the corpus), N from
   * the exact stats
   * record, ranking via [[indexedBm25TopK]]'s pruned `tb=` buckets.
   * Bit-identical to the scan form over the indexed corpus right after a
   * build or compact; through appends/tombstones the dictionary df is
   * ADVISORY (see [[termDictionary]]) — selection can differ near the
   * maxQueryTerms cut until a compact, while the RANKING stays exact for
   * whatever terms are selected (df/tf recompute from pruned postings).
   */
  def indexedMoreLikeThisTopK(spark: org.apache.spark.sql.SparkSession,
                              dir: String, likeText: String, k: Int,
                              maxQueryTerms: Int = 25, minTermFreq: Int = 2,
                              minDocFreq: Int = 5,
                              params: Bm25Params = Bm25Params(),
                              roundTo: Int = 4): DataFrame = {
    val (tf, cands) = likeTerms(likeText, minTermFreq)
    val dfMap = dictionaryMatches(spark, dir, Seq(inSet(col("term"), cands))).head.toMap
    val indexStats = readStats(spark, dir)
    val selected = selectMltTerms(tf, dfMap, indexStats._1, maxQueryTerms,
      minTermFreq, minDocFreq)
    indexedBm25TopKWith(spark, dir, indexStats, selected, k,
      params, roundTo, minShouldMatch = 1, searchAfter = None)
  }

  /**
   * function_score — the ES request type that reshapes relevance with
   * document-value functions. Supported subset (documented): a
   * `field_value_factor` with the `ln1p` modifier (function value =
   * ln(1 + factor·v), missing/null v = 0 → function value 0) and a
   * `gauss` decay on a numeric field (exp(−(v−origin)²/(2σ²)) with
   * σ² = −scale²/(2·ln(decayAtScale)), the ES closed form; a null v
   * scores 1.0 — the ES missing-value behavior for decay functions).
   * Functions MULTIPLY together (ES score_mode=multiply) and combine
   * with the BM25 query score per `boostMode`: "multiply" (default) or
   * "sum". Fold order pinned: bm25, then field factor, then decay —
   * left-assoc — and the result rounds once at the end, so an oracle
   * reproduces the float sequence exactly. Same map-only + TakeOrdered
   * shape as [[bm25TopK]]; the functions are pure projections.
   */
  def functionScoreTopK(docs: DataFrame, idCol: String, textCol: String,
                        query: String, k: Int,
                        fieldFactor: Option[(String, Double)] = None,
                        gaussDecay: Option[(String, Double, Double, Double)] =
                          None,
                        boostMode: String = "multiply",
                        params: Bm25Params = Bm25Params(),
                        roundTo: Int = 4): DataFrame = {
    require(fieldFactor.isDefined || gaussDecay.isDefined,
      "function_score needs >= 1 function (fieldFactor / gaussDecay)")
    require(Set("multiply", "sum")(boostMode),
      s"boostMode must be multiply or sum: got '$boostMode'")
    val s = scanScore(docs, textCol, queryTerms(query), params)
    val fns = Seq(
      fieldFactor.map { case (c, factor) =>
        log(lit(1.0) + lit(factor) * coalesce(col(c).cast("double"), lit(0.0)))
      },
      gaussDecay.map { case (c, origin, scale, decay) =>
        require(scale > 0 && decay > 0 && decay < 1,
          "gauss decay needs scale > 0 and decayAtScale in (0,1)")
        val sigma2 = -scale * scale / (2.0 * math.log(decay))
        val v = col(c).cast("double")
        when(v.isNull, lit(1.0)).otherwise(
          exp((v - lit(origin)) * (v - lit(origin)) / lit(-2.0 * sigma2)))
      }).flatten
    // multiply mode folds LEFT from the query score — ((bm25 × f1) × f2)
    // — matching the documented "bm25, then field factor, then decay"
    // association and the oracle's evaluation order exactly (IEEE
    // multiplication is non-associative; the fold order is part of the
    // contract). sum mode keeps ES score_mode=multiply semantics:
    // qScore + (f1 × f2).
    val combined =
      if (boostMode == "multiply") fns.foldLeft(s.score)(_ * _)
      else s.score + fns.reduce(_ * _)
    rankTail(docs.where(s.matched >= 1)
      .select(col(idCol).as("doc_id"), round(combined, roundTo).as("score")), k)
  }

  /**
   * Boosting query — the ES `boosting` request: documents matching the
   * positive query rank by BM25, and documents ALSO matching ≥1
   * negative term are DEMOTED (score × `negativeBoost`), not excluded —
   * the difference from bool must_not. Negative-only docs never rank
   * (no positive evidence). Law: positive score per [[bm25TopK]]
   * (rounded — the published output), then the demotion multiplies and
   * rounds once more; ties to the smaller id. Same map-only +
   * TakeOrdered shape; the negative test is one more array_contains
   * projection on the same token array.
   */
  def boostingTopK(docs: DataFrame, idCol: String, textCol: String,
                   positive: String, negative: String, k: Int,
                   negativeBoost: Double = 0.5,
                   params: Bm25Params = Bm25Params(),
                   roundTo: Int = 4): DataFrame = {
    require(negativeBoost >= 0 && negativeBoost <= 1,
      s"negativeBoost in [0,1]: got $negativeBoost")
    val pTerms = queryTerms(positive)
    val nTerms = queryTerms(negative)
    require(pTerms.nonEmpty, "empty positive query")
    require(nTerms.nonEmpty, "empty negative query")
    val s = scanScore(docs, textCol, pTerms, params)
    val negHit = nTerms.map(t => array_contains(s.tok, t)).reduce(_ || _)
    val pos = round(s.score, roundTo)
    rankTail(docs.where(s.matched >= 1)
      .select(col(idCol).as("doc_id"),
        round(when(negHit, pos * lit(negativeBoost)).otherwise(pos),
          roundTo).as("score")), k)
  }

  /**
   * Field collapse — the ES `collapse` request: at most ONE document per
   * value of `collapseCol` in the ranking (the best by the [[bm25TopK]]
   * score law, ties to the smaller id), then the global top-k of the
   * representatives. Null collapse values are skipped (the aggregation
   * family's missing-value convention — ES requires doc values on the
   * collapse field). Output `(doc_id, value, rank, score)`.
   *
   * Scale shape: scoring is the map-only projection; the per-value best
   * is a bounded [[graft.functions.TopKAgg]] 1-heap (never a rank
   * window — a dominant collapse value cannot funnel a corpus-sized
   * partition), and the global cut is a TakeOrdered over the
   * representative set (≤ |distinct values| rows).
   */
  def collapseTopK(docs: DataFrame, idCol: String, textCol: String,
                   query: String, collapseCol: String, k: Int,
                   params: Bm25Params = Bm25Params(),
                   roundTo: Int = 4): DataFrame = {
    require(k > 0, "k must be positive")
    rankTail(topKPerKey(perValueScores(docs, idCol, textCol, query, collapseCol,
      params, roundTo), "value", 1), k, out = Seq("doc_id", "value", "rank", "score"))
  }

  /** `(value, doc_id, score)` of every matched doc with a non-null
    * `valueCol` — the [[bm25TopK]] score law keyed for a per-value cut
    * ([[collapseTopK]], [[topHitsFacet]]). */
  private def perValueScores(docs: DataFrame, idCol: String, textCol: String,
                             query: String, valueCol: String, params: Bm25Params,
                             roundTo: Int): DataFrame = {
    val s = scanScore(docs, textCol, queryTerms(query), params)
    docs.where(s.matched >= 1 && col(valueCol).isNotNull)
      .select(col(valueCol).cast("string").as("value"), col(idCol).as("doc_id"),
        round(s.score, roundTo).as("score"))
  }

  /**
   * Rescore — the ES `rescore` request: the top `windowSize` docs of the
   * primary BM25 ranking are re-scored as `queryWeight · primary +
   * rescoreWeight · secondary` where the secondary is the
   * [[phraseTopK]] score of `rescorePhrase` (0.0 when the phrase does
   * not occur — ES score_mode=total over a non-matching rescore query),
   * then the top-k of the REORDERED window is returned (docs outside
   * the window never re-enter — the ES window law). Both component
   * scores round to `roundTo` BEFORE combining (they are the published
   * outputs of their operators), the combination rounds once more.
   *
   * Scale shape: the primary is [[bm25TopK]] at k = windowSize
   * (map-only + TakeOrdered); the secondary scores ONLY the window —
   * the window ids broadcast into a semi-join, so the phrase HOF runs
   * over ≤ windowSize docs, not the corpus.
   */
  def rescoreTopK(docs: DataFrame, idCol: String, textCol: String,
                  query: String, rescorePhrase: String, k: Int,
                  windowSize: Int = 50, queryWeight: Double = 1.0,
                  rescoreWeight: Double = 1.0,
                  params: Bm25Params = Bm25Params(),
                  roundTo: Int = 4): DataFrame = {
    require(k > 0 && windowSize >= k,
      s"need windowSize >= k > 0: got windowSize=$windowSize k=$k")
    val primary = bm25TopK(docs, idCol, textCol, query, windowSize,
        params, roundTo)
      .select(col("doc_id"), col("score").as("_primary"))
    val pTerms = phraseTokens(rescorePhrase)
    require(pTerms.nonEmpty, "empty rescore phrase")
    // phrase stats over the FULL corpus (the phraseTopK law — the window
    // changes which docs are scored, never the statistics)
    val stats = corpusStats(docs, textCol, pTerms.distinct.sorted)
    val tok = tokens(col(textCol))
    val windowDocs = docs.join(broadcast(primary),
      docs(idCol) === primary("doc_id"))
    val ptf = phraseFreq(tok, pTerms)
    val secondary = when(ptf > 0,
      round(bm25Term(lit(idfSum(stats, pTerms)), ptf, size(tok).cast("double"),
        stats.avgdl, params), roundTo)).otherwise(lit(0.0))
    rankTail(windowDocs.select(primary("doc_id"),
      round(lit(queryWeight) * col("_primary") +
        lit(rescoreWeight) * secondary, roundTo).as("score")), k)
  }

  /**
   * Term suggester — the ES `term` suggest: dictionary terms within
   * `maxEdits` classic Levenshtein of the (analyzed) input term,
   * EXCLUDING the term itself, ranked by (distance asc, df desc,
   * suggestion asc) — closer corrections first, popularity breaks ties
   * (the ES sort=score default collapses to this for the classic
   * distance). Answered ENTIRELY from the term dictionary: one
   * vocabulary-sized pass behind the length-window prefilter +
   * threshold levenshtein ([[indexedFuzzyTopK]]'s expansion machinery,
   * surfaced as a suggester); the corpus is never touched. df is exact
   * after a build/compact (the [[indexedTopTerms]] caveat applies while
   * appends/tombstones pend). Output `(suggestion, distance, df, rank)`.
   */
  def termSuggest(spark: org.apache.spark.sql.SparkSession, dir: String,
                  term: String, maxEdits: Int = 2, n: Int = 5): DataFrame = {
    require(maxEdits >= 1, "maxEdits must be >= 1")
    require(n > 0, "n must be positive")
    val t = term.toLowerCase(java.util.Locale.ROOT).trim
    require(t.nonEmpty && !t.exists(_.isWhitespace),
      s"term suggester takes ONE analyzed term: got '$term'")
    val cand = termDictionary(spark, dir,
        prefilter = Some(abs(length(col("term")) - lit(t.length))
          <= lit(maxEdits)))
      .select(col("term").as("suggestion"),
        levenshtein(col("term"), lit(t), maxEdits).as("distance"),
        col("df"))
      .filter(col("distance") >= 1) // -1 = beyond maxEdits; 0 = the term
    rankTail(cand, n, Seq(col("distance").asc, col("df").desc, col("suggestion").asc),
      Seq("suggestion", "distance", "df", "rank"))
  }

  /**
   * Completion suggester — the ES `completion` suggest, served from the
   * term dictionary instead of a dedicated FST: dictionary terms
   * carrying the prefix, by (df desc, suggestion asc) — the
   * [[indexedTopTerms]] ranking restricted to a prefix (pushed BEFORE
   * the dictionary aggregate). Output `(suggestion, df, rank)`; same
   * exactness caveat as [[termSuggest]].
   */
  def completionSuggest(spark: org.apache.spark.sql.SparkSession,
                        dir: String, prefix: String, n: Int = 5): DataFrame = {
    require(n > 0, "n must be positive")
    val p = prefix.toLowerCase(java.util.Locale.ROOT).trim
    require(p.nonEmpty, "empty prefix")
    rankTail(termDictionary(spark, dir,
        prefilter = Some(col("term").startsWith(lit(p))))
      .select(col("term").as("suggestion"), col("df")), n,
      Seq(col("df").desc, col("suggestion").asc), Seq("suggestion", "df", "rank"))
  }

  /**
   * Significant terms over the MATCHED set — the ES `significant_terms`
   * aggregation with the JLH heuristic: for each vocabulary term,
   * fg% = (matched docs containing it) / |matched| and
   * bg% = (corpus docs containing it) / N; terms with fg% > bg% score
   * `(fg% − bg%) · fg%/bg%` (the published JLH form — absolute lift
   * times relative lift), everything else is excluded. Output: top-N by
   * (score desc, term asc), `(term, fg_df, bg_df, score)`, score rounded
   * to `roundTo` (fixed arithmetic order — idf-style oracle-exactness).
   * Query terms themselves are not excluded (ES behavior: they
   * trivially dominate; callers filter if unwanted).
   *
   * Scale shape: ONE corpus pass — per doc, distinct tokens explode with
   * a matched flag, then one partial+final aggregate on term gives
   * (bg_df, fg_df) together; |matched| rides the same pass as a
   * conditional count (a second bounded aggregate). The top-N cut is a
   * distributed TakeOrdered over the vocabulary-sized score frame. No
   * window, no per-term scans; the explode shuffles bare
   * (term, flag) pairs — never text, never vectors.
   */
  def significantTermsFacet(docs: DataFrame, textCol: String, query: String,
                            topN: Int = 10, roundTo: Int = 6): DataFrame = {
    require(topN > 0, "topN must be positive")
    val matchedPred = matchedPredOf(docs, textCol, query)
    val tok = tokens(col(textCol))
    val base = docs.select(matchedPred.as("_m"),
      explode(array_distinct(tok)).as("term"))
    val counts = base.groupBy("term").agg(
      count(lit(1)).as("bg_df"),
      sum(when(col("_m"), 1L).otherwise(0L)).as("fg_df"))
    val totals = docs.agg(count(lit(1)).as("_n"),
      sum(when(matchedPred, 1L).otherwise(0L)).as("_fg")).head()
    val n = totals.getLong(0)
    val fgCount = totals.getLong(1)
    require(fgCount > 0, s"no document matches '$query'")
    // fixed arithmetic order: fgP, bgP, (fgP - bgP) * (fgP / bgP) — the
    // oracle reproduces this exact sequence
    val fgP = col("fg_df").cast("double") / lit(fgCount.toDouble)
    val bgP = col("bg_df").cast("double") / lit(n.toDouble)
    rankTail(counts
      .filter(col("fg_df") > 0 && fgP > bgP)
      .select(col("term"), col("fg_df"), col("bg_df"),
        round((fgP - bgP) * (fgP / bgP), roundTo).as("score")), topN,
      Seq(col("score").desc, col("term").asc),
      Seq("term", "fg_df", "bg_df", "score", "rank"))
  }

  /**
   * Top hits per facet value — the ES `top_hits` sub-aggregation under a
   * `terms` bucket: for each value of `facetCol`, the k best matched
   * docs by the [[bm25TopK]] score law, `(value, doc_id, rank, score)`
   * with ties to the smaller id. Null facet values are skipped (ES
   * `missing` unconfigured).
   *
   * Scale shape: scoring is the map-only [[bm25TopK]] projection; the
   * per-value cut is the bounded [[graft.functions.TopKAgg]] k-heap
   * (≤ k rows per (task, value) map-side, ≤ k·tasks shuffled per value)
   * — NOT a rank window, so a dominant facet value can never funnel a
   * corpus-sized partition through one task (the bm25TopKBatch
   * discipline keyed by facet value instead of query id).
   */
  def topHitsFacet(docs: DataFrame, textCol: String, query: String,
                   idCol: String, facetCol: String, k: Int,
                   params: Bm25Params = Bm25Params(),
                   roundTo: Int = 4): DataFrame = {
    require(k > 0, "k must be positive")
    topKPerKey(perValueScores(docs, idCol, textCol, query, facetCol, params,
      roundTo), "value", k)
  }

  /**
   * ES pipeline aggregations over a (date-)histogram result:
   * `cumulative_sum` (running doc total), `derivative` (docs − previous
   * bucket's docs; null for the first bucket — the ES law), and a
   * trailing `moving_fn` average over `window` buckets INCLUDING the
   * current one, rounded to `roundTo`. Input: any `(bucket, docs)` frame
   * ([[dateHistogramFacet]]/[[histogramFacet]] output); output adds
   * `(cum_docs, deriv, mov_avg)`.
   *
   * The global-ordered window here is DELIBERATE and bounded: pipeline
   * aggs run over the HISTOGRAM, whose row count is the calendar span /
   * interval (presentation-sized), never the corpus — the single
   * partition holds e.g. 365 rows for a year of days. The corpus-sized
   * work already happened inside the histogram's partial+final count.
   */
  def pipelineAggs(hist: DataFrame, window: Int = 3,
                   roundTo: Int = 4): DataFrame = {
    require(window > 0, "window must be positive")
    val w = Window.orderBy("bucket")
    hist
      .withColumn("cum_docs", sum(col("docs"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("deriv", col("docs") - lag(col("docs"), 1).over(w))
      .withColumn("mov_avg", round(avg(col("docs"))
        .over(w.rowsBetween(-(window - 1), Window.currentRow)), roundTo))
  }

  /** [[dateHistogramFacet]] over the MATCHED set of a term query — the
    * aggs-under-a-query ES request shape (the [[histogramFacet]] filter
    * law on the time axis). */
  def dateHistogramFacet(docs: DataFrame, textCol: String, query: String,
                         tsCol: String, calendarInterval: String): DataFrame =
    dateHistogramFacet(docs, tsCol, calendarInterval,
      filter = Some(matchedPredOf(docs, textCol, query)))

  /** The shared "matches ≥1 query term" predicate of the aggregation
    * family ([[facets]]/[[histogramFacet]]/[[cardinalityFacet]]). */
  private def matchedPredOf(docs: DataFrame, textCol: String,
                            query: String): Column = {
    val terms = queryTerms(query)
    require(terms.nonEmpty, "empty query")
    val tok = tokens(col(textCol))
    terms.map(t => when(array_contains(tok, t), 1).otherwise(0))
      .reduce(_ + _) > 0
  }

  /**
   * Range aggregation — the ES `range` aggregation: explicit
   * `[from, to)` buckets (either end open), count per bucket over the
   * (optionally `filter`ed) input. Ranges MAY OVERLAP and a row counts
   * in every range containing it (the ES law — this is deliberately not
   * a single CASE/width_bucket), null values count nowhere. Output
   * `(range_key, range_from, range_to, docs)` in GIVEN range order,
   * keys in the ES `from-to` format with `*` for an open end. EVERY
   * range emits a row (ES emits empty range buckets — unlike
   * `histogram`/`date_histogram`, the bucket set here is the request,
   * not the data). Cost: ONE map-only scan with |ranges| conditional
   * counts folding through one bounded partial+final aggregate — a
   * |ranges|-long row to the driver, melted locally; the input is
   * never re-scanned per range and never shuffles.
   */
  def rangeFacet(docs: DataFrame, numCol: String,
                 ranges: Seq[(Option[Double], Option[Double])],
                 filter: Option[Column] = None): DataFrame = {
    require(ranges.nonEmpty, "need at least one range")
    ranges.foreach { case (f, t) =>
      require(f.isDefined || t.isDefined, "a range needs >= 1 bound")
      for (a <- f; b <- t) require(a < b, s"empty range [$a, $b)") }
    val v = col(numCol).cast("double")
    val cnts = ranges.map { case (fromOpt, toOpt) =>
      val bounds = fromOpt.map(f => v >= lit(f)).toSeq ++
        toOpt.map(t => v < lit(t)).toSeq
      sum(when(v.isNotNull && bounds.reduce(_ && _), 1L).otherwise(0L))
    }
    val row = filter.map(docs.filter).getOrElse(docs)
      .agg(cnts.head.as("_c0"),
        cnts.tail.zipWithIndex.map { case (c, i) => c.as(s"_c${i + 1}") }: _*)
      .head()
    def fmt(b: Option[Double]): String = b.map(_.toString).getOrElse("*")
    val out = ranges.zipWithIndex.map { case ((f, t), i) =>
      (s"${fmt(f)}-${fmt(t)}", f, t,
        if (row.isNullAt(i)) 0L else row.getLong(i))
    }
    val spark = docs.sparkSession
    import spark.implicits._
    out.toDF("range_key", "range_from", "range_to", "docs")
  }

  /** [[rangeFacet]] over the MATCHED set of a term query — the
    * aggs-under-a-query ES request shape. */
  def rangeFacet(docs: DataFrame, textCol: String, query: String,
                 numCol: String,
                 ranges: Seq[(Option[Double], Option[Double])]): DataFrame =
    rangeFacet(docs, numCol, ranges,
      filter = Some(matchedPredOf(docs, textCol, query)))

  /**
   * Cardinality aggregation over the MATCHED set — the ES `cardinality`
   * aggregation on doc-values fields, in its EXACT form: one row with a
   * `<field>_cardinality` distinct count per requested field, over
   * documents matching ≥1 query term (null field values don't count —
   * the ES missing-value law). ES serves this approximately via HLL++;
   * the sketch form already exists as the mergeable
   * `hll_sketch_agg`/`hll_union_agg` builtins (q55) for consumers that
   * want re-aggregatable partials — this entry point is the exact twin
   * an oracle can reproduce. One map-only matched scan + one
   * partial+final distinct aggregate per field; no window, no collect.
   */
  def cardinalityFacet(docs: DataFrame, textCol: String, query: String,
                       fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "need at least one field")
    docs.filter(matchedPredOf(docs, textCol, query)).agg(
      countDistinct(col(fields.head)).as(s"${fields.head}_cardinality"),
      fields.tail.map(f =>
        countDistinct(col(f)).as(s"${f}_cardinality")): _*)
  }

  /**
   * Vocabulary cardinality straight from a persisted index's term
   * dictionary — the ES `cardinality` aggregation over an analyzed text
   * field, answered WITHOUT touching the corpus: one vocabulary-sized
   * distinct count over `terms/` (the dictionary stores per-delta
   * partials; the distinct collapses duplicates across appends). Exact
   * after a build or `search-compact`; while TOMBSTONES are pending the
   * dictionary is a superset of the live vocabulary, so the count may
   * include terms all of whose docs are deleted — the same
   * "counts include deleted docs until merge" behavior as
   * [[indexedTopTerms]], resolved by compaction.
   */
  def indexedCardinality(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    termDictionary(spark, dir).agg(count(lit(1)).as("cardinality"))

  // ------------------------------------------------------------------
  // Retrieval evaluation: the metrics side of the search family
  // ------------------------------------------------------------------

  /**
   * Standard retrieval metrics per query — precision@k, recall@k, MRR@k,
   * AP@k, binary nDCG@k — over a run table `(query_id, doc_id, rank)` and
   * a judgments table `(query_id, doc_id)`. One output row per JUDGED
   * query (a query with no qrels has no defined recall/AP/nDCG
   * denominator):
   * `(query_id, relevant, hits, precision_at_k, recall_at_k, mrr, ap, ndcg)`.
   *
   * Definitions (binary relevance): hits = |top-k ∩ qrels|; MRR = 1/rank
   * of the first relevant hit (0 when none); AP = (Σ_{j-th relevant hit}
   * j/rank_j) / |qrels| (TREC convention: total-relevant denominator, so
   * the mean over queries is MAP@k); DCG = Σ_{relevant hits}
   * 1/log2(rank+1); IDCG = Σ_{i=1..min(k,|qrels|)} 1/log2(i+1);
   * nDCG = DCG/IDCG.
   *
   * Determinism: AP, DCG and IDCG are LEFT FOLDS over ascending ranks
   * (`aggregate` over a sorted array / a `sequence`), not a commutative
   * `sum` — float addition order is pinned, so an oracle that folds in
   * the same order reproduces every metric bit for bit (q91). MRR is
   * 1/min(rank), never a float extremum.
   *
   * Scale shape: the run is queries×k rows and qrels are judgment-sized —
   * both tiny next to any corpus. Everything is two equi-joins and a
   * per-query aggregate; the collected-ranks array is ≤ k elements.
   */
  def retrievalMetrics(run: DataFrame, qrels: DataFrame, k: Int,
                       roundTo: Int = 4): DataFrame = {
    require(k > 0, "k must be positive")
    val rel = qrels.select(col("query_id"), col("doc_id")).distinct()
    val relCounts = rel.groupBy("query_id")
      .agg(count(lit(1)).as("relevant"))
    val hit = run.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("hits"), min(col("rank")).as("_minrank"),
        sort_array(collect_list(col("rank"))).as("_ranks"))
    val idcg = expr(
      s"aggregate(sequence(1, int(least($k, relevant))), 0D, " +
        "(a, i) -> a + 1.0D / log2(i + 1))")
    val dcg = expr(
      "aggregate(_ranks, 0D, (a, r) -> a + 1.0D / log2(r + 1))")
    // the j-th relevant hit (ascending ranks) contributes precision@rank_j
    // = j/rank_j; folding over j keeps the addition order pinned
    val apSum = expr(
      "aggregate(sequence(1, size(_ranks)), 0D, " +
        "(a, j) -> a + cast(j as double) / element_at(_ranks, j))")
    relCounts.join(hit, Seq("query_id"), "left")
      .select(col("query_id"), col("relevant"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble),
          roundTo).as("precision_at_k"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          col("relevant").cast("double"), roundTo).as("recall_at_k"),
        round(coalesce(lit(1.0) / col("_minrank").cast("double"), lit(0.0)),
          roundTo).as("mrr"),
        round(coalesce(apSum / col("relevant").cast("double"), lit(0.0)),
          roundTo).as("ap"),
        round(coalesce(dcg / idcg, lit(0.0)), roundTo).as("ndcg"))
  }

  /**
   * Graded-relevance nDCG@k — the TREC-style companion of
   * [[retrievalMetrics]]' binary nDCG: qrels carry an integer `grade`
   * (0 = not relevant; rows with grade ≤ 0 are ignored), gains are
   * `2^grade − 1`, DCG = Σ_{judged hits} gain/log2(rank+1), and IDCG
   * re-ranks the query's own grade multiset descending over ideal
   * positions 1..min(k, judged). One row per judged query:
   * `(query_id, judged, hits, dcg, idcg, ndcg)`.
   *
   * Determinism: both folds run over SORTED arrays (hits by ascending
   * rank; ideal gains by descending grade) with pinned float order, the
   * [[retrievalMetrics]] discipline — an oracle folding in the same
   * order reproduces every value bit for bit.
   */
  def gradedNdcg(run: DataFrame, qrels: DataFrame, k: Int,
                 roundTo: Int = 4): DataFrame = {
    require(k > 0, "k must be positive")
    // conflicting duplicate judgments (same doc, two grades) collapse to
    // the MAX grade before anything else — a (query, doc, grade)-distinct
    // dedup would let both survive, inflating `judged` and duplicating
    // the doc in the DCG fold (binary retrievalMetrics has no such hazard:
    // it dedups on (query, doc) outright)
    val rel = qrels
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("grade").cast("int")).as("grade"))
      .filter(col("grade") > 0)
    val relAgg = rel.groupBy("query_id").agg(
      count(lit(1)).as("judged"),
      reverse(sort_array(collect_list(col("grade")))).as("_grades"))
    val hit = run.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("hits"),
        sort_array(collect_list(struct(col("rank"), col("grade"))))
          .as("_hits"))
    // gains fold over ascending ranks; ideal fold over descending grades
    val dcg = expr("aggregate(_hits, 0D, (a, h) -> " +
      "a + (pow(2.0D, h.grade) - 1.0D) / log2(h.rank + 1))")
    val idcg = expr(s"aggregate(slice(_grades, 1, int(least($k, judged))), " +
      "named_struct('s', 0D, 'i', 0), (a, g) -> named_struct(" +
      "'s', a.s + (pow(2.0D, g) - 1.0D) / log2(a.i + 2), 'i', a.i + 1)).s")
    relAgg.join(hit, Seq("query_id"), "left")
      .select(col("query_id"), col("judged"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(dcg, lit(0.0)), roundTo).as("dcg"),
        round(idcg, roundTo).as("idcg"),
        round(coalesce(dcg / idcg, lit(0.0)), roundTo).as("ndcg"))
  }

  /**
   * Hybrid BM25 + vector search with reciprocal-rank fusion — the
   * published ES/OpenSearch hybrid ranking: each ranker contributes
   * 1/(rrfK + rank) over its top `kCand` candidates, fused score summed
   * in fixed (bm25, vector) order. Docs in either candidate list
   * qualify. `rrfK=60` per the RRF paper (Cormack et al., SIGIR'09).
   * The fusion input is ≤ 2·kCand rows — everything after the two
   * candidate scans is bounded.
   */
  def hybridTopK(docs: DataFrame, idCol: String, textCol: String,
                 vecs: DataFrame, vecIdCol: String, vecCol: String,
                 query: String, queryVec: Seq[Double], k: Int,
                 kCand: Int = 50, rrfK: Int = 60,
                 params: Bm25Params = Bm25Params()): DataFrame = {
    val bm = bm25TopK(docs, idCol, textCol, query, kCand, params)
      .select(col("doc_id"), col("rank").as("bm25_rank"))
    val vc = cosineTopK(vecs, vecIdCol, vecCol, queryVec, kCand)
      .select(col("doc_id"), col("rank").as("vec_rank"))
    rrfFuse(bm, vc, k, rrfK)
  }

  /** THE reciprocal-rank-fusion arithmetic — one definition for every
    * hybrid path (single scan, standing-index, batch), so a future tweak
    * (e.g. a tie_breaker) cannot silently diverge them. */
  private def rrfScoreCol(rrfK: Int): Column =
    coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("bm25_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("vec_rank")), lit(0.0))

  /** RRF fusion of two bounded candidate rank lists `(doc_id, bm25_rank)`
    * / `(doc_id, vec_rank)` — the arithmetic tail SHARED by [[hybridTopK]]
    * and [[hybridTopKIndexed]], so the scan and standing-index paths
    * cannot diverge in the fusion step. Input is ≤ 2·kCand rows. */
  private def rrfFuse(bm: DataFrame, vc: DataFrame, k: Int,
                      rrfK: Int): DataFrame = {
    rankTail(bm.join(vc, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", rrfScoreCol(rrfK)), k,
      Seq(col("rrf_score").desc, col("doc_id").asc),
      Seq("doc_id", "rank", "bm25_rank", "vec_rank", "rrf_score"))
  }

  /**
   * Hybrid BM25 + vector search against STANDING indexes — the
   * serving-loop shape: the BM25 candidates come from a
   * [[buildPostingsIndex]] directory (pruned `tb=` buckets, Σ df posting
   * rows of read) and the vector candidates from a
   * [[Similarity.buildIndex]] ANN directory (probed `cent_id=` cells
   * only), so a hybrid query touches ZERO corpus scans — the reason the
   * reference pipeline builds search indexes at all. Fusion is the
   * [[hybridTopK]] RRF tail verbatim ([[rrfFuse]]).
   *
   * Exactness: the BM25 list is bit-identical to the scan path by the
   * [[indexedBm25TopK]] guarantee. The vector list is the ANN index's
   * ranking — approximate at production knobs; with `nprobe` = the
   * index's nlist, a vectors-stored index, and a non-binding
   * `kCand·rerankFactor` cut it equals the brute-force [[cosineTopK]]
   * exactly (the q96 oracle pins that full-fidelity configuration
   * end-to-end). `syntheticQid` is the query's id in the ANN join and
   * must not collide with any indexed id (the index self-excludes
   * qid == nid); ids are caller-typed, so pass a value outside the
   * corpus id space.
   */
  def hybridTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                        postingsDir: String, annDir: String,
                        query: String, queryVec: Seq[Double], k: Int,
                        kCand: Int = 50, rrfK: Int = 60,
                        params: Bm25Params = Bm25Params(),
                        nprobe: Int = -1, rerankFactor: Int = 64,
                        syntheticQid: Long = -1L,
                        rerankCorpus: Option[DataFrame] = None,
                        rerankIdCol: String = "",
                        rerankVecCol: String = ""): DataFrame = {
    import spark.implicits._
    val bm = indexedBm25TopK(spark, postingsDir, query, kCand, params)
      .select(col("doc_id"), col("rank").as("bm25_rank"))
    val qdf = Seq((syntheticQid, queryVec)).toDF("qid", "qv")
    val vc = Similarity.indexTopK(qdf, annDir, "qid", "qv", kCand,
        nprobe = nprobe, rerankFactor = rerankFactor,
        rerankCorpus = rerankCorpus, rerankIdCol = rerankIdCol,
        rerankVecCol = rerankVecCol)
      .select(col("nid").as("doc_id"), col("rank").as("vec_rank"))
    rrfFuse(bm, vc, k, rrfK)
  }
}
