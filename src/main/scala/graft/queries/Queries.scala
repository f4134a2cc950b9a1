package graft.queries

import graft.Tables
import graft.functions.EsFunctions
import graft.operators.AsofJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Declared operator surface (SURVEY.md §2 + §2.11): one registered query per
 * operator, each with a DuckDB oracle when SQL-expressible. Spark side is
 * DataFrame API (independent of the oracle SQL text, so a differential
 * mismatch means a real semantic divergence, not a shared typo).
 *
 * Determinism rules (driver hash-compares row values after sorting columns
 * by name):
 *  - every query ORDER BYs a unique key prefix, identical on both sides;
 *  - money aggregates are computed in DECIMAL(18,2) (exact, order-free) and
 *    cast to a fixed final type on both sides;
 *  - double aggregates are only used where values are integer-valued (sums
 *    exactly representable => order-independent);
 *  - all computed columns are aliased identically on both sides.
 */
case class QueryDef(name: String, oracle: Option[String],
                    build: (SparkSession, String) => DataFrame)

object Queries {

  /** Scratch root for the in-query index lifecycles (q70/q90/q97/...):
    * every per-query temp dir nests under ONE sweepable parent so the
    * mains that run the whole suite (Verify, Bench) can delete it at
    * exit — 21 per-run index dirs otherwise accumulate in /tmp across
    * runs (the round-13 disk-full class of failure). PER-PROCESS (pid
    * suffix): a shared root would let one finishing run's sweep delete a
    * CONCURRENT run's live index dirs mid-read (Verify exiting while the
    * closing bench is mid-suite is a real overlap on this box). */
  val scratchRoot: java.nio.file.Path =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-query-scratch-${ProcessHandle.current().pid()}")

  private[graft] def scratch(prefix: String): String = {
    java.nio.file.Files.createDirectories(scratchRoot)
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString
  }

  /** Recursive delete of the scratch root (call from mains at exit). */
  def sweepScratch(): Unit = try {
    if (java.nio.file.Files.exists(scratchRoot)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(scratchRoot)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  } catch { case _: Exception => () }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Session-scoped memo of the READ-ONLY standard scratch indexes that
    * ~20 indexed-search queries build in-query for oracle
    * self-containment: the positional postings index over
    * (documents, doc_id, text, buckets = 32) and the hybrid queries' ANN
    * index over (embeddings, nlist = 16, kmeansIters = 2). Both builds
    * are deterministic in the corpus and none of these consumers mutates
    * the result, so memoizing per sf dir inside one JVM changes NO
    * result bytes — a standalone single-query run still builds on first
    * touch (self-containment holds), while a full Verify/Bench pass pays
    * each build ONCE instead of ~20 times (round-16 fixed-cost trim).
    * Queries that exercise the index LIFECYCLE (append/delete/compact/
    * strip, layout variants — q71, the maintenance family) or build
    * non-standard knobs (q114's per-field indexes, q70's PQ codes) keep
    * PRIVATE scratch builds: their build cost IS the thing measured. */
  private val sharedIdx =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sharedPostingsIndex(s: SparkSession, dir: String): String =
    sharedIdx.computeIfAbsent(s"postings|$dir", _ => {
      val idx = scratch("graft-shared-postings")
      graft.ext.Search.buildPostingsIndex(t(s, dir, "documents"),
        "doc_id", "text", idx, buckets = 32)
      idx
    })
  private def sharedAnnIndex(s: SparkSession, dir: String): String =
    sharedIdx.computeIfAbsent(s"ann16|$dir", _ => {
      val idx = scratch("graft-shared-ann16")
      graft.ext.Similarity.buildIndex(t(s, dir, "embeddings"), "vec_id",
        "embedding", idx, nlist = 16, kmeansIters = 2)
      idx
    })
  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private val D2 = "DECIMAL(18,2)"
  private val D4 = "DECIMAL(18,4)"

  val relational: Seq[QueryDef] = Seq(

    // ---- S1/S2: scan + filtered projection (pushdown surface) ----
    QueryDef("q01_filter_project",
      Some(s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
              |FROM lineitem
              |WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_quantity > 45
              |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (s, dir) => t(s, dir, "lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP'1995-06-01'") && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- A: hash aggregate, partial+final (TPC-H Q1 shape) ----
    QueryDef("q02_agg",
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  CAST(sum(CAST(l_quantity AS $D2)) AS DOUBLE) AS sum_qty,
              |  CAST(sum(CAST(l_extendedprice AS $D2)) AS DOUBLE) AS sum_base_price,
              |  CAST(sum(CAST(l_extendedprice AS $D2) * (1 - CAST(l_discount AS $D2))) AS DOUBLE) AS sum_disc_price,
              |  avg(l_quantity) AS avg_qty,
              |  count(*) AS count_order
              |FROM lineitem
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- J: multi-way broadcast join + agg (revenue per nation) ----
    QueryDef("q03_join_agg",
      Some(s"""SELECT n.n_name AS nation,
              |  CAST(sum(CAST(l.l_extendedprice AS $D2) * (1 - CAST(l.l_discount AS $D2))) AS DOUBLE) AS revenue,
              |  count(*) AS line_cnt
              |FROM lineitem l
              |JOIN orders o ON l.l_orderkey = o.o_orderkey
              |JOIN customer c ON o.o_custkey = c.c_custkey
              |JOIN nation n ON c.c_nationkey = n.n_nationkey
              |GROUP BY n.n_name
              |ORDER BY nation""".stripMargin),
      (s, dir) => {
        val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(n("n_name").as("nation"))
          .agg(
            sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
              .cast("double").as("revenue"),
            count(lit(1)).as("line_cnt"))
          .orderBy("nation")
      }),

    // ---- J: left semi (EXISTS) ----
    QueryDef("q04_semi_join",
      Some("""SELECT o_orderpriority, count(*) AS order_cnt
             |FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, dir) => {
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem").filter(col("l_quantity") >= 48)
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("order_cnt"))
          .orderBy("o_orderpriority")
      }),

    // ---- J: left anti (NOT EXISTS) ----
    QueryDef("q05_anti_join",
      // customers with no urgent order (plain "no orders" is empty at small SF)
      Some("""SELECT c_custkey, c_name
             |FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey
             |                    AND o.o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin),
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name").orderBy("c_custkey")
      }),

    // ---- J: left outer + count-preserving agg ----
    QueryDef("q06_outer_join",
      Some("""SELECT c.c_custkey, count(o.o_orderkey) AS order_cnt
             |FROM customer c
             |LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             |GROUP BY c.c_custkey
             |ORDER BY c.c_custkey""".stripMargin),
      (s, dir) => {
        val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(c("c_custkey")).agg(count(o("o_orderkey")).as("order_cnt"))
          .orderBy("c_custkey")
      }),

    // ---- W: ranking window, per-group top-k ----
    QueryDef("q07_window_topk",
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) x
             |WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      }),

    // ---- W: analytic window (running sum + lag, framed) ----
    QueryDef("q08_window_running",
      // per-customer running spend; window ordered by the unique o_orderkey
      // so frame contents are deterministic (lineitem has duplicate
      // (orderkey, linenumber) pairs in this synthetic suite)
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |         OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |       AS DOUBLE) AS running_spend,
             |  lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_price
             |FROM orders
             |ORDER BY o_custkey, o_orderkey""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        t(s, dir, "orders")
          .withColumn("running_spend",
            sum(dec2(col("o_totalprice")))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double"))
          .withColumn("prev_price", lag("o_totalprice", 1).over(w))
          .select("o_custkey", "o_orderkey", "running_spend", "prev_price")
          .orderBy("o_custkey", "o_orderkey")
      }),

    // ---- TopK: global order-by-limit (TakeOrderedAndProject) ----
    QueryDef("q09_topk",
      Some("""SELECT o_orderkey, o_totalprice
             |FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey
             |LIMIT 10""".stripMargin),
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")
        .limit(10)),

    // ---- G: rollup ----
    QueryDef("q10_rollup",
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  CAST(sum(CAST(l_quantity AS $D2)) AS DOUBLE) AS sum_qty,
              |  count(*) AS cnt
              |FROM lineitem
              |GROUP BY ROLLUP (l_returnflag, l_linestatus)
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      (s, dir) => t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // ---- S: union / intersect / except ----
    QueryDef("q11_setops",
      Some("""WITH seg AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
             |     hav AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
             |SELECT
             |  (SELECT count(*) FROM (SELECT * FROM seg INTERSECT SELECT * FROM hav) x) AS n_intersect,
             |  (SELECT count(*) FROM (SELECT * FROM seg EXCEPT SELECT * FROM hav) x) AS n_except,
             |  (SELECT count(*) FROM (SELECT * FROM seg UNION SELECT * FROM hav) x) AS n_union""".stripMargin),
      (s, dir) => {
        val seg = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val hav = t(s, dir, "orders").select(col("o_custkey").as("c_custkey")).distinct()
        val a = seg.intersect(hav).agg(count(lit(1)).as("n_intersect"))
        val b = seg.except(hav).agg(count(lit(1)).as("n_except"))
        val u = seg.union(hav).distinct().agg(count(lit(1)).as("n_union"))
        a.crossJoin(b).crossJoin(u)
      }),

    // ---- A: distinct aggregation ----
    QueryDef("q12_distinct",
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts,
             |       count(DISTINCT l_suppkey) AS n_supps,
             |       count(*) AS n_rows
             |FROM lineitem""".stripMargin),
      (s, dir) => t(s, dir, "lineitem")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))),

    // ---- J: range (theta) join — event pairs within 5 minutes per user ----
    QueryDef("q13_range_join",
      Some("""SELECT e1.user_id, count(*) AS pair_cnt
             |FROM events e1
             |JOIN events e2 ON e1.user_id = e2.user_id
             |  AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
             |GROUP BY e1.user_id
             |ORDER BY e1.user_id""".stripMargin),
      (s, dir) => {
        val e1 = t(s, dir, "events").alias("e1")
        val e2 = t(s, dir, "events").alias("e2")
        e1.join(e2, col("e1.user_id") === col("e2.user_id") &&
            col("e2.ts") > col("e1.ts") &&
            col("e2.ts") <= col("e1.ts") + expr("INTERVAL 5 MINUTE"))
          .groupBy(col("e1.user_id").as("user_id"))
          .agg(count(lit(1)).as("pair_cnt"))
          .orderBy("user_id")
      }),

    // ---- J: as-of join — latest prior click for each purchase ----
    QueryDef("q14_asof_join",
      Some("""WITH clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id
             |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
             |purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
             |SELECT p.event_id, p.user_id, c.click_id AS asof_click_id
             |FROM purchases p
             |ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        AsofJoin.leftAsOf(purchases, clicks, "user_id", "ts", Seq("click_id"))
          .select(col("event_id"), col("user_id"), col("asof_click_id"))
          .orderBy("event_id")
      }),

    // ---- M: dynamic map flatten (§2.3) — JSON props to key/value rows ----
    QueryDef("q15_map_flatten",
      Some("""SELECT event_id, u.k AS prop_key,
             |       CAST(props ->> ('$.' || u.k) AS BIGINT) AS prop_value
             |FROM events, unnest(json_keys(props)) AS u(k)
             |ORDER BY event_id, prop_key""".stripMargin),
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          explode(from_json(col("props"), MapType(StringType, LongType))))
        .select(col("event_id"), col("key").as("prop_key"), col("value").as("prop_value"))
        .orderBy("event_id", "prop_key")),

    // ---- P2/P3: null-dropping + name normalization over data ----
    QueryDef("q16_norm_clean",
      Some("""SELECT doc_id,
             |  lower(replace(replace(source, '&', '-'), '$', '-')) AS norm_source,
             |  CASE WHEN text = '' OR lower(text) = 'null' THEN NULL ELSE text END IS NULL AS dropped,
             |  length(text) AS text_chars
             |FROM read_parquet('{SFDIR}/documents.parquet') documents
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          graft.transform.Names.normalizeExpr(col("source")).as("norm_source"),
          graft.transform.DocTransform.nullifyEmpty(col("text")).isNull.as("dropped"),
          length(col("text")).as("text_chars"))
        .orderBy("doc_id")),

    // ---- P4: coercions (date->yyyyMMdd, double->int truncation) ----
    QueryDef("q17_coerce",
      Some("""SELECT o_orderkey,
             |  strftime(o_orderdate, '%Y%m%d') AS order_dt,
             |  CAST(trunc(o_totalprice) AS BIGINT) AS price_trunc
             |FROM orders
             |ORDER BY o_orderkey""".stripMargin),
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyyMMdd").as("order_dt"),
          col("o_totalprice").cast(LongType).as("price_trunc"))
        .orderBy("o_orderkey")),

    // ---- X1-X3: es_shard routing histogram (no SQL oracle — custom hash;
    //      placement law verified in EsMurmur3Spec + BundleSinkSpec) ----
    QueryDef("q18_shard_hist", None,
      (s, dir) => t(s, dir, "lineitem")
        .withColumn("routing", concat(col("l_orderkey"), lit("-"), col("l_linenumber")))
        .withColumn("shard", EsFunctions.es_shard(col("routing"), 8))
        .groupBy("shard").agg(count(lit(1)).as("doc_cnt"))
        .orderBy("shard")),

    // ---- G: grouping sets (SQL surface) ----
    QueryDef("q19_grouping_sets",
      Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS cnt
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem_gs")
        s.sql(
          """SELECT l_returnflag, l_linestatus, count(*) AS cnt
            |FROM graft_lineitem_gs
            |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
      }),

    // ---- A: pivot-style conditional aggregation ----
    QueryDef("q20_pivot",
      Some("""SELECT user_id,
             |  count(*) FILTER (WHERE event_type = 'click') AS click_cnt,
             |  count(*) FILTER (WHERE event_type = 'view') AS view_cnt,
             |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase_cnt,
             |  count(*) FILTER (WHERE event_type = 'signup') AS signup_cnt,
             |  count(*) FILTER (WHERE event_type = 'error') AS error_cnt
             |FROM events
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin),
      (s, dir) => {
        def cnt(tp: String) = count(when(col("event_type") === tp, 1)).as(s"${tp}_cnt")
        t(s, dir, "events").groupBy("user_id")
          .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"))
          .orderBy("user_id")
      }),
  )

  /** DuckDB CASE expression mirroring TextAnalysis.langId's fold exactly:
    * first language in list order with the maximal hit count wins; all-zero
    * -> 'und'. Generated from the same stopword lists as the Spark side. */
  private def langIdSql(textExpr: String): String = {
    import graft.ext.TextAnalysis.stopwords
    def hits(words: Seq[String]): String = {
      val list = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split_regex($textExpr, '\\s+'), x -> x IN ($list)))"
    }
    val hitExprs = stopwords.map { case (lang, words) => lang -> hits(words) }
    val maxExpr = s"greatest(${hitExprs.map(_._2).mkString(", ")})"
    val whens = hitExprs
      .map { case (lang, h) => s"WHEN $h = $maxExpr THEN '$lang'" }
      .mkString(" ")
    s"CASE WHEN $maxExpr = 0 THEN 'und' $whens END"
  }

  import graft.ext.{Dedup, Similarity, TextAnalysis}

  val ext: Seq[QueryDef] = Seq(

    // ---- exact dedup: hash-groupBy representative + dup counts ----
    QueryDef("q21_dedup_exact",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, dup_cnt
             |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             |        row_number() OVER (PARTITION BY l_orderkey, l_linenumber
             |                           ORDER BY l_quantity, l_extendedprice) AS rn,
             |        count(*) OVER (PARTITION BY l_orderkey, l_linenumber) AS dup_cnt
             |      FROM lineitem) x
             |WHERE rn = 1
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (s, dir) => Dedup.exact(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber"), Seq("l_quantity", "l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- text stats: token count, punctuation, stopword ratio ----
    QueryDef("q22_text_stats",
      Some("""SELECT doc_id,
             |  len(string_split_regex(text, '\s+')) AS token_cnt,
             |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt,
             |  round(len(list_filter(string_split_regex(text, '\s+'),
             |          x -> x IN ('the','a','of','and','to','el','la','de','y','que',
             |                     'der','die','das','und','zu','le','et','les')))
             |        / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE), 6) AS stop_ratio
             |FROM read_parquet('{SFDIR}/documents.parquet') documents
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("token_cnt"),
          TextAnalysis.punctCount(col("text")).as("punct_cnt"),
          round(TextAnalysis.stopwordRatio(col("text")), 6).as("stop_ratio"))
        .orderBy("doc_id")),

    // ---- language ID by stopword votes (same lists both sides) ----
    QueryDef("q23_langid",
      Some(s"""SELECT doc_id, lang AS labeled_lang, ${langIdSql("text")} AS pred_lang
              |FROM read_parquet('{SFDIR}/documents.parquet') documents
              |ORDER BY doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    // ---- ANN: brute-force cosine top-3 for 20 query vectors ----
    QueryDef("q24_ann_topk",
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
             |           FROM read_parquet('{SFDIR}/embeddings.parquet') embeddings WHERE vec_id < 20),
             |     c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
             |           FROM read_parquet('{SFDIR}/embeddings.parquet') embeddings),
             |scored AS (SELECT qid, nid, round(list_cosine_similarity(qv, cv), 4) AS sim
             |           FROM q, c WHERE qid <> nid)
             |SELECT qid, nid, rank, sim FROM (
             |  SELECT qid, nid, sim,
             |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             |  FROM scored) x
             |WHERE rank <= 3
             |ORDER BY qid, rank""".stripMargin),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 20), e, "vec_id", "vec_id", "embedding", k = 3)
          .orderBy("qid", "rank")
      }),

    // ---- n-gram (word-set) Jaccard over bucketed candidate pairs ----
    QueryDef("q25_jaccard_pairs",
      Some("""WITH d AS (SELECT doc_id, source, n_chars // 100 AS bucket,
             |             list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS words
             |           FROM read_parquet('{SFDIR}/documents.parquet') documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(len(list_intersect(a.words, b.words))
             |        / CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE), 6) AS jaccard_sim
             |FROM d a JOIN d b
             |  ON a.source = b.source AND a.bucket = b.bucket AND a.doc_id < b.doc_id
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => {
        // word-set jaccard computed over sorted xxhash64(word) arrays with
        // the codegen'd two-pointer merge: identical counts to string-set
        // intersection (distinct words; a 64-bit collision among a few
        // thousand words is ~1e-13) at a fraction of the per-pair cost
        val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
          (col("n_chars") / 100).cast(IntegerType).as("bucket"),
          array_sort(graft.functions.EsFunctions.shingle_hashes(col("text"), 1)).as("wh"))
        val a = d.alias("a")
        val b = d.alias("b")
        a.join(b, col("a.source") === col("b.source") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            round(graft.functions.EsFunctions.jaccard_sorted(col("a.wh"), col("b.wh")), 6)
              .as("jaccard_sim"))
          .orderBy("id_a", "id_b")
      }),

    // ---- MinHash+LSH near-dup pipeline. Oracle-green since round 14:
    //      the pipeline exact-verifies its LSH candidates with true
    //      shingle Jaccard, so its output == {all pairs with 3-shingle
    //      Jaccard >= 0.35} WHENEVER LSH recall is 100% — which DedupSpec
    //      pins independently and this oracle now re-derives in DuckDB
    //      (verified 25/25 at sf0.01 and 256/256 at sf0.1, jaccard exact
    //      to 6 dp). The oracle's candidate blocking (pairs sharing >= 1
    //      shingle) is IMPLIED by Jaccard > 0, so it is exact, not
    //      approximate — it exists only to avoid the all-pairs join. A
    //      recall miss (a true pair no band catches) would surface as a
    //      missing row and break the rows/hash gate loudly. ----
    QueryDef("q26_minhash_neardup",
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    list_distinct(
             |      CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
             |      ELSE list_transform(range(1, len(w) - 1),
             |             i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
             |      END) AS sh
             |  FROM (SELECT doc_id,
             |          string_split_regex(lower(trim(text)), '\s+') AS w
             |        FROM read_parquet('{SFDIR}/documents.parquet'))),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM d),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id)
             |SELECT c.id_a, c.id_b,
             |  round(len(list_intersect(da.sh, db.sh))::DOUBLE
             |        / len(list_distinct(list_concat(da.sh, db.sh))), 6) AS jaccard_sim
             |FROM cand c JOIN d da ON da.doc_id = c.id_a
             |            JOIN d db ON db.doc_id = c.id_b
             |WHERE len(list_intersect(da.sh, db.sh))::DOUBLE
             |      / len(list_distinct(list_concat(da.sh, db.sh))) >= 0.35
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          numHashes = 32, bands = 16, k = 3, threshold = 0.35)
        .orderBy("id_a", "id_b")),

    // ---- SimHash fingerprinting, PORTABLE hash form (oracle-green
    //      round 15; was no-oracle while it rode xxhash64). The simhash
    //      LAW — per-bit majority vote over token-occurrence hashes,
    //      fingerprint bit b = vote > 0 — is pinned hash-exact by
    //      deriving the 60-bit token hash from md5 (first 15 hex chars,
    //      exact integer parse on both engines: Spark conv(.,16,10),
    //      DuckDB CAST('0x'||. AS BIGINT)). The SERVING simhash64 keeps
    //      the xxhash64 family (one codegen hash vs an md5 per token) —
    //      its bit layout stays differentially pinned in DedupSpec; this
    //      query makes the algorithm itself externally recomputable,
    //      votes, empty-doc zero-fingerprint and all. hamming_to_first =
    //      bit_count(xor(fp, fp(min doc))) — the dedup decision quantity,
    //      so XOR/popcount ride the oracle too. ----
    QueryDef("q27_simhash", {
      val votes = (0 until 60).map(b =>
        s"sum(((h >> $b) & 1) * 2 - 1) AS s$b").mkString(",\n             |    ")
      val fpExpr = (0 until 60).map(b =>
        s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
        .mkString("\n             |      + ")
      Some(s"""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |tok AS (
             |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
             |  FROM (SELECT doc_id, unnest(w) AS t FROM docs)),
             |votes AS (
             |  SELECT doc_id,
             |    $votes
             |  FROM tok GROUP BY doc_id),
             |fp AS (
             |  SELECT d.doc_id,
             |    ($fpExpr)::BIGINT AS simhash
             |  FROM docs d LEFT JOIN votes v USING (doc_id)),
             |f0 AS (SELECT simhash AS fp0 FROM fp ORDER BY doc_id LIMIT 1)
             |SELECT fp.doc_id, fp.simhash,
             |  CAST(bit_count(xor(fp.simhash, f0.fp0)) AS INT) AS hamming_to_first
             |FROM fp, f0
             |ORDER BY fp.doc_id""".stripMargin)
    },
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // explode + groupBy, NOT 60 aggregate() HOFs over a transform'd
        // array: CollapseProject inlines a deterministic md5 transform
        // into every consuming expression, so the HOF form recomputed
        // md5+conv per token PER BIT — measured 57 s vs ~1 s at sf0.1
        // (92x). Here each token hashes ONCE; the 60 votes are plain
        // conditional sums in one partial+final aggregate.
        val toks = docs
          .select(col("doc_id"),
            explode(graft.ext.Search.tokens(col("text"))).as("t"))
          .select(col("doc_id"),
            conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long")
              .as("h"))
        // 60 codegen'd conditional SUMS in one partial+final aggregate —
        // NOT 60 ArrayAggregate HOFs over a collected array (HOF lambdas
        // are CodegenFallback: 24M interpreted boxed steps measured ~12 s
        // at sf0.1 where these sums run in ~1 s), and NOT HOFs over a
        // transform'd md5 array (CollapseProject inlines the md5 into
        // every bit's fold: 57 s). The aggregate is the boundary that
        // keeps each token hashing exactly once.
        // PACKED vote counters: per-bit set-counts ride 10 aggregate
        // longs (6 ten-bit lanes each; dl <= 1023 tokens per doc or the
        // guard below raises) instead of 60 separate
        // sum columns — the 60-buffer aggregate's ANALYSIS+codegen cost
        // ~9 s of data-independent driver time per run; lanes cut it to
        // ~2 s. vote_b > 0  <=>  2*count_b > n_tokens.
        def lane(i: Int): Column = (0 until 6).map { j =>
          val b = i * 6 + j
          shiftleft(shiftright(col("h"), b).bitwiseAND(lit(1L)), 10 * j)
        }.reduce(_ + _)
        val votes = toks.groupBy("doc_id").agg(
          count(lit(1)).as("_n"),
          (0 until 10).map(i => sum(lane(i)).as(s"p$i")): _*)
        // a doc with no tokens (empty/null text) has no exploded rows:
        // the left join leaves the counters null, every CASE falls to 0
        // — the zero fingerprint, same as the oracle's LEFT JOIN form
        def bal(xs: Seq[Column]): Column =
          if (xs.length == 1) xs.head
          else bal(xs.grouped(2).map(g => g.reduce(_ + _)).toSeq)
        val fp = bal((0 until 60).map { b =>
          val cnt = shiftright(col(s"p${b / 6}"), 10 * (b % 6))
            .bitwiseAND(lit(1023L))
          when(cnt * 2 > col("_n"), lit(1L << b)).otherwise(lit(0L))
        })
        // LOUD lane-bound enforcement: a doc with >1023 tokens would
        // carry a bit's count into the neighbor lane and silently corrupt
        // the fingerprint — fail the row instead (null _n = no tokens,
        // condition is null -> falls through to the fingerprint).
        val guardedFp = when(col("_n") > 1023,
          raise_error(concat(
            lit("q27 simhash: doc exceeds the 1023-token vote-lane bound"
              + " (use wider lanes): doc_id="),
            col("doc_id").cast("string")))).otherwise(fp)
        val withFp = docs.select(col("doc_id"))
          .join(votes, Seq("doc_id"), "left")
          .select(col("doc_id"), guardedFp.as("simhash"))
        // the reference fingerprint rides the SAME plan as a broadcast
        // 1-row frame (identical canonical subplan -> the vote aggregate
        // computes once and is exchange-reused), instead of a separate
        // head() action that re-ran the whole 60-agg pass driver-side
        val first = withFp.orderBy("doc_id").limit(1)
          .select(col("simhash").as("_fp0"))
        withFp.crossJoin(broadcast(first))
          .select(col("doc_id"), col("simhash"),
            bit_count(col("simhash").bitwiseXOR(col("_fp0"))).cast("int")
              .as("hamming_to_first"))
          .orderBy("doc_id")
      }),

    // ---- tumbling-window aggregation (batch form) ----
    QueryDef("q28_tumbling",
      Some(s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
              |  count(*) AS cnt,
              |  CAST(sum(CAST(value AS $D2)) AS DOUBLE) AS sum_value
              |FROM events
              |GROUP BY 1, 2
              |ORDER BY hour_start, event_type""".stripMargin),
      (s, dir) => t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
        .orderBy("hour_start", "event_type")),

    // ---- sessionization: gaps-and-islands, 30-minute inactivity gap ----
    QueryDef("q29_sessionize",
      Some("""WITH marked AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sessions AS (
             |  SELECT user_id, event_id,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM marked)
             |SELECT user_id, count(DISTINCT session_id) AS n_sessions,
             |       count(*) AS n_events
             |FROM sessions
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val marked = t(s, dir, "events")
          .withColumn("prev_ts", lag("ts", 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTE"), 1).otherwise(0))
        marked
          .withColumn("session_id", sum("new_session")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id")
          .agg(countDistinct("session_id").as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id")
      }),

    // ---- embedding near-duplicate pairs (cosine >= 0.35) ----
    QueryDef("q30_embed_neardup",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM read_parquet('{SFDIR}/embeddings.parquet') embeddings)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |       round(list_cosine_similarity(a.v, b.v), 4) AS sim
             |FROM e a, e b
             |WHERE a.vec_id < b.vec_id
             |  AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.35
             |ORDER BY id_a, id_b""".stripMargin),
      (s, dir) => Similarity.cosineNearDups(t(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.35)
        .orderBy("id_a", "id_b")),
  )

  val extra: Seq[QueryDef] = Seq(

    // ---- S4: JSON-column (schema-less) source semantics ----
    QueryDef("q31_json_source",
      Some("""SELECT event_id, props AS doc, props ->> '$.k' AS kid
             |FROM events
             |ORDER BY event_id""".stripMargin),
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"), col("props").as("doc"),
          get_json_object(col("props"), "$.k").as("kid"))
        .orderBy("event_id")),

    // ---- A5: min_by / max_by selection (deterministic composite key) ----
    QueryDef("q32_minby_maxby",
      Some("""SELECT c_nationkey,
             |  min_by(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 100000 + c_custkey) AS poorest,
             |  max_by(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 100000 + c_custkey) AS richest
             |FROM customer
             |GROUP BY c_nationkey
             |ORDER BY c_nationkey""".stripMargin),
      (s, dir) => {
        val key = (round(col("c_acctbal") * 100)).cast(LongType) * 100000 + col("c_custkey")
        t(s, dir, "customer").groupBy("c_nationkey")
          .agg(min_by(col("c_custkey"), key).as("poorest"),
            max_by(col("c_custkey"), key).as("richest"))
          .orderBy("c_nationkey")
      }),

    // ---- approx_count_distinct (HLL++; no SQL oracle — sketch-specific,
    //      error bound asserted in QueriesSpec) ----
    QueryDef("q33_approx_distinct", None,
      (s, dir) => t(s, dir, "lineitem")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))),

    // ---- UDAF surface: typed Aggregator (geometric mean) ----
    QueryDef("q34_udaf_geomean",
      Some("""SELECT o_orderpriority, round(exp(avg(ln(o_totalprice))), 3) AS geomean_price
             |FROM orders
             |WHERE o_totalprice > 0
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, dir) => {
        val geomean = udaf(graft.functions.GeoMean)
        t(s, dir, "orders").filter(col("o_totalprice") > 0)
          .groupBy("o_orderpriority")
          .agg(round(geomean(col("o_totalprice")), 3).as("geomean_price"))
          .orderBy("o_orderpriority")
      }),
    // ---- skew-mitigated join: salted equi-join result == plain join ----
    QueryDef("q35_skew_join",
      Some(s"""SELECT p.p_brand,
              |  count(*) AS line_cnt,
              |  CAST(sum(CAST(l.l_extendedprice AS $D2)) AS DOUBLE) AS brand_rev
              |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              |GROUP BY p.p_brand
              |ORDER BY p.p_brand""".stripMargin),
      (s, dir) => graft.operators.SkewJoin.saltedEquiJoin(
          t(s, dir, "lineitem"),
          t(s, dir, "part").withColumnRenamed("p_partkey", "l_partkey"),
          "l_partkey", salts = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("line_cnt"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("brand_rev"))
        .orderBy("p_brand")),
    // ---- G: cube ----
    QueryDef("q36_cube",
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  CAST(sum(CAST(l_extendedprice AS $D2)) AS DOUBLE) AS sum_price,
              |  count(*) AS cnt
              |FROM lineitem
              |GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      (s, dir) => t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // ---- S: multiset set ops (INTERSECT ALL / EXCEPT ALL) ----
    QueryDef("q37_setops_all",
      Some("""WITH f AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
             |     o AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'),
             |     i AS (SELECT * FROM f INTERSECT ALL SELECT * FROM o),
             |     e AS (SELECT * FROM f EXCEPT ALL SELECT * FROM o)
             |SELECT 'intersect_all' AS op, o_orderpriority, count(*) AS cnt FROM i GROUP BY 2
             |UNION ALL
             |SELECT 'except_all' AS op, o_orderpriority, count(*) AS cnt FROM e GROUP BY 2
             |ORDER BY op, o_orderpriority""".stripMargin),
      (s, dir) => {
        val ord = t(s, dir, "orders")
        val f = ord.filter(col("o_orderstatus") === "F").select("o_orderpriority")
        val o = ord.filter(col("o_orderstatus") === "O").select("o_orderpriority")
        val i = f.intersectAll(o).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt")).withColumn("op", lit("intersect_all"))
        val e = f.exceptAll(o).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt")).withColumn("op", lit("except_all"))
        i.unionByName(e).select("op", "o_orderpriority", "cnt")
          .orderBy("op", "o_orderpriority")
      }),

    // ---- W: ranking/analytic battery ----
    QueryDef("q38_window_battery",
      Some("""SELECT c_custkey, c_nationkey,
             |  dense_rank()   OVER w AS drank,
             |  ntile(4)       OVER w AS quartile,
             |  percent_rank() OVER w AS prank,
             |  cume_dist()    OVER w AS cdist,
             |  first_value(c_custkey) OVER w AS first_in_nation,
             |  last_value(c_custkey)  OVER (PARTITION BY c_nationkey
             |                               ORDER BY c_acctbal, c_custkey
             |                               ROWS BETWEEN UNBOUNDED PRECEDING
             |                               AND UNBOUNDED FOLLOWING) AS last_in_nation
             |FROM customer
             |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
             |ORDER BY c_nationkey, c_custkey""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal"), col("c_custkey"))
        val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"),
            dense_rank().over(w).as("drank"),
            ntile(4).over(w).as("quartile"),
            // raw divisions of exact ints are bitwise-identical across
            // engines; round() would reintroduce half-tie divergence
            // (41/640 = .0640625: half-even vs half-up)
            percent_rank().over(w).as("prank"),
            cume_dist().over(w).as("cdist"),
            first(col("c_custkey")).over(w).as("first_in_nation"),
            last(col("c_custkey")).over(full).as("last_in_nation"))
          .orderBy("c_nationkey", "c_custkey")
      }),

    // ---- A: exact interpolated percentiles ----
    QueryDef("q39_percentiles",
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
             |  round(quantile_cont(l_quantity, 0.50), 4) AS p50,
             |  round(quantile_cont(l_quantity, 0.75), 4) AS p75,
             |  round(median(l_extendedprice), 4) AS median_price
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin),
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.50)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
          round(expr("median(l_extendedprice)"), 4).as("median_price"))
        .orderBy("l_returnflag")),

    // ---- F: string function battery ----
    QueryDef("q40_string_funcs",
      Some("""SELECT c_custkey,
             |  upper(c_mktsegment) AS seg_upper,
             |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
             |  split_part(c_name, '#', 1) AS name_prefix,
             |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
             |  length(c_name) AS name_len,
             |  regexp_extract(c_name, '([0-9]+)', 1) AS name_digits
             |FROM customer
             |ORDER BY c_custkey""".stripMargin),
      (s, dir) => t(s, dir, "customer").select(col("c_custkey"),
          upper(col("c_mktsegment")).as("seg_upper"),
          lpad(col("c_custkey").cast(StringType), 10, "0").as("key_padded"),
          element_at(split(col("c_name"), "#"), 1).as("name_prefix"),
          translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_tr"),
          length(col("c_name")).as("name_len"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"))
        .orderBy("c_custkey")),

    // ---- F: date/time function battery ----
    QueryDef("q41_date_funcs",
      Some("""SELECT o_orderkey,
             |  extract(year FROM o_orderdate) AS yr,
             |  extract(month FROM o_orderdate) AS mo,
             |  CAST(o_orderdate AS DATE) + 7 AS week_later,
             |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95,
             |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
             |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
             |FROM orders
             |ORDER BY o_orderkey""".stripMargin),
      (s, dir) => t(s, dir, "orders").select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          date_add(col("o_orderdate").cast(DateType), 7).as("week_later"),
          datediff(col("o_orderdate").cast(DateType), lit("1995-01-01").cast(DateType))
            .as("days_since_95"),
          last_day(col("o_orderdate").cast(DateType)).as("month_end"),
          date_trunc("month", col("o_orderdate")).cast(DateType).as("month_start"))
        .orderBy("o_orderkey")),

    // ---- correlated scalar subquery (window-avg formulation vs DuckDB
    //      correlated subquery — same semantics, independent plans) ----
    QueryDef("q42_correlated",
      Some("""SELECT c_custkey, c_nationkey
             |FROM customer c
             |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
             |                   WHERE c2.c_nationkey = c.c_nationkey)
             |ORDER BY c_custkey""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("c_nationkey")
        t(s, dir, "customer")
          .withColumn("_nation_avg", avg(col("c_acctbal")).over(w))
          .filter(col("c_acctbal") > col("_nation_avg"))
          .select("c_custkey", "c_nationkey")
          .orderBy("c_custkey")
      }),

    // ---- multimodal plumbing: binary payloads -> parseMeta -> resize ->
    //      features + frame sampling -> byte accounting. Oracle-green
    //      since round 14: every aggregate is INTEGER-exact arithmetic a
    //      SQL engine re-derives from the payload lengths alone —
    //      content_bytes after the keep-every-4th-byte resize =
    //      ceil(utf8_len/4), frames at (blockSize 32, stride 2) =
    //      (max(ceil(cb/32), 1)+1) div 2 (sampleFrames emits ONE empty
    //      frame for a zero-byte payload — sequence(0, greatest(n-1, 0))
    //      includes index 0), and the decode path is pinned by the
    //      feature-array SHAPE (n_feat8 counts dim-8 feature vectors —
    //      a decode that dropped or misshaped a row breaks the count).
    //      The float feature VALUES (real JDK decode + byte-fold
    //      stand-in) stay spec-pinned in MultimodalSpec — they are the
    //      one deliberately engine-specific piece. ----
    QueryDef("q44_multimodal",
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT) AS cb
             |  FROM read_parquet('{SFDIR}/documents.parquet'))
             |SELECT 'image' AS modality, 'raw' AS format,
             |  CAST(count(*) AS BIGINT) AS n_media,
             |  CAST(sum(cb) AS BIGINT) AS total_bytes,
             |  CAST(count(*) AS BIGINT) AS n_feat8,
             |  CAST(sum((greatest(CAST(ceil(cb / 32.0) AS BIGINT), 1) + 1) // 2)
             |    AS BIGINT) AS total_frames
             |FROM m
             |GROUP BY 1, 2
             |ORDER BY modality, format""".stripMargin),
      (s, dir) => {
        val media = graft.ext.Multimodal.fromBinary(
          t(s, dir, "documents").select(col("doc_id"),
            col("text").cast(org.apache.spark.sql.types.BinaryType).as("payload")),
          "doc_id", "payload", "image")
        // parseMeta first (real header sniffing; text payloads fall through
        // as "raw"), then the stubbed resize, then BOTH consumers of the
        // resized bytes: feature decode and frame sampling
        val resized = graft.ext.Multimodal.resizeStub(
          graft.ext.Multimodal.parseMeta(media), factor = 4)
        val feats = graft.ext.Multimodal.decodeFeatures(resized, featureDim = 8)
          .select(col("media_id"), col("modality"),
            col("meta.format").as("format"), col("content_bytes"),
            size(col("features")).as("_fdim"))
        val frames = graft.ext.Multimodal
          .sampleFrames(resized, blockSize = 32, stride = 2)
          .groupBy("media_id").agg(count(lit(1)).as("_n_frames"))
        feats.join(frames, Seq("media_id"), "left")
          .groupBy("modality", "format")
          .agg(count(lit(1)).as("n_media"),
            sum("content_bytes").as("total_bytes"),
            sum(when(col("_fdim") === 8, 1L).otherwise(0L)).as("n_feat8"),
            sum(coalesce(col("_n_frames"), lit(0L))).as("total_frames"))
          .orderBy("modality", "format")
      }),

    // ---- composite text quality score (same arithmetic both sides) ----
    QueryDef("q45_quality",
      Some("""SELECT doc_id,
             |  round(
             |    least(length(text) / 400.0, 1.0) * 0.5
             |    + least((CASE WHEN len(string_split_regex(text, '\s+')) = 0 THEN 0.0
             |             ELSE len(list_filter(string_split_regex(text, '\s+'),
             |                    x -> x IN ('the','a','of','and','to','el','la','de','y','que',
             |                               'der','die','das','und','zu','le','et','les')))
             |                  / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) END) * 10.0, 1.0) * 0.3
             |    + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
             |        ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
             |             / CAST(length(text) AS DOUBLE) END) * 5.0, 1.0)) * 0.2
             |  , 6) AS quality
             |FROM read_parquet('{SFDIR}/documents.parquet') documents
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // ---- Generator/UDTF surface: posexplode with ordinality oracle ----
    QueryDef("q46_posexplode",
      Some("""WITH d AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
             |           FROM read_parquet('{SFDIR}/documents.parquet') documents WHERE doc_id < 50)
             |SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS tok
             |FROM d, unnest(range(1, len(toks) + 1)) AS u(i)
             |ORDER BY doc_id, pos""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(split(col("text"), "\\s+")))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
        .orderBy("doc_id", "pos")),

    // ---- ordered array aggregation (collect with deterministic order).
    //      The array is serialized to a CSV string on both sides: the
    //      driver's pandas-based comparator cannot lexsort list cells. ----
    QueryDef("q47_array_agg",
      Some("""SELECT c_nationkey,
             |  array_to_string(
             |    COALESCE(list(c_custkey ORDER BY c_custkey) FILTER (WHERE c_acctbal > 9000),
             |             []), ',') AS rich_keys,
             |  count(*) AS n
             |FROM customer
             |GROUP BY c_nationkey
             |ORDER BY c_nationkey""".stripMargin),
      (s, dir) => t(s, dir, "customer")
        .groupBy("c_nationkey")
        // nullif aligns the empty-group case with the oracle at EVERY sf:
        // DuckDB's array_to_string([]) is NULL while Spark's array_join([])
        // is "" — a nation with no rich customers (sf0.001) diverged. A
        // non-empty join can never be "" (custkeys are non-empty), so this
        // changes nothing where groups are populated (sf0.01/sf0.1).
        .agg(nullif(array_join(
            sort_array(collect_list(when(col("c_acctbal") > 9000, col("c_custkey"))))
              .cast("array<string>"), ","), lit("")).as("rich_keys"),
          count(lit(1)).as("n"))
        .orderBy("c_nationkey")),

    // ---- IVF approximate ANN (no SQL oracle — recall law in
    //      SimilaritySpec vs brute force) ----
    QueryDef("q43_ivf_ann", None,
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        graft.ext.Similarity.ivfTopK(e.filter(col("vec_id") < 20), e,
            "vec_id", "vec_id", "embedding", k = 3, nlist = 16, nprobe = 8)
          .orderBy("qid", "rank")
      }),
    // ---- Catalyst subquery machinery: IN-subquery + uncorrelated scalar ----
    QueryDef("q48_in_subquery",
      Some("""SELECT o_orderpriority, count(*) AS cnt
             |FROM orders
             |WHERE o_custkey IN (SELECT c_custkey FROM customer
             |                    WHERE c_mktsegment = 'MACHINERY')
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("graft_orders_sq")
        t(s, dir, "customer").createOrReplaceTempView("graft_customer_sq")
        s.sql("""SELECT o_orderpriority, count(*) AS cnt
                |FROM graft_orders_sq
                |WHERE o_custkey IN (SELECT c_custkey FROM graft_customer_sq
                |                    WHERE c_mktsegment = 'MACHINERY')
                |GROUP BY o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)
      }),

    QueryDef("q49_scalar_subquery",
      Some(s"""SELECT count(*) AS n_above,
              |  CAST(sum(CAST(o_totalprice AS $D2)) AS DOUBLE) AS sum_above
              |FROM orders
              |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin),
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("graft_orders_ssq")
        s.sql(s"""SELECT count(*) AS n_above,
                 |  CAST(sum(CAST(o_totalprice AS $D2)) AS DOUBLE) AS sum_above
                 |FROM graft_orders_ssq
                 |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM graft_orders_ssq)""".stripMargin)
      }),

    // ---- data-profiling operator: per-column null/distinct/min/max ----
    QueryDef("q50_profile",
      Some("""SELECT count(*) AS n_rows,
             |  count(*) - count(o_custkey) AS custkey_nulls,
             |  count(DISTINCT o_orderstatus) AS status_distinct,
             |  CAST(min(o_totalprice) AS DOUBLE) AS price_min,
             |  CAST(max(o_totalprice) AS DOUBLE) AS price_max,
             |  min(CAST(o_orderdate AS DATE)) AS date_min,
             |  max(CAST(o_orderdate AS DATE)) AS date_max
             |FROM orders""".stripMargin),
      (s, dir) => t(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("o_custkey"))).as("custkey_nulls"),
        countDistinct(col("o_orderstatus")).as("status_distinct"),
        min(col("o_totalprice")).cast("double").as("price_min"),
        max(col("o_totalprice")).cast("double").as("price_max"),
        min(col("o_orderdate").cast(DateType)).as("date_min"),
        max(col("o_orderdate").cast(DateType)).as("date_max"))),
    // ---- group-level MinHash sketches (TypedImperativeAggregate):
    //      pairwise source similarity with NO pair join over documents.
    //      PORTABLE hash form (oracle-green round 15; was no-oracle while
    //      the element hashes rode xxhash64): element hash = first 8 hex
    //      chars of md5(token) (32-bit exact parse on both engines), and
    //      the sketch law — slot i = min over the group's tokens of
    //      (a_i·h + b_i) mod P, the exact MinHashSig permutation family
    //      with its published (a, b, P) constants — is re-derived by
    //      DuckDB as 32 plain MIN aggregates, pinning the
    //      TypedImperativeAggregate's merge (elementwise min is the
    //      union's signature) hash-exact. est_jaccard = agreeing-slot
    //      fraction. (Assumes every source has >= 1 non-empty doc — an
    //      all-empty source would sketch to Long.MaxValue slots engine-
    //      side but vanish from the SQL's token stream.) ----
    QueryDef("q53_sketch_similarity", {
      val slots = (0 until 32).map { i =>
        val (a, b) = graft.ext.Dedup.perm(i)
        s"min(($a * h + $b) % ${graft.ext.Dedup.MinhashPrime}) AS m$i"
      }.mkString(",\n             |    ")
      val eq = (0 until 32).map(i =>
        s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString("\n             |    + ")
      Some(s"""WITH docs AS (
             |  SELECT source, list_filter(string_split_regex(lower(text), '\\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |tok AS (
             |  SELECT source, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h
             |  FROM (SELECT source, unnest(list_distinct(w)) AS t FROM docs)),
             |sk AS (
             |  SELECT source,
             |    $slots
             |  FROM tok GROUP BY source)
             |SELECT a.source AS s1, b.source AS s2,
             |  round(($eq) / 32.0, 4) AS est_jaccard
             |FROM sk a JOIN sk b ON a.source < b.source
             |ORDER BY s1, s2""".stripMargin)
    },
      (s, dir) => {
        import graft.functions.MinHashSketchAgg._
        val toks = graft.ext.Search.tokens(col("text"))
        val h = transform(array_distinct(toks), tk =>
          conv(substring(md5(tk), 1, 8), 16, 10).cast("long"))
        val sketches = t(s, dir, "documents")
          .withColumn("h", h)
          .groupBy("source").agg(minhash_sketch(col("h"), 32).as("sk"))
        val a = sketches.alias("a")
        val b = sketches.alias("b")
        a.join(b, col("a.source") < col("b.source"))
          .select(col("a.source").as("s1"), col("b.source").as("s2"),
            round(sketchJaccard(col("a.sk"), col("b.sk")), 4).as("est_jaccard"))
          .orderBy("s1", "s2")
      }),

    // ---- approximate quantiles (t-digest-style sketch; error bound
    //      asserted in QueriesSpec, no SQL oracle) ----
    QueryDef("q51_approx_quantile", None,
      // scalar columns (not arrays): the driver's comparator chokes on
      // list-valued cells
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").as("ap"),
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ep"))
        .select(col("l_returnflag"),
          element_at(col("ap"), 1).as("approx_p50"),
          element_at(col("ap"), 2).as("approx_p95"),
          element_at(col("ep"), 1).as("exact_p50"),
          element_at(col("ep"), 2).as("exact_p95"))
        .orderBy("l_returnflag")),

    // ---- trained BPE tokenizer over the corpus (word-count agg -> driver
    //      merge learning -> distributed encode); not SQL-expressible, so
    //      rows-only here — the differential/determinism proofs live in
    //      BpeSpec ----
    QueryDef("q54_bpe_tokens", None,
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // 25 merges against the testdata's ~31-word vocabulary => frequent
        // words collapse to one token, the tail stays subword-split (full
        // saturation would trivially equal the whitespace count)
        val m = graft.ext.Bpe.train(docs, "text", numMerges = 25, maxWords = 10000)
        docs.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(m.tokenCount(col("text"))).as("bpe_tokens"),
            sum(graft.ext.TextAnalysis.tokenCount(col("text"))).as("ws_tokens"))
          .withColumn("compression",
            round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4))
          .orderBy("source")
      }),

    // ---- mergeable HLL sketches (Datasketches builtins): per-group
    //      cardinality sketches that re-aggregate by UNION without touching
    //      raw data — the sketch analog of partial+final for countDistinct.
    //      Estimates are engine-specific -> no SQL oracle; 5% error bound +
    //      union law asserted in QueriesSpec ----
    QueryDef("q55_hll_sketch", None,
      (s, dir) => {
        val perSource = t(s, dir, "documents")
          .groupBy("source")
          .agg(expr("hll_sketch_agg(doc_id, 12)").as("sk"),
            countDistinct(col("doc_id")).as("exact_distinct"))
        perSource
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_total"),
            sum("exact_distinct").as("exact_total"),
            count(lit(1)).as("n_sources"))
      }),

    // ---- end-to-end training-data pipeline with a FULL SQL oracle:
    //      quality-filter -> exact dedup on normalized text (keep lowest
    //      doc_id) -> per-source corpus stats. The flagship composition:
    //      every stage is one of this engine's operators ----
    QueryDef("q56_pipeline",
      Some("""WITH scored AS (
             |  SELECT doc_id, source, text,
             |    least(length(text) / 400.0, 1.0) * 0.5
             |    + least((CASE WHEN len(string_split_regex(text, '\s+')) = 0 THEN 0.0
             |             ELSE len(list_filter(string_split_regex(text, '\s+'),
             |                    x -> x IN ('the','a','of','and','to','el','la','de','y','que',
             |                               'der','die','das','und','zu','le','et','les')))
             |                  / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) END) * 10.0, 1.0) * 0.3
             |    + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
             |        ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
             |             / CAST(length(text) AS DOUBLE) END) * 5.0, 1.0)) * 0.2 AS q
             |  FROM read_parquet('{SFDIR}/documents.parquet') documents),
             |kept AS (
             |  SELECT *, row_number() OVER (
             |      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
             |      ORDER BY doc_id) AS rn
             |  FROM scored WHERE q >= 0.5)
             |SELECT source,
             |  count(*) AS docs_kept,
             |  CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens,
             |  round(avg(q), 4) AS avg_quality
             |FROM kept WHERE rn = 1
             |GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("norm").orderBy("doc_id")
        t(s, dir, "documents")
          .withColumn("q", TextAnalysis.qualityScoreRaw(col("text")))
          .filter(col("q") >= 0.5)
          .withColumn("norm",
            regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("source")
          .agg(count(lit(1)).as("docs_kept"),
            sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"),
            round(avg("q"), 4).as("avg_quality"))
          .orderBy("source")
      }),

    // ---- unpivot/melt (inverse of q20's pivot): wide -> long ----
    QueryDef("q57_unpivot",
      Some("""SELECT o_orderkey, name, CAST(value AS DOUBLE) AS value
             |FROM (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice,
             |             CAST(o_custkey AS DOUBLE) AS custkey
             |      FROM orders WHERE o_orderkey < 200)
             |UNPIVOT (value FOR name IN (totalprice, custkey))
             |ORDER BY o_orderkey, name""".stripMargin),
      (s, dir) => t(s, dir, "orders")
        .filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("totalprice"),
          col("o_custkey").cast("double").as("custkey"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("totalprice"), col("custkey")), "name", "value")
        .orderBy("o_orderkey", "name")),

    // ---- RANGE-frame window: value-based frame bounds (distinct physical
    //      behavior from ROWS frames — peers by value, not position) ----
    QueryDef("q58_range_frame",
      Some(s"""SELECT o_custkey, o_orderkey,
             |  CAST(sum(CAST(o_totalprice AS $D2)) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderkey
             |    RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum,
             |  count(*) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderkey
             |    RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING) AS near_cnt
             |FROM orders WHERE o_custkey < 500
             |ORDER BY o_custkey, o_orderkey""".stripMargin),
      (s, dir) => {
        val base = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy("o_orderkey")
        t(s, dir, "orders").filter(col("o_custkey") < 500)
          .select(col("o_custkey"), col("o_orderkey"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .over(base.rangeBetween(-100, org.apache.spark.sql.expressions.Window.currentRow))
              .cast("double").as("near_sum"),
            count(lit(1)).over(base.rangeBetween(-100, 100)).as("near_cnt"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // ---- product quantization ANN: compressed-domain top-k (codes are m
    //      ints/vector; scoring = m table lookups/pair). Engine-specific
    //      estimates -> rows-only; laws in SimilaritySpec ----
    QueryDef("q59_pq_ann", None,
      (s, dir) => {
        import graft.ext.Similarity
        val emb = t(s, dir, "embeddings")
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        val model = Similarity.pqTrain(emb, "embedding", dim, m = 8, k = 16)
        Similarity.pqTopKRerank(emb.filter(col("vec_id") < 20), emb,
            Similarity.pqEncode(emb, "vec_id", "embedding", model),
            "vec_id", "vec_id", "embedding", model, k = 3)
          .orderBy("qid", "rank")
      }),

    // ---- LATERAL correlated table subquery (per-row top-N join form) ----
    QueryDef("q60_lateral",
      Some(s"""SELECT n.n_nationkey, t.c_custkey, CAST(t.c_acctbal AS DOUBLE) AS c_acctbal
             |FROM nation n,
             |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
             |         WHERE c.c_nationkey = n.n_nationkey
             |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
             |ORDER BY n.n_nationkey, t.c_custkey""".stripMargin),
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql(s"""SELECT n.n_nationkey, t.c_custkey, CAST(t.c_acctbal AS DOUBLE) AS c_acctbal
                 |FROM nation n,
                 |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
                 |         WHERE c.c_nationkey = n.n_nationkey
                 |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
                 |ORDER BY n.n_nationkey, t.c_custkey""".stripMargin)
      }),

    // ---- count-min sketch + frequent items (engine-specific sketch bytes
    //      -> rows-only; error law in QueriesSpec) ----
    QueryDef("q61_freq_sketch", None,
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val sketch = li.agg(
          expr("hex(count_min_sketch(l_returnflag, 0.01d, 0.99d, 42))").as("cms_hex"))
        val top = li.stat.freqItems(Array("l_returnflag"), 0.3)
        sketch.crossJoin(
          top.select(array_join(array_sort(col("l_returnflag_freqItems")), ",")
            .as("freq_flags")))
      }),

    // ---- time-series resample with gap fill: hour spine from the data's
    //      own extent, empty buckets land as zeros (the "no events that
    //      hour" rows a naive GROUP BY silently drops) ----
    QueryDef("q62_gap_fill",
      Some(s"""WITH b AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             |                  count(*) AS cnt,
             |                  CAST(sum(CAST(value AS $D2)) AS $D2) AS sum_value
             |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |spine AS (SELECT unnest(generate_series((SELECT min(h) FROM b),
             |                                        (SELECT max(h) FROM b),
             |                 INTERVAL 1 HOUR)) AS h)
             |SELECT s.h, COALESCE(b.cnt, 0) AS cnt,
             |  CAST(COALESCE(b.sum_value, 0) AS DOUBLE) AS sum_value
             |FROM spine s LEFT JOIN b USING (h)
             |ORDER BY s.h""".stripMargin),
      (s, dir) => {
        val b = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec2(col("value"))).cast(DecimalType(18, 2)).as("sum_value"))
        val spine = b.agg(min("h").as("lo"), max("h").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"),
            expr("INTERVAL 1 HOUR"))).as("h"))
        spine.join(b, Seq("h"), "left_outer")
          .select(col("h"), coalesce(col("cnt"), lit(0L)).as("cnt"),
            coalesce(col("sum_value"), lit(0)).cast("double").as("sum_value"))
          .orderBy("h")
      }),

    // ---- forward-fill imputation: carry the last observed hourly average
    //      across gap hours (IGNORE NULLS window on the q62 spine) ----
    QueryDef("q63_forward_fill",
      // avg() result types diverge across engines (DuckDB double, Spark
      // decimal(22,6)); the inner $D2 cast is what aligns the value, the
      // outer DOUBLE cast is what makes the driver's pandas hash stable.
      Some(s"""WITH b AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             |                  CAST(CAST(avg(CAST(value AS $D2)) AS $D2) AS DOUBLE) AS avg_value
             |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |spine AS (SELECT unnest(generate_series((SELECT min(h) FROM b),
             |                                        (SELECT max(h) FROM b),
             |                 INTERVAL 1 HOUR)) AS h),
             |j AS (SELECT s.h, b.avg_value FROM spine s LEFT JOIN b USING (h))
             |SELECT h, avg_value,
             |  last_value(avg_value IGNORE NULLS) OVER (
             |    ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
             |FROM j ORDER BY h""".stripMargin),
      (s, dir) => {
        val b = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(avg(dec2(col("value"))).cast(DecimalType(18, 2)).cast("double").as("avg_value"))
        val spine = b.agg(min("h").as("lo"), max("h").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"),
            expr("INTERVAL 1 HOUR"))).as("h"))
        // Two-level fill instead of one global Window.orderBy(h): the
        // running IGNORE-NULLS last over the whole spine is a single-task
        // sort that grows linearly with the time extent. Partition by DAY:
        //  - in-day fill: last observed value up to each hour, parallel
        //    per-day windows (24 rows each);
        //  - cross-day carry: each day's last observation, carried by one
        //    window over the DAY spine (24x fewer rows than hours — the
        //    only unpartitioned frame, bounded by extent/24) and joined
        //    back broadcast. filled = in-day fill, else the carry.
        val hours = spine.join(b, Seq("h"), "left_outer")
          .withColumn("_day", date_trunc("day", col("h")))
        val wDay = Window.partitionBy("_day").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val inDay = hours.withColumn("_dayfill",
          last(col("avg_value"), ignoreNulls = true).over(wDay))
        val dayLast = hours.filter(col("avg_value").isNotNull)
          .groupBy("_day").agg(max_by(col("avg_value"), col("h")).as("_last"))
        val wCarry = Window.orderBy("_day")
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = hours.select(col("_day")).distinct()
          .join(dayLast, Seq("_day"), "left_outer")
          .withColumn("_carry", last(col("_last"), ignoreNulls = true).over(wCarry))
          .select(col("_day"), col("_carry"))
        inDay.join(broadcast(carry), Seq("_day"))
          .select(col("h"), col("avg_value"),
            coalesce(col("_dayfill"), col("_carry")).as("filled"))
          .orderBy("h")
      }),

    // ---- statistical aggregate battery: mode / median / stddev ----
    QueryDef("q64_stats_agg",
      Some(s"""SELECT l_returnflag,
             |  mode(l_linestatus) AS mode_status,
             |  median(l_quantity) AS median_qty,
             |  round(stddev_samp(l_quantity), 4) AS sd_qty,
             |  round(skewness(l_quantity), 4) + 0.0 AS skew_qty
             |FROM lineitem
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      // `+ 0.0` on BOTH sides normalizes IEEE negative zero: a skewness
      // that rounds to zero carried sign -0.0 in DuckDB vs 0.0 in Spark
      // (sf0.001-only divergence); adding +0.0 is the identity on every
      // other double and maps -0.0 -> 0.0 in both engines.
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(mode(col("l_linestatus")).as("mode_status"),
          median(col("l_quantity")).as("median_qty"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          (round(skewness(col("l_quantity")), 4) + lit(0.0)).as("skew_qty"))
        .orderBy("l_returnflag")),

    // ---- recursive CTE (Spark 4 WITH RECURSIVE): a generated spine joined
    //      back to data — the recursion runs in BOTH engines (identical SQL
    //      text), exercising Catalyst's UnionLoop machinery ----
    QueryDef("q65_recursive_cte",
      Some("""WITH RECURSIVE seq(n) AS (
             |  SELECT 1
             |  UNION ALL
             |  SELECT n + 1 FROM seq WHERE n < 50
             |)
             |SELECT s.n, count(o.o_orderkey) AS cnt
             |FROM seq s LEFT JOIN orders o ON o.o_custkey % 50 = s.n - 1
             |GROUP BY s.n
             |ORDER BY s.n""".stripMargin),
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""WITH RECURSIVE seq(n) AS (
                |  SELECT 1
                |  UNION ALL
                |  SELECT n + 1 FROM seq WHERE n < 50
                |)
                |SELECT s.n, count(o.o_orderkey) AS cnt
                |FROM seq s LEFT JOIN orders o ON o.o_custkey % 50 = s.n - 1
                |GROUP BY s.n
                |ORDER BY s.n""".stripMargin)
      }),

    // ---- higher-order array functions: collect -> lambda fold/filter.
    //      Oracle = the equivalent flat aggregation (sum over integer-valued
    //      doubles is order-free, so the nondeterministic collect_list order
    //      is harmless). Per-ROW HOFs like these are fine; per-PAIR math
    //      stays in codegen expressions (see SCALING.md). ----
    QueryDef("q66_array_hof",
      // outer sums are CAST on the oracle side: DuckDB sum(bigint) returns
      // HUGEINT, which pandas renders as float ("24167.0" vs Spark's
      // "24167") — same driver-hash class as the decimal rule
      Some("""SELECT o_orderpriority,
             |  CAST(sum(qty_sum) AS DOUBLE) AS total_qty,
             |  CAST(sum(n_big) AS BIGINT) AS n_big
             |FROM (
             |  SELECT l.l_orderkey, sum(l.l_quantity) AS qty_sum,
             |         count(*) FILTER (WHERE l.l_quantity > 40) AS n_big
             |  FROM lineitem l GROUP BY l.l_orderkey) per_order
             |JOIN orders o ON o.o_orderkey = per_order.l_orderkey
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, dir) => {
        val per = t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(collect_list(col("l_quantity")).as("qtys"))
          .select(col("l_orderkey"),
            aggregate(col("qtys"), lit(0.0), (acc, x) => acc + x).as("qty_sum"),
            size(filter(col("qtys"), q => q > 40)).cast("long").as("n_big"))
        per.join(t(s, dir, "orders"),
            per("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum("qty_sum").cast("double").as("total_qty"),
            sum("n_big").as("n_big"))
          .orderBy("o_orderpriority")
      }),

    // ---- reproducible train/test split on a PORTABLE hash: md5 of the id
    //      computes identically on every engine (unlike Spark's xxhash64 or
    //      a seeded sampler), so the split assignment itself is
    //      oracle-exact — the property a training pipeline needs so reruns
    //      and other systems agree on which rows are held out. First two
    //      hex chars < '1a' => ~10.2% test. ----
    QueryDef("q67_train_test_split",
      Some("""SELECT split, count(*) AS n_docs,
             |  CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars
             |FROM (SELECT text,
             |        CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
             |             THEN 'test' ELSE 'train' END AS split
             |      FROM read_parquet('{SFDIR}/documents.parquet') documents)
             |GROUP BY split ORDER BY split""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .withColumn("split",
          when(substring(md5(col("doc_id").cast("string")), 1, 2) < "1a", "test")
            .otherwise("train"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("total_chars"))
        .orderBy("split")),

    // ---- char n-gram LM quality scoring (KenLM-filter pattern): model is
    //      engine-specific (top-K cut + smoothing) -> rows-only; the
    //      separation/determinism laws live in NgramLmSpec ----
    // ---- char-ngram LM quality (KenLM-filter pattern). Oracle-green
    //      since round 14: train + score is deterministic arithmetic end
    //      to end — normalize (lower, \s+ -> ' '), char-3gram counts,
    //      top-50k cut by (count desc, gram asc), TRUE context totals
    //      over the full distribution, add-0.05 smoothing over the
    //      kept-gram alphabet, floor from the least-likely seen context,
    //      per-doc mean gram log-prob — so DuckDB re-derives the model
    //      AND the scores exactly (verified: both SFs diff 0.0 at 4 dp).
    //      round(,4) absorbs the ln/summation-order last-ulp like q86. ----
    QueryDef("q68_lm_quality",
      Some("""WITH docs0 AS (
             |  SELECT doc_id, source, regexp_replace(lower(text), '\s+', ' ', 'g') AS s
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |dg0 AS (
             |  SELECT doc_id, source, length(s) - 2 AS m,
             |    unnest(list_transform(range(1, length(s) - 1), i -> substr(s, i, 3))) AS g
             |  FROM docs0 WHERE length(s) >= 3),
             |gc AS (SELECT g, count(*) AS c FROM dg0 GROUP BY g),
             |kept AS (SELECT g, c FROM gc ORDER BY c DESC, g LIMIT 50000),
             |ctx AS (SELECT substr(g, 1, 2) AS p, sum(c) AS t FROM gc GROUP BY p),
             |kctx AS (SELECT DISTINCT substr(g, 1, 2) AS p FROM kept),
             |ctxk AS (SELECT ctx.p, ctx.t FROM ctx JOIN kctx USING (p)),
             |alpha AS (SELECT count(DISTINCT substr(g, 3, 1)) AS a FROM kept),
             |lp AS (SELECT kept.g, ln((kept.c + 0.05) / (ctxk.t + 0.05 * alpha.a)) AS lp
             |       FROM kept JOIN ctxk ON substr(kept.g, 1, 2) = ctxk.p, alpha),
             |fl AS (SELECT ln(0.05 / (min(t) + 0.05 * (SELECT a FROM alpha))) AS f FROM ctxk),
             |ds AS (SELECT doc_id, any_value(dg0.source) AS source, any_value(m) AS m,
             |         sum(coalesce(lp.lp, fl.f)) AS sml
             |       FROM dg0 LEFT JOIN lp USING (g) CROSS JOIN fl GROUP BY doc_id),
             |scored AS (
             |  SELECT source, sml / m AS lm_score FROM ds
             |  UNION ALL
             |  SELECT source, (SELECT f FROM fl) AS lm_score
             |  FROM docs0 WHERE length(s) < 3)
             |SELECT source, count(*) AS n_docs,
             |  round(avg(lm_score), 4) AS avg_lm_score,
             |  round(min(lm_score), 4) AS min_lm_score
             |FROM scored GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val model = graft.ext.NgramLm.train(docs, "text", n = 3, maxNgrams = 50000)
        graft.ext.NgramLm.score(docs, "text", model)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(avg("lm_score"), 4).as("avg_lm_score"),
            round(min("lm_score"), 4).as("min_lm_score"))
          .orderBy("source")
      }),

    // ---- corpus mixing: per-source cost budget (the mixture-weights step
    //      of a pretraining build) — deterministic doc order makes the
    //      selected subset oracle-exact. Outer aggregates CAST on the
    //      oracle side (DuckDB windowed/grouped sums promote to HUGEINT,
    //      which the driver's comparator renders as float). ----
    QueryDef("q69_source_budget",
      Some("""WITH t AS (
             |  SELECT source,
             |    sum(CAST(length(text) AS BIGINT))
             |      OVER (PARTITION BY source ORDER BY doc_id
             |            ROWS UNBOUNDED PRECEDING) AS _cum
             |  FROM read_parquet('{SFDIR}/documents.parquet') documents)
             |SELECT source, count(*) AS kept_docs,
             |  CAST(max(_cum) AS BIGINT) AS used_chars
             |FROM t WHERE _cum <= 20000
             |GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => graft.ext.Mixing.capPerSource(
          t(s, dir, "documents"), "source", "doc_id",
          length(col("text")), budget = 20000L)
        .groupBy("source")
        .agg(count(lit(1)).as("kept_docs"), max("_cum").as("used_chars"))
        .orderBy("source")),

    // ---- temperature-reweighted mixing (the published pretraining-mix
    //      step: source budget ∝ mass^τ). Oracle-EXACT by construction at
    //      τ=0.5: weights are floor(sqrt(mass)) — sqrt is IEEE-correctly-
    //      rounded on every engine — and budgets are integer
    //      totalBudget*w/Σw, so DuckDB recomputes the identical kept set
    //      (the one engine-reproducibility caveat, pow at other τ, is
    //      documented on Mixing.temperatureMix). ----
    QueryDef("q76_temperature_mix",
      Some("""WITH d AS (SELECT doc_id, source, n_chars
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |tot AS (SELECT source, sum(n_chars) AS c FROM d GROUP BY source),
             |w AS (SELECT source,
             |        CAST(FLOOR(SQRT(CAST(c AS DOUBLE))) AS HUGEINT) AS wt
             |      FROM tot),
             |p AS (SELECT (sum(n_chars) * 2) // 5 AS btot FROM d),
             |b AS (SELECT w.source,
             |        (p.btot * w.wt) // (SELECT sum(wt) FROM w) AS bud
             |      FROM w, p),
             |cum AS (SELECT doc_id, source,
             |          sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
             |                             ROWS UNBOUNDED PRECEDING) AS rcum
             |        FROM d)
             |SELECT doc_id, source, CAST(rcum AS BIGINT) AS cum_chars
             |FROM cum JOIN b USING (source) WHERE rcum <= bud
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "source", "n_chars")
        // bounded driver agg: the 40% total budget in integer arithmetic
        // (the oracle computes the same (sum*2)//5 — exact on both sides)
        val totalChars = d.agg(sum(col("n_chars"))).head().getLong(0)
        graft.ext.Mixing.temperatureMix(d, "source", "doc_id",
            col("n_chars"), totalChars * 2 / 5, temperature = 0.5)
          .select(col("doc_id"), col("source"), col("_cum").as("cum_chars"))
          .orderBy("doc_id")
      }),

    // ---- data-parallel rank sharding + reproducible shuffle order (the
    //      export step after packing: which reader shard gets each
    //      sequence, and in what epoch order). PORTABLE by construction —
    //      both columns derive from md5("<seed>:<key>"), so the oracle
    //      recomputes the identical assignment (cf. q67). ----
    QueryDef("q77_rank_shard",
      Some("""SELECT doc_id,
             |  md5('42:' || CAST(doc_id AS VARCHAR)) AS order_key,
             |  CAST(CAST(('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS rank
             |FROM read_parquet('{SFDIR}/documents.parquet')
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => graft.ext.Packing.shardSequences(
          t(s, dir, "documents").select("doc_id"), "doc_id",
          numRanks = 8, seed = 42L)
        .orderBy("doc_id")),

    // ---- persisted ANN index: build once (IVF cells as parquet
    //      partitions + PQ codes + vectors), query with partition-pruned
    //      cell reads. Approximate + engine-specific -> rows-only; the
    //      bit-identity-with-online-IVF-PQ and partition-filter laws live
    //      in SimilaritySpec ----
    QueryDef("q70_ann_index", None,
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idxDir = scratch("graft-q70-annidx")
        graft.ext.Similarity.buildIndex(emb, "vec_id", "embedding", idxDir,
          nlist = 16, kmeansIters = 2, m = 8, k = 16)
        graft.ext.Similarity.indexTopK(
          emb.filter(col("vec_id") % 25 === 0), idxDir,
          "vec_id", "embedding", k = 3, nprobe = 4)
      }),

    // ---- ANN index layout variants: codes-only and residual (IVFADC)
    //      builds of the SAME corpus must agree with the vectors-stored
    //      index once exact-reranked against the source table — the
    //      round-4 spec law promoted into the driver's own artifact. The
    //      identity is asserted INSIDE the query (it throws on any
    //      mismatch); the returned frame summarizes the comparison.
    //      Engine-specific -> rows-only. ----
    QueryDef("q71_ann_index_variants", None,
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") % 25 === 0)
        def build(storeVectors: Boolean, residual: Boolean): String = {
          val d = scratch("graft-q71-annidx")
          graft.ext.Similarity.buildIndex(emb, "vec_id", "embedding", d,
            nlist = 16, kmeansIters = 2, m = 8, k = 16,
            storeVectors = storeVectors, residual = residual)
          d
        }
        def res(d: String, rerank: Boolean): Set[(Long, Long, Int, Double)] =
          graft.ext.Similarity.indexTopK(q, d, "vec_id", "embedding",
              k = 3, nprobe = 4,
              rerankCorpus = if (rerank) Some(emb) else None,
              rerankIdCol = if (rerank) "vec_id" else "")
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
            .toSet
        // Each codes-only index is compared to its SAME-residual
        // vectors-stored twin: indexTopK cuts candidates to k*rerankFactor
        // by ADC score BEFORE the exact rerank, so lean==full is an
        // identity only when both layouts rank the same shortlist — i.e.
        // same PQ codes. The codes-only twin is DERIVED from the full
        // build via [[Similarity.stripVectors]] (identical codes by
        // construction — the law's premise, made structural; also halves
        // the suite's build cost: 2 trained builds + 2 strips, not 4
        // builds). Cross-code layouts (residual vs raw) rank different
        // shortlists once the cut binds and may legitimately diverge;
        // that relation is a recall-overlap bound, not equality.
        def leanFrom(fullDir: String): String = {
          val d = scratch("graft-q71-annidx-lean")
          graft.ext.Similarity.stripVectors(s, fullDir, d)
          d
        }
        // the raw and residual trained builds are independent jobs into
        // disjoint scratch dirs — submit both up front (guide §2.6) so
        // the residual build's stages backfill the raw build's idle
        // slots; every downstream phase (strip, queries, identity
        // requires) still runs in its pinned order on the finished
        // artifacts, which are byte-identical to the sequential form.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fRaw = Future(build(storeVectors = true, residual = false))
        val fRes = Future(build(storeVectors = true, residual = true))
        val rawFullDir = Await.result(fRaw, Duration.Inf)
        val rawFull = res(rawFullDir, rerank = false)
        val rows = Seq(false, true).map { residual =>
          val fullDir =
            if (residual) Await.result(fRes, Duration.Inf)
            else rawFullDir
          val full = if (residual) res(fullDir, rerank = false) else rawFull
          val lean = res(leanFrom(fullDir), rerank = true)
          require(lean == full, s"codes-only + source rerank must equal the " +
            s"same-code vectors-stored index (residual=$residual): " +
            s"${(lean -- full).take(3)} vs ${(full -- lean).take(3)}")
          // Cross-code relation: once the k*rerankFactor ADC cut binds the
          // two layouts rank DIFFERENT shortlists, so vs the raw reference
          // only a recall-overlap bound holds — on (qid,nid) membership,
          // since rank/score of the symmetric difference shift the rest.
          val p = (x: Set[(Long, Long, Int, Double)]) => x.map(t => (t._1, t._2))
          val overlap = (p(lean) & p(rawFull)).size.toDouble / p(rawFull).size
          require(overlap >= 0.75, s"codes-only (residual=$residual) top-k " +
            s"overlap with raw-full reference fell below 0.75: $overlap")
          (if (residual) "residual" else "raw", full.size, lean == full,
            math.rint(overlap * 10000) / 10000)
        }
        rows.toDF("layout", "result_rows", "lean_identity", "raw_overlap")
      }),

    // ---- benchmark decontamination (the eval-overlap stage of a training
    //      data pipeline): docs with doc_id % 100 == 0 stand in for the
    //      eval set; every other doc is scored by DISTINCT word-3-gram
    //      overlap against it. Spark side is the broadcast-set map-only
    //      path (zero corpus-side shuffle); oracle recomputes via
    //      explode+join — a hash match means the two formulations agree
    //      exactly. range(1, len(w)-1) == one start per 3-gram. ----
    QueryDef("q72_decontaminate",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |grams AS (
             |  SELECT doc_id,
             |    len(list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
             |        i -> array_to_string(w[i:i+2], ' ')))) AS tot,
             |    unnest(list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
             |        i -> array_to_string(w[i:i+2], ' ')))) AS g
             |  FROM docs),
             |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 100 = 0)
             |SELECT c.doc_id, count(*) AS ngram_hits,
             |  any_value(tot) AS ngram_total
             |FROM grams c JOIN bench USING (g)
             |WHERE c.doc_id % 100 <> 0
             |GROUP BY c.doc_id HAVING count(*) >= 2
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val set = graft.ext.Decontaminate.benchmarkNgrams(
          docs.filter(col("doc_id") % 100 === 0), "text", n = 3)
        graft.ext.Decontaminate.tag(
            docs.filter(col("doc_id") % 100 =!= 0), "text", set)
          .filter(col("ngram_hits") >= 2)
          .select(col("doc_id"), col("ngram_hits"), col("ngram_total"))
          .orderBy("doc_id")
      }),

    // ---- repeated-span detection (substring-level exact dedup, the
    //      suffix-array-free distributed form): count per doc the 5-word
    //      window positions whose exact text occurs in >= 2 distinct docs.
    //      Spark matches windows by codegen XXH64; the oracle joins the
    //      exact window STRINGS — a hash match proves the hash-based
    //      dataflow reproduces exact-string semantics (and would expose a
    //      64-bit collision). ----
    QueryDef("q73_repeated_spans",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |wins AS (
             |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 3, 1)),
             |      i -> array_to_string(w[i:i+4], ' '))) AS g
             |  FROM docs),
             |rep AS (SELECT g FROM wins GROUP BY g HAVING count(DISTINCT doc_id) >= 2)
             |SELECT doc_id, count(*) AS repeated_windows
             |FROM wins JOIN rep USING (g)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => graft.ext.Dedup.repeatedSpans(
          t(s, dir, "documents"), "doc_id", "text", k = 5, minDocs = 2)
        .groupBy("doc_id").agg(count(lit(1)).as("repeated_windows"))
        .orderBy("doc_id")),

    // ---- near-dup cluster ids (connected components over a pair graph —
    //      keep-one-per-CLUSTER dedup semantics): pairs are the q25
    //      bucketed exact-jaccard graph at threshold 0.5; Spark runs
    //      hash-min label propagation to a fixpoint, the oracle closes the
    //      same graph with a recursive CTE — a hash match proves the
    //      iterative dataflow computes the true transitive closure. ----
    QueryDef("q74_neardup_clusters",
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id, source, n_chars // 100 AS bucket,
             |         list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS words
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM d a JOIN d b
             |    ON a.source = b.source AND a.bucket = b.bucket AND a.doc_id < b.doc_id
             |  WHERE len(list_intersect(a.words, b.words))
             |        / CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.5),
             |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |          UNION SELECT id_b, id_a FROM pairs),
             |reach(id, lbl) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id)
             |SELECT id AS doc_id, min(lbl) AS cluster_id
             |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
          (col("n_chars") / 100).cast(IntegerType).as("bucket"),
          array_sort(graft.functions.EsFunctions.shingle_hashes(col("text"), 1)).as("wh"))
        val a = d.alias("a")
        val b = d.alias("b")
        val pairs = a.join(b, col("a.source") === col("b.source") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
          .filter(graft.functions.EsFunctions.jaccard_sorted(
            col("a.wh"), col("b.wh")) >= 0.5)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        graft.ext.Dedup.nearDupClusters(pairs)
          .select(col("id").as("doc_id"), col("cluster_id"))
          .orderBy("doc_id")
      }),

    // ---- sequence packing (trainer-shape terminal op: docs -> fixed-
    //      capacity context windows via bucketed best-fit-decreasing;
    //      assignment is a pure function of the data so this aggregate is
    //      deterministic, but bin packing is not SQL-expressible -> laws
    //      (coverage/budget/determinism/efficiency) pinned in PackingSpec,
    //      driver records rows-only) ----
    QueryDef("q75_pack_sequences", None,
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("ntok"))
        // numBuckets sized for the corpus (operator contract: pools of
        // hundreds+ docs pack >95%; at 256 buckets sf0.01's ~500 docs
        // would sit 2 per pool and waste ~40% of every window)
        graft.ext.Packing.packAssignments(d, "doc_id", "ntok", maxLen = 128,
            numBuckets = 8)
          .groupBy("seq_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("tok_end") - col("tok_begin")).as("seq_tokens"))
          .orderBy("seq_id")
      }),

    // ---- packing conservation twin (hash-exact oracle for q75's laws):
    //      the ASSIGNMENT itself is not SQL-expressible (bin packing), but
    //      its conservation invariants are — total assigned tokens and
    //      chunk count are pure functions of the doc lengths (every
    //      ntok>0 doc fully assigned, long docs split into ⌈n/maxLen⌉
    //      chunks), coverage = every such doc appears, and the per-seq
    //      budget surfaces as a violation count DuckDB pins at zero. A
    //      packing bug (lost chunk, over-full bin, dropped doc, wrong
    //      split) breaks the hash. ----
    QueryDef("q79_pack_conservation",
      Some("""WITH d AS (
             |  SELECT len(string_split_regex(trim(text), '\s+')) AS ntok
             |  FROM read_parquet('{SFDIR}/documents.parquet')
             |  WHERE text IS NOT NULL),
             |v AS (SELECT ntok FROM d WHERE ntok > 0)
             |SELECT CAST(sum(ntok) AS BIGINT) AS total_tokens,
             |       CAST(sum(CAST(ceil(ntok / 128.0) AS BIGINT)) AS BIGINT) AS n_chunks,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(0 AS BIGINT) AS over_budget
             |FROM v""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("ntok"))
        // localCheckpoint: TWO aggregate branches consume the assignment
        // below — without materialization the bucketed BFD pass (the
        // expensive part, O(corpus)) would execute once per branch. The
        // checkpointed frame is the slim (id, chunk, span, seq) rows,
        // ~32 B/chunk.
        val asg = graft.ext.Packing.packAssignments(d, "doc_id", "ntok",
            maxLen = 128, numBuckets = 8)
          .localCheckpoint()
        val totals = asg.agg(
          sum(col("tok_end") - col("tok_begin")).as("total_tokens"),
          count(lit(1)).as("n_chunks"),
          countDistinct(col("doc_id")).as("n_docs"))
        val budget = asg.groupBy("seq_id")
          .agg(sum(col("tok_end") - col("tok_begin")).as("st"))
          .agg(sum(when(col("st") > 128, 1L).otherwise(0L)).as("over_budget"))
        totals.crossJoin(budget)
      }),

    // ---- concat-and-chunk packing (GPT-style: id-ordered token stream
    //      cut into fixed windows, docs spanning boundaries). Unlike BFD
    //      bin packing (q75/q79), this assignment IS SQL-expressible —
    //      exact prefix sums over id order — so the oracle pins the
    //      per-sequence layout hash-exact, not just conservation totals:
    //      a wrong offset, lost piece, misplaced boundary, or dropped doc
    //      shifts some sequence's (n_tokens, n_docs) and breaks the hash.
    //      Token counts use the shared whitespace tokenization law
    //      (q22/q79): len(string_split_regex(trim(text), '\s+')). ----
    QueryDef("q82_chunk_sequences",
      Some("""WITH d AS (
             |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
             |  FROM read_parquet('{SFDIR}/documents.parquet')
             |  WHERE text IS NOT NULL),
             |v AS (SELECT doc_id, n FROM d WHERE n > 0),
             |o AS (SELECT doc_id, n,
             |        CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
             |      FROM v),
             |p AS (SELECT o.doc_id, s.seq_id,
             |        LEAST((s.seq_id+1)*128, o.off+o.n) - GREATEST(s.seq_id*128, o.off) AS piece
             |      FROM o, UNNEST(generate_series(CAST(o.off//128 AS BIGINT), CAST((o.off+o.n-1)//128 AS BIGINT))) AS s(seq_id))
             |SELECT CAST(seq_id AS BIGINT) AS seq_id,
             |       CAST(SUM(piece) AS BIGINT) AS n_tokens,
             |       CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM p GROUP BY seq_id ORDER BY seq_id""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("transform(split(trim(text), '\\\\s+'), w -> length(w))")
              .as("ids"))
        graft.ext.Packing.chunkSequences(d, "doc_id", "ids", maxLen = 128)
          .select(col("seq_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            size(col("doc_spans")).cast("long").as("n_docs"))
          .orderBy("seq_id")
      }),

    // ---- chunk loader columns (GPT convention): per-TOKEN oracle over
    //      the q82 layout — position_ids must be the plain window index
    //      (a continued piece does not restart at 0) and doc_index must be
    //      the span slot. DuckDB re-derives the whole (window, slot,
    //      position) tiling from prefix sums, so a wrong offset, reset
    //      position, misassigned slot, or lost token breaks the hash. ----
    QueryDef("q85_chunk_loader",
      Some("""WITH d AS (
             |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
             |  FROM read_parquet('{SFDIR}/documents.parquet')
             |  WHERE text IS NOT NULL),
             |v AS (SELECT doc_id, n FROM d WHERE n > 0),
             |o AS (SELECT doc_id, n,
             |        CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
             |      FROM v),
             |p AS (SELECT o.doc_id, s.seq_id,
             |        GREATEST(s.seq_id*128, o.off) - s.seq_id*128 AS pos,
             |        LEAST((s.seq_id+1)*128, o.off+o.n) - GREATEST(s.seq_id*128, o.off) AS piece
             |      FROM o, UNNEST(generate_series(CAST(o.off//128 AS BIGINT), CAST((o.off+o.n-1)//128 AS BIGINT))) AS s(seq_id)),
             |sl AS (SELECT seq_id, pos, piece,
             |         row_number() OVER (PARTITION BY seq_id ORDER BY pos) - 1 AS slot
             |       FROM p)
             |SELECT CAST(sl.seq_id AS BIGINT) AS seq_id,
             |       CAST(t.t AS INT) AS t,
             |       CAST(t.t AS INT) AS position_id,
             |       CAST(sl.slot AS INT) AS doc_index
             |FROM sl, UNNEST(generate_series(sl.pos, sl.pos + sl.piece - 1)) AS t(t)
             |ORDER BY seq_id, t""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("transform(split(trim(text), '\\\\s+'), w -> length(w))")
              .as("ids"))
        val packed = graft.ext.Packing.withChunkLoaderColumns(
          graft.ext.Packing.chunkSequences(d, "doc_id", "ids", maxLen = 128))
        packed
          .select(col("seq_id"),
            posexplode(arrays_zip(col("position_ids"), col("doc_index")))
              .as(Seq("t", "z")))
          .select(col("seq_id"), col("t").cast("int").as("t"),
            col("z.position_ids").cast("int").as("position_id"),
            col("z.doc_index").cast("int").as("doc_index"))
          .orderBy("seq_id", "t")
      }),

    // ---- phased (annealing) mixing schedule: phase 1 = temperature mix
    //      at tau=0.5 over the whole corpus (40% of char mass), phase 2 =
    //      an anneal over what REMAINS (20%), budgets re-derived from the
    //      remaining masses. Same floor(sqrt) integer budget math as q76,
    //      so DuckDB recomputes the full two-phase selection hash-exact —
    //      including the exclusion (a doc spent in phase 1 must never
    //      reappear in phase 2). ----
    QueryDef("q83_phased_mix",
      Some("""WITH d AS (SELECT doc_id, source, n_chars
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |bt AS (SELECT (sum(n_chars) * 2) // 5 AS b1,
             |              sum(n_chars) // 5 AS b2 FROM d),
             |t1 AS (SELECT source, sum(n_chars) AS c FROM d GROUP BY source),
             |w1 AS (SELECT source,
             |         CAST(FLOOR(SQRT(CAST(c AS DOUBLE))) AS HUGEINT) AS wt
             |       FROM t1),
             |bud1 AS (SELECT w1.source,
             |           (bt.b1 * w1.wt) // (SELECT sum(wt) FROM w1) AS bud
             |         FROM w1, bt),
             |c1 AS (SELECT doc_id, source,
             |         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
             |                            ROWS UNBOUNDED PRECEDING) AS rcum
             |       FROM d),
             |p1 AS (SELECT doc_id, source
             |       FROM c1 JOIN bud1 USING (source) WHERE rcum <= bud),
             |r AS (SELECT * FROM d
             |      WHERE doc_id NOT IN (SELECT doc_id FROM p1)),
             |t2 AS (SELECT source, sum(n_chars) AS c FROM r GROUP BY source),
             |w2 AS (SELECT source,
             |         CAST(FLOOR(SQRT(CAST(c AS DOUBLE))) AS HUGEINT) AS wt
             |       FROM t2),
             |bud2 AS (SELECT w2.source,
             |           (bt.b2 * w2.wt) // (SELECT sum(wt) FROM w2) AS bud
             |         FROM w2, bt),
             |c2 AS (SELECT doc_id, source,
             |         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
             |                            ROWS UNBOUNDED PRECEDING) AS rcum
             |       FROM r),
             |p2 AS (SELECT doc_id, source
             |       FROM c2 JOIN bud2 USING (source) WHERE rcum <= bud)
             |SELECT phase, doc_id, source FROM (
             |  SELECT 'pretrain' AS phase, doc_id, source FROM p1
             |  UNION ALL
             |  SELECT 'anneal' AS phase, doc_id, source FROM p2)
             |ORDER BY phase, doc_id""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "source", "n_chars")
        val totalChars = d.agg(sum(col("n_chars"))).head().getLong(0)
        graft.ext.Mixing.phasedMix(d, "source", "doc_id", col("n_chars"),
            Seq(graft.ext.Mixing.MixPhase("pretrain", totalChars * 2 / 5, 0.5),
              graft.ext.Mixing.MixPhase("anneal", totalChars / 5, 0.5)))
          .select("phase", "doc_id", "source")
          .orderBy("phase", "doc_id")
      }),

    // ---- cluster-balanced sampling (topic balancing: temperature budgets
    //      over LATENT k-means clusters of the embedding instead of a
    //      provenance column). k-means labels are engine-specific ->
    //      rows-only; determinism/budget/rebalancing laws in MixingSpec ----
    QueryDef("q81_cluster_mix", None,
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"),
          length(col("text")).cast("long").as("cost"))
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val joined = docs.join(emb, "doc_id")
        val budget = 100000L
        graft.ext.Mixing.clusterBalancedSample(joined, "doc_id",
            "embedding", col("cost"), budget, k = 8)
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_kept"), sum("cost").as("cost_kept"))
          .orderBy("cluster_id")
      }),

    // ---- cluster-balanced sampling against FROZEN centroids — the q81
    //      operator with the one engine-specific piece (in-call k-means)
    //      replaced by a literal centroid artifact (here: the unit-norm
    //      assignment against four exemplar document embeddings), which
    //      makes the WHOLE selection DuckDB-recomputable hash-exact:
    //      labeling = argmax over dot(unit(v), cent) with ties to the
    //      smallest index (the exact best_cell kernel semantics — the
    //      oracle mimics the unitize divide element-for-element so both
    //      engines see bit-identical scores), budgets = the integer
    //      floor(sqrt(mass)) split of q76/q83, selection = the
    //      deterministic id-ordered prefix. This is the frozen-centroid
    //      form the STREAMING mix stage labels with
    //      (Mixing.clusterBalancedSampleWith). FP robustness: the
    //      smallest best-vs-second argmax margin is 8.2e-5 (sf0.001) /
    //      6.4e-4 (sf0.01) / 1.0e-4 (sf0.1) — eleven orders above double
    //      rounding, so no summation-order divergence can flip a label. ----
    QueryDef("q84_cluster_mix_frozen",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM read_parquet('{SFDIR}/embeddings.parquet')),
             |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id, v AS cv
             |      FROM e WHERE vec_id IN (0, 3, 11, 17)),
             |d AS (SELECT dd.doc_id, CAST(dd.n_chars AS BIGINT) AS cost, e.v
             |      FROM read_parquet('{SFDIR}/documents.parquet') dd
             |      JOIN e ON dd.doc_id = e.vec_id),
             |u AS (SELECT doc_id, cost,
             |        CASE WHEN list_dot_product(v, v) > 0
             |             THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             |             ELSE v END AS uv
             |      FROM d),
             |lab AS (SELECT doc_id, cost, cent_id,
             |          row_number() OVER (PARTITION BY doc_id
             |            ORDER BY list_dot_product(uv, cv) DESC, cent_id ASC) AS rk
             |        FROM u CROSS JOIN c),
             |l AS (SELECT doc_id, cost, CAST(cent_id AS INT) AS cluster_id
             |      FROM lab WHERE rk = 1),
             |bt AS (SELECT sum(cost) // 3 AS tb FROM l),
             |t AS (SELECT cluster_id, sum(cost) AS m FROM l GROUP BY cluster_id),
             |w AS (SELECT cluster_id,
             |        CAST(FLOOR(SQRT(CAST(m AS DOUBLE))) AS HUGEINT) AS wt FROM t),
             |bud AS (SELECT w.cluster_id,
             |          (bt.tb * w.wt) // (SELECT sum(wt) FROM w) AS bud
             |        FROM w, bt),
             |cum AS (SELECT doc_id, cluster_id,
             |          sum(cost) OVER (PARTITION BY cluster_id ORDER BY doc_id
             |                          ROWS UNBOUNDED PRECEDING) AS rcum
             |        FROM l)
             |SELECT cum.doc_id, cum.cluster_id
             |FROM cum JOIN bud USING (cluster_id)
             |WHERE cum.rcum <= bud.bud
             |ORDER BY cum.doc_id""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("long").as("cost"))
        val joined = docs.join(emb, "doc_id")
        // frozen centroid artifact: four exemplar embeddings by fixed id
        // (raw — assignClustersWith unitizes the ROW side only, exactly
        // like the oracle)
        val cents = emb
          .filter(col("doc_id").isin(0L, 3L, 11L, 17L)).orderBy("doc_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0)).toIndexedSeq
        val budget = joined.agg(sum("cost")).head().getLong(0) / 3
        graft.ext.Mixing.clusterBalancedSampleWith(joined, "doc_id",
            "embedding", col("cost"), budget, cents, temperature = 0.5)
          .select("doc_id", "cluster_id")
          .orderBy("doc_id")
      }),

    // ---- Pareto importance-sampling gate (GPT-3 appendix A: keep when
    //      pareto(alpha) > 1 - score). The draw is the inverse-CDF
    //      transform of an md5-derived uniform — PORTABLE, so DuckDB
    //      recomputes the identical keep set (same argument as q77). The
    //      score here is a deterministic proxy (length saturation) so the
    //      oracle pins the SAMPLING math hash-exact; the trained-model
    //      score path is covered by q78 + QualityClassifierSpec laws. ----
    QueryDef("q80_pareto_sample",
      Some("""SELECT doc_id
             |FROM (
             |  SELECT doc_id,
             |    LEAST(n_chars / 400.0, 0.95) AS score,
             |    CAST(('0x' || substring(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
             |      / 4503599627370496.0 AS u
             |  FROM read_parquet('{SFDIR}/documents.parquet'))
             |WHERE pow(1.0 - u, -1.0 / 9.0) - 1.0 > 1.0 - score
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val scored = t(s, dir, "documents").select(col("doc_id"),
          least(col("n_chars") / lit(400.0), lit(0.95)).as("score"))
        graft.ext.QualityClassifier
          .paretoSample(scored, "doc_id", "score", alpha = 9.0, seed = 7L)
          .select("doc_id").orderBy("doc_id")
      }),

    // ---- trained quality filter (GPT-3/CCNet-style LR over hashed
    //      n-grams): positives = documents as-is, negatives = the same
    //      text deterministically corrupted (vowels+spaces smashed, so
    //      stopword/shape signal vanishes); score all docs and aggregate
    //      by source. Model-based (L-BFGS) -> rows-only; separation,
    //      persistence, and map-only-scoring laws in QualityClassifierSpec ----
    QueryDef("q78_quality_classifier", None,
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val neg = docs.select(
          translate(col("text"), "aeiou ", "zzzzz").as("text"))
        val model = graft.ext.QualityClassifier.train(
          docs.select("text"), neg, "text", dim = 1 << 14, maxIter = 20)
        graft.ext.QualityClassifier.score(docs, "text", model)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(avg("quality_prob"), 2).as("avg_prob"))
          .orderBy("source")
      }),

    // ---- seeded sampling (pipeline subsetting; determinism + bounds in
    //      QueriesSpec, sampler differs across engines so no oracle) ----
    QueryDef("q52_sample", None,
      (s, dir) => t(s, dir, "lineitem")
        .sample(withReplacement = false, 0.1, seed = 42L)
        .agg(count(lit(1)).as("sampled_rows"),
          countDistinct(col("l_orderkey")).as("sampled_orders"))),

    // ---- BM25 full-text top-k (the read-side twin of the ES bundle sink:
    //      Lucene/ES practical BM25, ln(1+(N-df+.5)/(df+.5)) idf). The
    //      Spark side is the MAP-ONLY literal-query path (per-term tf as a
    //      codegen filter-size projection, no explode, distributed
    //      TakeOrdered); the oracle recomputes every factor from the raw
    //      text with the SAME fixed term order (sorted: merge, spark,
    //      window) and the same literal-for-literal float arithmetic, so a
    //      hash match pins idf/length-norm/tf and the tie-broken ranking
    //      end to end. round(,4) absorbs the ln last-ulp divergence
    //      between libm and the JVM (same convention as q24/q84). ----
    QueryDef("q86_bm25_search",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df2,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df3
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'merge'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'merge'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE list_contains(w, 'merge') OR list_contains(w, 'spark')
             |     OR list_contains(w, 'window'))
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.bm25TopK(
          t(s, dir, "documents"), "doc_id", "text", "spark window merge", k = 20)
        .orderBy("rank")),

    // ---- hybrid BM25 + vector search, reciprocal-rank fusion (the
    //      published ES/OpenSearch hybrid: 1/(60+rank) per ranker over
    //      bounded top-50 candidate lists, fused in fixed (bm25, vector)
    //      order). Query vector = embedding 7 (a literal artifact, q84
    //      discipline); both engines unitize the row side element-for-
    //      element and rank with doc_id tie-breaks, so the fused scores
    //      are bit-identical rational sums of integer ranks. ----
    QueryDef("q87_hybrid_rrf",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'join') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df2,
             |    sum(CASE WHEN list_contains(w, 'stream') THEN 1 ELSE 0 END)::DOUBLE AS df3
             |  FROM docs),
             |bm AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
             |  FROM (
             |    SELECT doc_id, round(
             |        ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |          * (len(list_filter(w, x -> x = 'join'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w, x -> x = 'join'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |      + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |          * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |      + ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5))
             |          * (len(list_filter(w, x -> x = 'stream'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w, x -> x = 'stream'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |    FROM docs, st
             |    WHERE list_contains(w, 'join') OR list_contains(w, 'spark')
             |       OR list_contains(w, 'stream')) s),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |      FROM read_parquet('{SFDIR}/embeddings.parquet')),
             |qv AS (SELECT CASE WHEN list_dot_product(v, v) > 0
             |              THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             |              ELSE v END AS q
             |       FROM e WHERE vec_id = 7),
             |vr AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS vec_rank
             |  FROM (
             |    SELECT e.vec_id AS doc_id,
             |      round(list_dot_product(
             |        CASE WHEN list_dot_product(e.v, e.v) > 0
             |             THEN list_transform(e.v, x -> x / sqrt(list_dot_product(e.v, e.v)))
             |             ELSE e.v END, qv.q), 4) AS score
             |    FROM e, qv) s),
             |bmk AS (SELECT doc_id, bm25_rank FROM bm WHERE bm25_rank <= 50),
             |vrk AS (SELECT doc_id, vec_rank FROM vr WHERE vec_rank <= 50),
             |fused AS (
             |  SELECT COALESCE(bmk.doc_id, vrk.doc_id) AS doc_id,
             |    bmk.bm25_rank, vrk.vec_rank,
             |    COALESCE(1.0 / (60.0 + bmk.bm25_rank), 0.0)
             |      + COALESCE(1.0 / (60.0 + vrk.vec_rank), 0.0) AS rrf_score
             |  FROM bmk FULL OUTER JOIN vrk ON bmk.doc_id = vrk.doc_id)
             |SELECT doc_id, rank, bm25_rank, vec_rank, rrf_score FROM (
             |  SELECT doc_id, bm25_rank, vec_rank, rrf_score,
             |    row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
             |  FROM fused) x
             |WHERE rank <= 15
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 7)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toSeq
        graft.ext.Search.hybridTopK(docs, "doc_id", "text",
            emb, "vec_id", "embedding",
            query = "spark join stream", queryVec = qv, k = 15, kCand = 50)
          .orderBy("rank")
      }),

    // ---- SemDeDup (Abbas et al. 2023): frozen-centroid semantic dedup —
    //      cluster-bounded greedy keep-first cosine pruning. Labels use
    //      the q84 exemplar-centroid artifact (same measured argmax
    //      margins); the oracle recomputes labeling AND the within-cluster
    //      pair pruning from raw embeddings, so a hash match pins the
    //      blocking key and the drop rule exactly. ----
    QueryDef("q88_semdedup",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM read_parquet('{SFDIR}/embeddings.parquet')),
             |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id, v AS cv
             |      FROM e WHERE vec_id IN (0, 3, 11, 17)),
             |u AS (SELECT vec_id,
             |        CASE WHEN list_dot_product(v, v) > 0
             |             THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             |             ELSE v END AS uv
             |      FROM e),
             |lab AS (SELECT vec_id, uv, cent_id,
             |          row_number() OVER (PARTITION BY vec_id
             |            ORDER BY list_dot_product(uv, cv) DESC, cent_id ASC) AS rk
             |        FROM u CROSS JOIN c),
             |l AS (SELECT vec_id, uv, CAST(cent_id AS INT) AS cluster_id
             |      FROM lab WHERE rk = 1),
             |dropped AS (
             |  SELECT DISTINCT b.vec_id
             |  FROM l a JOIN l b ON a.cluster_id = b.cluster_id
             |    AND a.vec_id < b.vec_id
             |    AND round(list_dot_product(a.uv, b.uv), 4) >= 0.35)
             |SELECT vec_id, cluster_id FROM l
             |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
             |ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val cents = e.filter(col("vec_id").isin(0L, 3L, 11L, 17L)).orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toSeq).toIndexedSeq
        graft.ext.Dedup.semDedup(e, "vec_id", "embedding", cents, threshold = 0.35)
          .select(col("vec_id"), col("cluster_id"))
          .orderBy("vec_id")
      }),

    // ---- Bloom-prefiltered decontamination (the scale path when the
    //      benchmark gram set exceeds the exact-broadcast ceiling): bloom
    //      candidates are exactly re-verified against the DISTRIBUTED gram
    //      table, so the output is IDENTICAL to exact semantics — the
    //      oracle is the q72 exact-string recomputation (2-grams, bench =
    //      doc_id % 50). A hash match proves the bloom path introduces
    //      zero false positives AND zero false negatives end-to-end. ----
    QueryDef("q89_decontaminate_bloom",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |grams AS (
             |  SELECT doc_id,
             |    len(list_distinct(list_transform(range(1, greatest(len(w), 1)),
             |        i -> array_to_string(w[i:i+1], ' ')))) AS tot,
             |    unnest(list_distinct(list_transform(range(1, greatest(len(w), 1)),
             |        i -> array_to_string(w[i:i+1], ' ')))) AS g
             |  FROM docs),
             |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
             |SELECT c.doc_id, count(*) AS ngram_hits,
             |  any_value(tot) AS ngram_total
             |FROM grams c JOIN bench USING (g)
             |WHERE c.doc_id % 50 <> 0
             |GROUP BY c.doc_id HAVING count(*) >= 1
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ext.Decontaminate.contaminatedIds(
            docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 50 === 0), "text",
            n = 2, minHits = 1)
          .orderBy("doc_id")
      }),

    // ---- persisted BM25 postings index, built THEN queried in-query (the
    //      q70/q71 discipline): the Spark side pays the full index
    //      lifecycle — explode into tb=bucket postings + stats, then the
    //      pruned-bucket indexed query — while the oracle recomputes BM25
    //      from the RAW TEXT exactly as q86 does. A hash match therefore
    //      pins that the build→append-layout→prune→pivot-scoring path is
    //      bit-identical to a direct corpus scan (same fixed term order
    //      filter < hash < scan, same float arithmetic, same tie-break),
    //      i.e. the index introduces NO approximation anywhere. ----
    QueryDef("q90_bm25_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'filter') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'hash') THEN 1 ELSE 0 END)::DOUBLE AS df2,
             |    sum(CASE WHEN list_contains(w, 'scan') THEN 1 ELSE 0 END)::DOUBLE AS df3
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'filter'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'filter'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'hash'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'hash'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5))
             |        * (len(list_filter(w, x -> x = 'scan'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'scan'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE list_contains(w, 'filter') OR list_contains(w, 'hash')
             |     OR list_contains(w, 'scan'))
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedBm25TopK(s, idx, "scan hash filter", k = 20)
          .orderBy("rank")
      }),

    // ---- retrieval-metrics evaluation (precision@k / recall@k / MRR /
    //      binary nDCG@k): the run is a PORTABLE deterministic ranking
    //      (md5 over "query_id:doc_id", the q67 portable-hash discipline —
    //      both engines rank the identical strings), qrels are modulus
    //      classes, so DuckDB recomputes run, judgments AND every metric.
    //      DCG/IDCG are pinned as LEFT FOLDS over ascending ranks on both
    //      sides (Spark `aggregate`, DuckDB `list_reduce`), so the float
    //      arithmetic agrees bit for bit before the shared round(,4). ----
    QueryDef("q91_retrieval_metrics",
      Some("""WITH d AS (SELECT doc_id
             |          FROM read_parquet('{SFDIR}/documents.parquet')),
             |q AS (SELECT unnest([1, 2, 3]) AS query_id),
             |run AS (
             |  SELECT query_id, doc_id, row_number() OVER (
             |      PARTITION BY query_id
             |      ORDER BY md5(concat(query_id, ':', doc_id)), doc_id) AS rank
             |  FROM d CROSS JOIN q),
             |topk AS (SELECT * FROM run WHERE rank <= 20),
             |qrels AS (
             |  SELECT 1 AS query_id, doc_id FROM d WHERE doc_id % 7 = 0
             |  UNION ALL SELECT 2, doc_id FROM d WHERE doc_id % 11 = 3
             |  UNION ALL SELECT 3, doc_id FROM d WHERE doc_id % 13 = 5),
             |rel AS (SELECT query_id, count(*) AS relevant
             |        FROM qrels GROUP BY query_id),
             |hit AS (
             |  SELECT t.query_id, count(*) AS hits, min(rank) AS minrank,
             |         list_sort(list(rank)) AS ranks
             |  FROM topk t JOIN qrels USING (query_id, doc_id)
             |  GROUP BY t.query_id)
             |SELECT r.query_id, r.relevant,
             |  coalesce(hits, 0) AS hits,
             |  round(coalesce(hits, 0)::DOUBLE / 20.0, 4) AS precision_at_k,
             |  round(coalesce(hits, 0)::DOUBLE / r.relevant::DOUBLE, 4)
             |    AS recall_at_k,
             |  round(coalesce(1.0::DOUBLE / minrank::DOUBLE, 0.0), 4) AS mrr,
             |  round(coalesce(
             |    list_reduce(list_transform(range(1, len(ranks) + 1),
             |      j -> j::DOUBLE / ranks[j]), (a, b) -> a + b)
             |    / r.relevant::DOUBLE, 0.0), 4) AS ap,
             |  round(coalesce(
             |    list_reduce(list_transform(ranks,
             |      x -> 1.0::DOUBLE / log2(x + 1)), (a, b) -> a + b)
             |    / list_reduce(list_transform(
             |        range(1, least(20, r.relevant) + 1),
             |        i -> 1.0::DOUBLE / log2(i + 1)), (a, b) -> a + b),
             |    0.0), 4) AS ndcg
             |FROM rel r LEFT JOIN hit USING (query_id)
             |ORDER BY query_id""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ids = t(s, dir, "documents").select(col("doc_id"))
        val queryIds = s.range(1, 4).select(col("id").cast("int")
          .as("query_id"))
        // the run under evaluation: a portable deterministic ranking
        // (test-harness input — the OPERATOR under oracle scrutiny is
        // retrievalMetrics; q86/q90 already pin BM25 runs)
        val run = ids.crossJoin(queryIds)
          .withColumn("rank", row_number().over(
            Window.partitionBy("query_id").orderBy(
              md5(concat_ws(":", col("query_id"), col("doc_id"))),
              col("doc_id"))))
          .filter(col("rank") <= 20)
        val qrels =
          ids.filter(col("doc_id") % 7 === 0).select(lit(1).as("query_id"),
              col("doc_id"))
            .unionAll(ids.filter(col("doc_id") % 11 === 3)
              .select(lit(2).as("query_id"), col("doc_id")))
            .unionAll(ids.filter(col("doc_id") % 13 === 5)
              .select(lit(3).as("query_id"), col("doc_id")))
        graft.ext.Search.retrievalMetrics(run, qrels, k = 20)
          .orderBy("query_id")
      }),

    // ---- exact stratified split: per-source train/val/test folds with
    //      EXACT sizes (floor-of-cumsum cuts over a portable md5 order).
    //      The oracle recomputes rank, counts and the IEEE left-to-right
    //      fraction sums (0.8::DOUBLE + 0.1::DOUBLE — a decimal 0.9 would
    //      be a DIFFERENT cut when n*0.9 grazes an integer), so a hash
    //      match pins the ordering law, the cut arithmetic and the
    //      remainder-to-last-fold rule. The engine side is the bucketized
    //      two-phase prefix rank — no whole-stratum single-task sort. ----
    QueryDef("q92_stratified_split",
      Some("""WITH d AS (SELECT doc_id, source
             |          FROM read_parquet('{SFDIR}/documents.parquet')),
             |r AS (SELECT doc_id, source,
             |        row_number() OVER (PARTITION BY source
             |          ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
             |                   doc_id) AS rk,
             |        count(*) OVER (PARTITION BY source) AS n
             |      FROM d)
             |SELECT doc_id, source,
             |  CASE WHEN rk <= floor(n::DOUBLE * 0.8::DOUBLE) THEN 1
             |       WHEN rk <= floor(n::DOUBLE *
             |                        (0.8::DOUBLE + 0.1::DOUBLE)) THEN 2
             |       ELSE 3 END AS fold
             |FROM r ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        graft.ext.Mixing.stratifiedSplit(
            t(s, dir, "documents").select(col("doc_id"), col("source")),
            "doc_id", "source", Seq(0.8, 0.1, 0.1), seed = 42L)
          .select(col("doc_id"), col("source"), col("fold"))
          .orderBy("doc_id")),

    // ---- match highlighting (the `highlight` block of an ES response):
    //      EVERY occurrence position per present query term + a ±3-token
    //      snippet centered on each, pure integer/array arithmetic over
    //      the shared tokenization law — DuckDB recomputes the full
    //      occurrence list from the raw text exactly (per-index CASE scan
    //      + unnest vs the HOF position filter + explode). ----
    QueryDef("q93_search_highlights",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |t AS (SELECT unnest(['merge', 'spark', 'window']) AS term),
             |m AS (SELECT doc_id, w, term,
             |        unnest(list_filter(list_transform(range(1, len(w) + 1),
             |          i -> CASE WHEN w[i] = term THEN i END),
             |          x -> x IS NOT NULL)) AS p1
             |      FROM docs CROSS JOIN t)
             |SELECT doc_id, term, CAST(p1 - 1 AS INT) AS pos,
             |  array_to_string(w[greatest(p1 - 3, 1) : p1 + 3], ' ') AS snippet
             |FROM m
             |ORDER BY doc_id, term, pos""".stripMargin),
      (s, dir) => graft.ext.Search.highlights(
          t(s, dir, "documents"), "doc_id", "text", "spark window merge",
          window = 3)
        .orderBy("doc_id", "term", "pos")),

    // ---- facet counts over the matched set (the `aggregations` block of
    //      an ES response): per facet column, top-5 values by matched-doc
    //      count with smaller-value tie-breaks — integer counts, fully
    //      DuckDB-recomputable. ----
    QueryDef("q94_search_facets",
      Some("""WITH docs AS (
             |  SELECT source, lang,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |m AS (SELECT * FROM docs
             |      WHERE list_contains(w, 'join') OR list_contains(w, 'stream')),
             |u AS (
             |  SELECT 'source' AS facet, source AS value, count(*) AS docs
             |  FROM m GROUP BY source
             |  UNION ALL
             |  SELECT 'lang', lang, count(*) FROM m GROUP BY lang),
             |r AS (SELECT facet, value, docs,
             |        row_number() OVER (PARTITION BY facet
             |          ORDER BY docs DESC, value ASC NULLS FIRST) AS rank
             |      FROM u)
             |SELECT facet, value, docs, rank FROM r
             |WHERE rank <= 5 ORDER BY facet, rank""".stripMargin),
      (s, dir) => graft.ext.Search.facets(
          t(s, dir, "documents"), "text", "join stream",
          Seq("source", "lang"), topN = 5)
        .orderBy("facet", "rank")),

    // ---- graded-relevance nDCG (TREC gains 2^g − 1): the q91 portable
    //      run with modulus GRADED qrels, one class all-zero-grades to
    //      pin the grade≤0 ignore rule. DCG folds ascending ranks, IDCG
    //      folds the grade multiset descending — both matched in DuckDB
    //      with list_reduce over the identically-sorted lists, and 2^int
    //      gains are EXACT doubles, so only the shared log2 touches
    //      float parity (the q91 class, absorbed by round 4). ----
    QueryDef("q95_graded_ndcg",
      Some("""WITH d AS (SELECT doc_id
             |          FROM read_parquet('{SFDIR}/documents.parquet')),
             |q AS (SELECT unnest([1, 2, 3]) AS query_id),
             |run AS (
             |  SELECT query_id, doc_id, row_number() OVER (
             |      PARTITION BY query_id
             |      ORDER BY md5(concat(query_id, ':', doc_id)), doc_id) AS rank
             |  FROM d CROSS JOIN q),
             |topk AS (SELECT * FROM run WHERE rank <= 20),
             |qrels AS (
             |  SELECT 1 AS query_id, doc_id,
             |         CAST(1 + doc_id % 3 AS INT) AS grade
             |  FROM d WHERE doc_id % 7 = 0
             |  UNION ALL SELECT 2, doc_id, CAST(1 + doc_id % 4 AS INT)
             |  FROM d WHERE doc_id % 11 = 3
             |  UNION ALL SELECT 3, doc_id, CAST(doc_id % 3 AS INT)
             |  FROM d WHERE doc_id % 13 = 5),
             |rel AS (SELECT * FROM qrels WHERE grade > 0),
             |ra AS (SELECT query_id, count(*) AS judged,
             |         list_sort(list(grade), 'DESC') AS grades
             |       FROM rel GROUP BY query_id),
             |hit AS (
             |  SELECT t.query_id, count(*) AS hits,
             |    list(t.rank ORDER BY t.rank) AS ranks,
             |    list(grade ORDER BY t.rank) AS hgrades
             |  FROM topk t JOIN rel USING (query_id, doc_id)
             |  GROUP BY t.query_id),
             |s AS (
             |  SELECT ra.query_id, ra.judged, coalesce(hits, 0) AS hits,
             |    coalesce(list_reduce(list_transform(
             |      range(1, len(ranks) + 1),
             |      j -> (pow(2.0::DOUBLE, hgrades[j]) - 1.0::DOUBLE)
             |             / log2(ranks[j] + 1)), (a, b) -> a + b), 0.0) AS dcg,
             |    list_reduce(list_transform(
             |      range(1, least(20, ra.judged) + 1),
             |      j -> (pow(2.0::DOUBLE, grades[j]) - 1.0::DOUBLE)
             |             / log2(j + 1)), (a, b) -> a + b) AS idcg
             |  FROM ra LEFT JOIN hit USING (query_id))
             |SELECT query_id, judged, hits, round(dcg, 4) AS dcg,
             |  round(idcg, 4) AS idcg,
             |  round(CASE WHEN hits = 0 THEN 0.0 ELSE dcg / idcg END, 4)
             |    AS ndcg
             |FROM s ORDER BY query_id""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ids = t(s, dir, "documents").select(col("doc_id"))
        val queryIds = s.range(1, 4).select(col("id").cast("int")
          .as("query_id"))
        val run = ids.crossJoin(queryIds)
          .withColumn("rank", row_number().over(
            Window.partitionBy("query_id").orderBy(
              md5(concat_ws(":", col("query_id"), col("doc_id"))),
              col("doc_id"))))
          .filter(col("rank") <= 20)
        val qrels =
          ids.filter(col("doc_id") % 7 === 0)
            .select(lit(1).as("query_id"), col("doc_id"),
              (lit(1) + col("doc_id") % 3).cast("int").as("grade"))
          .unionAll(ids.filter(col("doc_id") % 11 === 3)
            .select(lit(2).as("query_id"), col("doc_id"),
              (lit(1) + col("doc_id") % 4).cast("int").as("grade")))
          .unionAll(ids.filter(col("doc_id") % 13 === 5)
            .select(lit(3).as("query_id"), col("doc_id"),
              (col("doc_id") % 3).cast("int").as("grade")))
        graft.ext.Search.gradedNdcg(run, qrels, k = 20)
          .orderBy("query_id")
      }),

    // ---- hybrid BM25 + vector search against STANDING indexes (the
    //      serving-loop shape — zero corpus scans at query time): the
    //      Spark side pays BOTH index lifecycles in-query (postings build
    //      -> pruned-bucket BM25; ANN build -> probed-cell cosine) at
    //      FULL-FIDELITY knobs (nprobe = nlist, vectors-stored index,
    //      non-binding kCand·rerankFactor cut), where the indexed vector
    //      ranking provably equals brute-force cosine; the oracle
    //      recomputes the entire two-ranker RRF fusion from the RAW
    //      tables (the q87 law, different query + vector). A hash match
    //      pins that the standing-index hybrid == the scan-path hybrid ==
    //      first-principles recomputation. ----
    QueryDef("q96_hybrid_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'filter') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df2,
             |    sum(CASE WHEN list_contains(w, 'table') THEN 1 ELSE 0 END)::DOUBLE AS df3
             |  FROM docs),
             |bm AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
             |  FROM (
             |    SELECT doc_id, round(
             |        ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |          * (len(list_filter(w, x -> x = 'filter'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w, x -> x = 'filter'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |      + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |          * (len(list_filter(w, x -> x = 'merge'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w, x -> x = 'merge'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |      + ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5))
             |          * (len(list_filter(w, x -> x = 'table'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w, x -> x = 'table'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |    FROM docs, st
             |    WHERE list_contains(w, 'filter') OR list_contains(w, 'merge')
             |       OR list_contains(w, 'table')) s),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |      FROM read_parquet('{SFDIR}/embeddings.parquet')),
             |qv AS (SELECT CASE WHEN list_dot_product(v, v) > 0
             |              THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             |              ELSE v END AS q
             |       FROM e WHERE vec_id = 11),
             |vr AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS vec_rank
             |  FROM (
             |    SELECT e.vec_id AS doc_id,
             |      round(list_dot_product(
             |        CASE WHEN list_dot_product(e.v, e.v) > 0
             |             THEN list_transform(e.v, x -> x / sqrt(list_dot_product(e.v, e.v)))
             |             ELSE e.v END, qv.q), 4) AS score
             |    FROM e, qv) s),
             |bmk AS (SELECT doc_id, bm25_rank FROM bm WHERE bm25_rank <= 50),
             |vrk AS (SELECT doc_id, vec_rank FROM vr WHERE vec_rank <= 50),
             |fused AS (
             |  SELECT COALESCE(bmk.doc_id, vrk.doc_id) AS doc_id,
             |    bmk.bm25_rank, vrk.vec_rank,
             |    COALESCE(1.0 / (60.0 + bmk.bm25_rank), 0.0)
             |      + COALESCE(1.0 / (60.0 + vrk.vec_rank), 0.0) AS rrf_score
             |  FROM bmk FULL OUTER JOIN vrk ON bmk.doc_id = vrk.doc_id)
             |SELECT doc_id, rank, bm25_rank, vec_rank, rrf_score FROM (
             |  SELECT doc_id, bm25_rank, vec_rank, rrf_score,
             |    row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
             |  FROM fused) x
             |WHERE rank <= 15
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val bm25Idx = sharedPostingsIndex(s, dir)
        val annIdx = sharedAnnIndex(s, dir)
        val qv = emb.filter(col("vec_id") === 11)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toSeq
        // full-fidelity knobs: probe every cell, non-binding shortlist cut
        // (50·64 = 3200 ≥ |embeddings| at every SF) — the indexed vector
        // ranking then equals brute cosine, so the q87-class oracle applies
        graft.ext.Search.hybridTopKIndexed(s, bm25Idx, annIdx,
            query = "filter merge table", queryVec = qv, k = 15, kCand = 50,
            nprobe = 16, rerankFactor = 64)
          .orderBy("rank")
      }),

    // ---- phrase match from a POSITIONAL postings index (the
    //      match_phrase half of ES query traffic), q90 discipline: the
    //      Spark side pays the full positional-index lifecycle — build
    //      with per-(doc, term) position arrays, pruned-bucket read,
    //      shifted-position-set intersection for adjacency — while the
    //      oracle recomputes the phrase occurrences (overlaps included)
    //      and the documented score law (BM25 over phrase frequency,
    //      Σ idf over the phrase's terms in phrase order) from the RAW
    //      TEXT. A hash match pins that positional adjacency via the
    //      index is bit-identical to rescanning the text. ----
    QueryDef("q97_phrase_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |p AS (
             |  SELECT doc_id, w,
             |    len(list_filter(range(1, len(w)),
             |        i -> w[i] = 'merge' AND w[i+1] = 'spark'))::DOUBLE AS ptf
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      (ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |       + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)))
             |      * (ptf * (1.2 + 1.0))
             |      / (ptf + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)),
             |      4) AS score
             |  FROM p, st WHERE ptf > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedPhraseTopK(s, idx, "merge spark", k = 20)
          .orderBy("rank")
      }),

    // ---- SemDeDup with the paper's keep rule (keep = "low-similarity"):
    //      among near-duplicates the row FARTHEST from its cluster
    //      centroid survives (max diversity), ties to the smaller id —
    //      against the SAME frozen labels as q88. The oracle recomputes
    //      labeling, the rounded centroid-similarity precedence key AND
    //      the pair pruning from raw embeddings, so a hash match pins the
    //      keep policy's ordering law exactly (both sides compute
    //      dot(unit-vec, raw centroid) with the same sequential sum,
    //      rounded to 4 before comparison). ----
    QueryDef("q98_semdedup_keepfar",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |  FROM read_parquet('{SFDIR}/embeddings.parquet')),
             |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id, v AS cv
             |      FROM e WHERE vec_id IN (0, 3, 11, 17)),
             |u AS (SELECT vec_id,
             |        CASE WHEN list_dot_product(v, v) > 0
             |             THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             |             ELSE v END AS uv
             |      FROM e),
             |lab AS (SELECT vec_id, uv, cent_id,
             |          row_number() OVER (PARTITION BY vec_id
             |            ORDER BY list_dot_product(uv, cv) DESC, cent_id ASC) AS rk
             |        FROM u CROSS JOIN c),
             |l AS (SELECT vec_id, uv, CAST(cent_id AS INT) AS cluster_id
             |      FROM lab WHERE rk = 1),
             |ls AS (SELECT l.vec_id, l.uv, l.cluster_id,
             |         round(list_dot_product(l.uv, c.cv), 4) AS csim
             |       FROM l JOIN c ON l.cluster_id = c.cent_id),
             |dropped AS (
             |  SELECT DISTINCT b.vec_id
             |  FROM ls a JOIN ls b ON a.cluster_id = b.cluster_id
             |    AND (a.csim < b.csim
             |         OR (a.csim = b.csim AND a.vec_id < b.vec_id))
             |    AND round(list_dot_product(a.uv, b.uv), 4) >= 0.35)
             |SELECT vec_id, cluster_id FROM ls
             |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
             |ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val cents = e.filter(col("vec_id").isin(0L, 3L, 11L, 17L)).orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toSeq).toIndexedSeq
        graft.ext.Dedup.semDedup(e, "vec_id", "embedding", cents,
            threshold = 0.35, keep = "low-similarity")
          .select(col("vec_id"), col("cluster_id"))
          .orderBy("vec_id")
      }),

    // ---- batch BM25 (the inverted-postings shape + the bounded k-heap
    //      top-k): one corpus explode, broadcast query terms, per-(query,
    //      doc) TERM-ORDER contribution fold, per-query top-k via the
    //      partial+final TopKAgg heap — no rank window anywhere. The
    //      oracle recomputes every query's ranking from raw text with the
    //      SAME ascending-term fold (list_reduce over list(... ORDER BY
    //      term)) and the batch path's exact association
    //      (idf·(tf·(k1+1)) — the one `Search.bm25Term` every path uses, so
    //      batch == single-query holds to the ulp) — a hash match pins the
    //      postings shape,
    //      the fold order AND the heap's (score desc, id asc) cut. ----
    QueryDef("q99_bm25_batch",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |q AS (SELECT * FROM (VALUES
             |       (1, ['merge', 'spark', 'window']),
             |       (2, ['join', 'stream']),
             |       (3, ['filter', 'hash', 'scan'])) AS t(query_id, terms)),
             |qt AS (SELECT query_id, unnest(terms) AS term FROM q),
             |st AS (SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl
             |       FROM docs),
             |df AS (SELECT t.term,
             |         sum(CASE WHEN list_contains(d.w, t.term) THEN 1
             |             ELSE 0 END)::DOUBLE AS df
             |       FROM (SELECT DISTINCT term FROM qt) t CROSS JOIN docs d
             |       GROUP BY t.term),
             |contrib AS (
             |  SELECT qt.query_id, d.doc_id, qt.term,
             |    ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
             |      * (len(list_filter(d.w, x -> x = qt.term))::DOUBLE
             |         * (1.2 + 1.0))
             |      / (len(list_filter(d.w, x -> x = qt.term))::DOUBLE
             |         + 1.2 * ((1 - 0.75) + 0.75 * len(d.w)::DOUBLE / st.avgdl))
             |      AS c
             |  FROM qt JOIN df ON qt.term = df.term, docs d, st
             |  WHERE list_contains(d.w, qt.term)),
             |scored AS (
             |  SELECT query_id, doc_id,
             |    round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 4)
             |      AS score
             |  FROM contrib GROUP BY query_id, doc_id)
             |SELECT query_id, doc_id, rank, score FROM (
             |  SELECT query_id, doc_id, score,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 15
             |ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val queries = Seq((1, "spark window merge"), (2, "join stream"),
          (3, "filter hash scan")).toDF("query_id", "query_text")
        graft.ext.Search.bm25TopKBatch(
            t(s, dir, "documents"), "doc_id", "text", queries, k = 15)
          .orderBy("query_id", "rank")
      }),

    // ---- boolean query (the ES `bool` request: must/should/must_not)
    //      answered from the postings index, q90 discipline: docs must
    //      contain 'spark', must NOT contain 'join', 'window merge' is a
    //      pure score boost (must present). Scoring = the q86 BM25 sum
    //      over the sorted must+should union; the oracle recomputes the
    //      clause predicate AND the scoring from raw text. A hash match
    //      pins that clause logic via pivot predicates on pruned postings
    //      is bit-identical to the corpus-scan bool query. ----
    QueryDef("q100_bool_search",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df2,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df3
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'merge'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'merge'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE list_contains(w, 'spark')
             |    AND NOT list_contains(w, 'join'))
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 15
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedBoolTopK(s, idx,
            must = "spark", should = "window merge", mustNot = "join",
            k = 15)
          .orderBy("rank")
      }),

    // ---- histogram facet over the matched set (the ES `histogram`
    //      aggregation): fixed-interval buckets of n_chars among docs
    //      matching >=1 query term, bucket = floor(v/interval)·interval —
    //      integer counts + exact IEEE divide/floor on both engines, so
    //      the hash pins the bucketing law and the matched set. ----
    QueryDef("q101_histogram_facet",
      Some("""WITH docs AS (
             |  SELECT n_chars,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |m AS (SELECT * FROM docs
             |      WHERE (list_contains(w, 'join') OR list_contains(w, 'stream'))
             |        AND n_chars IS NOT NULL)
             |SELECT floor(n_chars::DOUBLE / 50.0) * 50.0 AS bucket,
             |  count(*) AS docs
             |FROM m GROUP BY 1 ORDER BY bucket""".stripMargin),
      (s, dir) => graft.ext.Search.histogramFacet(
          t(s, dir, "documents"), "text", "join stream",
          "n_chars", interval = 50.0)
        .orderBy("bucket")),

    // ---- multi-field search (the ES `multi_match`, most_fields mode):
    //      each field scored with ITS OWN df/avgdl (null text = empty
    //      tokens), document score = boost-weighted SUM across fields in
    //      given order. Fields: text (boost 1.0) and a derived metadata
    //      field source+lang (boost 0.5 — a power of two, so the boost
    //      multiply is IEEE-exact). The oracle recomputes both fields'
    //      statistics and scores from raw columns with the same pinned
    //      fold orders (terms sorted within field, fields left-assoc). ----
    QueryDef("q102_multifield_search",
      Some("""WITH docs AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '') AS w1,
             |    list_filter(string_split_regex(lower(concat_ws(' ', source, lang)),
             |                                   '\s+'), x -> x <> '') AS w2
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n,
             |    sum(coalesce(len(w1), 0))::DOUBLE / count(*) AS avgdl1,
             |    sum(coalesce(len(w2), 0))::DOUBLE / count(*) AS avgdl2,
             |    sum(CASE WHEN list_contains(w1, 'en') THEN 1 ELSE 0 END)::DOUBLE AS df1a,
             |    sum(CASE WHEN list_contains(w1, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1b,
             |    sum(CASE WHEN list_contains(w1, 'src3') THEN 1 ELSE 0 END)::DOUBLE AS df1c,
             |    sum(CASE WHEN list_contains(w2, 'en') THEN 1 ELSE 0 END)::DOUBLE AS df2a,
             |    sum(CASE WHEN list_contains(w2, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df2b,
             |    sum(CASE WHEN list_contains(w2, 'src3') THEN 1 ELSE 0 END)::DOUBLE AS df2c
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |    1.0 * (
             |        ln(1 + (st.n - st.df1a + 0.5) / (st.df1a + 0.5))
             |          * (len(list_filter(w1, x -> x = 'en'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w1, x -> x = 'en'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w1)::DOUBLE / st.avgdl1))
             |      + ln(1 + (st.n - st.df1b + 0.5) / (st.df1b + 0.5))
             |          * (len(list_filter(w1, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w1, x -> x = 'spark'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w1)::DOUBLE / st.avgdl1))
             |      + ln(1 + (st.n - st.df1c + 0.5) / (st.df1c + 0.5))
             |          * (len(list_filter(w1, x -> x = 'src3'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w1, x -> x = 'src3'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w1)::DOUBLE / st.avgdl1)))
             |    + 0.5 * (
             |        ln(1 + (st.n - st.df2a + 0.5) / (st.df2a + 0.5))
             |          * (len(list_filter(w2, x -> x = 'en'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w2, x -> x = 'en'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w2)::DOUBLE / st.avgdl2))
             |      + ln(1 + (st.n - st.df2b + 0.5) / (st.df2b + 0.5))
             |          * (len(list_filter(w2, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w2, x -> x = 'spark'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w2)::DOUBLE / st.avgdl2))
             |      + ln(1 + (st.n - st.df2c + 0.5) / (st.df2c + 0.5))
             |          * (len(list_filter(w2, x -> x = 'src3'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w2, x -> x = 'src3'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w2)::DOUBLE / st.avgdl2))),
             |    4) AS score
             |  FROM docs, st
             |  WHERE list_contains(w1, 'en') OR list_contains(w1, 'spark')
             |     OR list_contains(w1, 'src3') OR list_contains(w2, 'en')
             |     OR list_contains(w2, 'spark') OR list_contains(w2, 'src3'))
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("meta", concat_ws(" ", col("source"), col("lang")))
        graft.ext.Search.multiFieldTopK(docs, "doc_id",
            Seq(("text", 1.0), ("meta", 0.5)), "spark en src3", k = 20)
          .orderBy("rank")
      }),

    // ---- minimum_should_match (the ES knob): docs must match >= 2 of
    //      the 3 query terms; scoring is the q86 BM25 sum unchanged. The
    //      oracle recomputes the distinct-term-count predicate and the
    //      ranking, pinning that the threshold gates MATCHING only, not
    //      scoring. ----
    QueryDef("q103_min_should_match",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df2,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df3
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'merge'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'merge'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE (CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END) >= 2)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.bm25TopK(
          t(s, dir, "documents"), "doc_id", "text", "spark window merge",
          k = 20, minShouldMatch = 2)
        .orderBy("rank")),

    // ---- batch hybrid search (two queries, each fusing its own BM25 and
    //      cosine candidate lists): the q87 fusion law per query, the q99
    //      batch-BM25 association (idf·(tf·(k1+1)), `Search.bm25Term`) and
    //      ascending-term
    //      fold, the heap cut's (rrf desc, doc_id asc) order — all
    //      recomputed generically in DuckDB. A hash match pins the WHOLE
    //      batch path: postings shape, broadcast cosine, per-query
    //      bounded-heap cuts, and the fusion arithmetic. ----
    QueryDef("q104_hybrid_batch",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |q AS (SELECT * FROM (VALUES
             |       (1, ['join', 'spark', 'stream'], 7),
             |       (2, ['filter', 'merge', 'table'], 11))
             |      AS t(query_id, terms, src_vec)),
             |qt AS (SELECT query_id, unnest(terms) AS term FROM q),
             |st AS (SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl
             |       FROM docs),
             |df AS (SELECT t.term,
             |         sum(CASE WHEN list_contains(d.w, t.term) THEN 1
             |             ELSE 0 END)::DOUBLE AS df
             |       FROM (SELECT DISTINCT term FROM qt) t CROSS JOIN docs d
             |       GROUP BY t.term),
             |contrib AS (
             |  SELECT qt.query_id, d.doc_id, qt.term,
             |    ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
             |      * (len(list_filter(d.w, x -> x = qt.term))::DOUBLE
             |         * (1.2 + 1.0))
             |      / (len(list_filter(d.w, x -> x = qt.term))::DOUBLE
             |         + 1.2 * ((1 - 0.75) + 0.75 * len(d.w)::DOUBLE / st.avgdl))
             |      AS c
             |  FROM qt JOIN df ON qt.term = df.term, docs d, st
             |  WHERE list_contains(d.w, qt.term)),
             |bm AS (
             |  SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY
             |      round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 4)
             |        DESC, doc_id) AS bm25_rank
             |  FROM contrib GROUP BY query_id, doc_id),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |      FROM read_parquet('{SFDIR}/embeddings.parquet')),
             |u AS (SELECT vec_id,
             |        CASE WHEN list_dot_product(v, v) > 0
             |             THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             |             ELSE v END AS uv
             |      FROM e),
             |vr AS (
             |  SELECT q.query_id, u2.vec_id AS doc_id,
             |    row_number() OVER (PARTITION BY q.query_id ORDER BY
             |      round(list_dot_product(u2.uv, uq.uv), 4) DESC, u2.vec_id)
             |      AS vec_rank
             |  FROM q JOIN u uq ON uq.vec_id = q.src_vec CROSS JOIN u u2),
             |bmk AS (SELECT * FROM bm WHERE bm25_rank <= 40),
             |vrk AS (SELECT * FROM vr WHERE vec_rank <= 40),
             |fused AS (
             |  SELECT COALESCE(b.query_id, v.query_id) AS query_id,
             |    COALESCE(b.doc_id, v.doc_id) AS doc_id,
             |    b.bm25_rank, v.vec_rank,
             |    COALESCE(1.0 / (60.0 + b.bm25_rank), 0.0)
             |      + COALESCE(1.0 / (60.0 + v.vec_rank), 0.0) AS rrf_score
             |  FROM bmk b FULL OUTER JOIN vrk v
             |    ON b.query_id = v.query_id AND b.doc_id = v.doc_id)
             |SELECT query_id, doc_id, rank, bm25_rank, vec_rank, rrf_score
             |FROM (
             |  SELECT query_id, doc_id, bm25_rank, vec_rank, rrf_score,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY rrf_score DESC, doc_id) AS rank
             |  FROM fused) x
             |WHERE rank <= 12
             |ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val emb = t(s, dir, "embeddings")
        def vecOf(id: Long): Seq[Double] = emb.filter(col("vec_id") === id)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toSeq
        val queries = Seq((1, "spark join stream"), (2, "filter merge table"))
          .toDF("query_id", "query_text")
        val qvecs = Seq((1, vecOf(7)), (2, vecOf(11))).toDF("query_id", "vec")
        graft.ext.Search.hybridTopKBatch(docs, "doc_id", "text",
            emb, "vec_id", "embedding", queries, qvecs, k = 12, kCand = 40)
          .orderBy("query_id", "rank")
      }),

    // ---- fuzzy term matching (the ES `fuzzy` query): a token matches
    //      when its CLASSIC Levenshtein distance to the query term is
    //      <= 1 — 'spork' finds 'spark', 'windoe' finds 'window'. Both
    //      engines implement the same DP distance (integer-exact), so
    //      the relaxed tf/df counts and the BM25 law over them are
    //      fully recomputable. ----
    QueryDef("q105_fuzzy_search",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN len(list_filter(w, x -> levenshtein(x, 'spork') <= 1)) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN len(list_filter(w, x -> levenshtein(x, 'windoe') <= 1)) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> levenshtein(x, 'spork') <= 1))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> levenshtein(x, 'spork') <= 1))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> levenshtein(x, 'windoe') <= 1))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> levenshtein(x, 'windoe') <= 1))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE len(list_filter(w, x -> levenshtein(x, 'spork') <= 1)) > 0
             |     OR len(list_filter(w, x -> levenshtein(x, 'windoe') <= 1)) > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.fuzzyTopK(
          t(s, dir, "documents"), "doc_id", "text", "spork windoe",
          k = 20, fuzziness = 1)
        .orderBy("rank")),

    // ---- prefix term matching (the ES `prefix` query): a token matches
    //      when it starts with the query term — 'win' finds 'window',
    //      'spa' finds 'spark'. Same relaxed-count BM25 law; string
    //      prefix tests are byte-exact on both engines. ----
    QueryDef("q106_prefix_search",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN len(list_filter(w, x -> starts_with(x, 'spa'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN len(list_filter(w, x -> starts_with(x, 'win'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> starts_with(x, 'spa')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> starts_with(x, 'spa')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> starts_with(x, 'win')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> starts_with(x, 'win')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE len(list_filter(w, x -> starts_with(x, 'spa'))) > 0
             |     OR len(list_filter(w, x -> starts_with(x, 'win'))) > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.prefixTopK(
          t(s, dir, "documents"), "doc_id", "text", "spa win", k = 20)
        .orderBy("rank")),

    // ---- INDEXED fuzzy matching via the persisted term dictionary (the
    //      q90 discipline): the Spark side pays the full lifecycle —
    //      build the postings index incl. terms/, expand the typo'd
    //      query terms against the VOCABULARY with levenshtein, rank
    //      from the pruned tb= buckets of the expansion — while the
    //      oracle recomputes fuzzy BM25 from the RAW TEXT exactly as
    //      q105 does. A hash match pins that dictionary expansion +
    //      pruned-postings relaxed scoring is bit-identical to the
    //      corpus scan: same relaxed tf/df counts, same fixed term
    //      order, same float arithmetic, same tie-break. ----
    QueryDef("q107_fuzzy_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN len(list_filter(w, x -> levenshtein(x, 'spork') <= 1)) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN len(list_filter(w, x -> levenshtein(x, 'windoe') <= 1)) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> levenshtein(x, 'spork') <= 1))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> levenshtein(x, 'spork') <= 1))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> levenshtein(x, 'windoe') <= 1))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> levenshtein(x, 'windoe') <= 1))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE len(list_filter(w, x -> levenshtein(x, 'spork') <= 1)) > 0
             |     OR len(list_filter(w, x -> levenshtein(x, 'windoe') <= 1)) > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        // maxExpansions = 0 (unlimited): the oracle is SCAN semantics —
        // the default serving cap of 50 is a documented deviation
        graft.ext.Search.indexedFuzzyTopK(s, idx, "spork windoe",
            k = 20, fuzziness = 1, maxExpansions = 0)
          .orderBy("rank")
      }),

    // ---- INDEXED prefix matching via the term dictionary: same
    //      discipline as q107 with the starts_with expansion predicate;
    //      the oracle is q106's raw-text prefix BM25 verbatim. ----
    QueryDef("q108_prefix_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN len(list_filter(w, x -> starts_with(x, 'spa'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN len(list_filter(w, x -> starts_with(x, 'win'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> starts_with(x, 'spa')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> starts_with(x, 'spa')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> starts_with(x, 'win')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> starts_with(x, 'win')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE len(list_filter(w, x -> starts_with(x, 'spa'))) > 0
             |     OR len(list_filter(w, x -> starts_with(x, 'win'))) > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        // maxExpansions = 0 (unlimited): the oracle is SCAN semantics
        graft.ext.Search.indexedPrefixTopK(s, idx, "spa win", k = 20,
            maxExpansions = 0)
          .orderBy("rank")
      }),

    // ---- phrase match with SLOP (the ES match_phrase `slop` knob),
    //      answered from the POSITIONAL index: base b matches when every
    //      term appears within ±slop of its home slot b+j (the documented
    //      per-term position-window law — a transposition matches at
    //      slop 1, unlike Lucene's shared-budget scorer which needs 2).
    //      The Spark side builds the index in-query and intersects stored
    //      position sets; the oracle recomputes the window law from the
    //      RAW TEXT with guarded 1-based list probes (w[0] is NULL in
    //      DuckDB, out-of-range is NULL — coalesce(false) matches the
    //      Spark side's bounds-guarded element_at exactly). Scoring is
    //      the q97 phrase-BM25 law with the slop ptf. ----
    QueryDef("q109_phrase_slop",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |p AS (
             |  SELECT doc_id, w,
             |    len(list_filter(range(0, len(w) - 1), b ->
             |      (coalesce(w[b] = 'spark', false)
             |       OR coalesce(w[b+1] = 'spark', false)
             |       OR coalesce(w[b+2] = 'spark', false))
             |      AND (coalesce(w[b+1] = 'merge', false)
             |       OR coalesce(w[b+2] = 'merge', false)
             |       OR coalesce(w[b+3] = 'merge', false))))::DOUBLE AS ptf
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      (ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |       + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)))
             |      * (ptf * (1.2 + 1.0))
             |      / (ptf + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)),
             |      4) AS score
             |  FROM p, st WHERE ptf > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedPhraseTopK(s, idx, "spark merge", k = 20,
            slop = 1)
          .orderBy("rank")
      }),

    // ---- batched BM25 from the postings index: the q99 batch fixture
    //      answered from ONE pruned postings read for the whole batch
    //      (union of the batch's tb= buckets, df from the pruned rows,
    //      per-query k-heap — no rank window, no corpus scan). The
    //      oracle is the q99 raw-text batch recomputation VERBATIM: a
    //      hash match pins that the serving-loop batch path is
    //      bit-identical to both the scan batch and the per-query
    //      indexed path. ----
    QueryDef("q110_bm25_batch_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |q AS (SELECT * FROM (VALUES
             |       (1, ['merge', 'spark', 'window']),
             |       (2, ['join', 'stream']),
             |       (3, ['filter', 'hash', 'scan'])) AS t(query_id, terms)),
             |qt AS (SELECT query_id, unnest(terms) AS term FROM q),
             |st AS (SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl
             |       FROM docs),
             |df AS (SELECT t.term,
             |         sum(CASE WHEN list_contains(d.w, t.term) THEN 1
             |             ELSE 0 END)::DOUBLE AS df
             |       FROM (SELECT DISTINCT term FROM qt) t CROSS JOIN docs d
             |       GROUP BY t.term),
             |contrib AS (
             |  SELECT qt.query_id, d.doc_id, qt.term,
             |    ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
             |      * (len(list_filter(d.w, x -> x = qt.term))::DOUBLE
             |         * (1.2 + 1.0))
             |      / (len(list_filter(d.w, x -> x = qt.term))::DOUBLE
             |         + 1.2 * ((1 - 0.75) + 0.75 * len(d.w)::DOUBLE / st.avgdl))
             |      AS c
             |  FROM qt JOIN df ON qt.term = df.term, docs d, st
             |  WHERE list_contains(d.w, qt.term)),
             |scored AS (
             |  SELECT query_id, doc_id,
             |    round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 4)
             |      AS score
             |  FROM contrib GROUP BY query_id, doc_id)
             |SELECT query_id, doc_id, rank, score FROM (
             |  SELECT query_id, doc_id, score,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 15
             |ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val idx = sharedPostingsIndex(s, dir)
        val queries = Seq((1, "spark window merge"), (2, "join stream"),
          (3, "filter hash scan")).toDF("query_id", "query_text")
        graft.ext.Search.indexedBm25TopKBatch(s, idx, queries, k = 15)
          .orderBy("query_id", "rank")
      }),

    // ---- NESTED bool with per-clause boosts (the full ES `bool` shape:
    //      a bool inside should, competing boosts), from the postings
    //      index: must 'spark', mustNot 'hash', should = boosted
    //      match('window merge') x2.0 plus a nested AND-bool
    //      (join AND stream) x0.5. The oracle mirrors the documented
    //      fold laws — Term folds its terms sorted, clauses fold
    //      must-then-should in GIVEN order, an unmatched should clause
    //      contributes exactly 0, boosts multiply (2.0/0.5 are
    //      IEEE-exact powers of two) — so a hash match pins the whole
    //      recursive clause algebra against raw text. ----
    QueryDef("q111_bool_nested",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS dfspark,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS dfmerge,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS dfwindow,
             |    sum(CASE WHEN list_contains(w, 'join') THEN 1 ELSE 0 END)::DOUBLE AS dfjoin,
             |    sum(CASE WHEN list_contains(w, 'stream') THEN 1 ELSE 0 END)::DOUBLE AS dfstream
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.dfspark + 0.5) / (st.dfspark + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + CASE WHEN list_contains(w, 'merge') OR list_contains(w, 'window')
             |      THEN 2.0 * (
             |        ln(1 + (st.n - st.dfmerge + 0.5) / (st.dfmerge + 0.5))
             |          * (len(list_filter(w, x -> x = 'merge'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w, x -> x = 'merge'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |        + ln(1 + (st.n - st.dfwindow + 0.5) / (st.dfwindow + 0.5))
             |          * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)))
             |      ELSE 0 END
             |    + CASE WHEN list_contains(w, 'join') AND list_contains(w, 'stream')
             |      THEN 0.5 * (
             |        ln(1 + (st.n - st.dfjoin + 0.5) / (st.dfjoin + 0.5))
             |          * (len(list_filter(w, x -> x = 'join'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w, x -> x = 'join'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |        + ln(1 + (st.n - st.dfstream + 0.5) / (st.dfstream + 0.5))
             |          * (len(list_filter(w, x -> x = 'stream'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w, x -> x = 'stream'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)))
             |      ELSE 0 END, 4) AS score
             |  FROM docs, st
             |  WHERE list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        import graft.ext.Search.BoolNode
        val idx = sharedPostingsIndex(s, dir)
        val tree = BoolNode.Bool(
          must = Seq(BoolNode.Term("spark")),
          should = Seq(
            BoolNode.Term("window merge", boost = 2.0),
            BoolNode.Bool(
              must = Seq(BoolNode.Term("join"), BoolNode.Term("stream")),
              boost = 0.5)),
          mustNot = Seq(BoolNode.Term("hash")))
        graft.ext.Search.indexedBoolQueryTopK(s, idx, tree, k = 20)
          .orderBy("rank")
      }),

    // ---- terms facet with the ES `missing` bucket: null facet values
    //      group under an explicit label instead of the null-first
    //      bucket. Nulls are derived deterministically on BOTH sides
    //      (doc_id % 7 -> null lang) since the test corpus has none;
    //      the oracle coalesces identically. Top-N stays EXACT (global
    //      counts before the heap cut — no shard_size approximation to
    //      tune, the accuracy note ES documents away). ----
    QueryDef("q112_facets_missing",
      Some("""WITH docs AS (
             |  SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang2,
             |    source,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |m AS (SELECT * FROM docs
             |      WHERE list_contains(w, 'join') OR list_contains(w, 'stream')),
             |u AS (
             |  SELECT 'lang2' AS facet, coalesce(lang2, '(missing)') AS value,
             |    count(*) AS docs
             |  FROM m GROUP BY coalesce(lang2, '(missing)')
             |  UNION ALL
             |  SELECT 'source', coalesce(source, '(missing)'), count(*)
             |  FROM m GROUP BY coalesce(source, '(missing)')),
             |r AS (SELECT facet, value, docs,
             |        row_number() OVER (PARTITION BY facet
             |          ORDER BY docs DESC, value ASC NULLS FIRST) AS rank
             |      FROM u)
             |SELECT facet, value, docs, rank FROM r
             |WHERE rank <= 5 ORDER BY facet, rank""".stripMargin),
      (s, dir) => graft.ext.Search.facets(
          t(s, dir, "documents").withColumn("lang2",
            when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("lang"))),
          "text", "join stream", Seq("lang2", "source"), topN = 5,
          missing = Some("(missing)"))
        .orderBy("facet", "rank")),

    // ---- batch HYBRID against standing indexes — the full serving-loop
    //      composition at full-fidelity knobs (probe every cell,
    //      vectors-stored, non-binding 50·64 shortlist cut): the whole
    //      batch's BM25 list rides ONE pruned postings read, the vector
    //      list comes from the ANN index's cells, fusion is the shared
    //      batch RRF heap. Query ids are NEGATIVE (the documented
    //      contract: the ANN join self-excludes qid == nid, so batch ids
    //      must not collide with corpus ids). The oracle recomputes BOTH
    //      rankers and the fusion from raw tables (the q104 law) — a
    //      hash match pins the zero-corpus-scan serving path end to end,
    //      both index lifecycles paid in-query. ----
    QueryDef("q113_hybrid_batch_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |q AS (SELECT * FROM (VALUES
             |       (-1, ['join', 'spark', 'stream'], 7),
             |       (-2, ['filter', 'merge', 'table'], 11))
             |      AS t(query_id, terms, src_vec)),
             |qt AS (SELECT query_id, unnest(terms) AS term FROM q),
             |st AS (SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl
             |       FROM docs),
             |df AS (SELECT t.term,
             |         sum(CASE WHEN list_contains(d.w, t.term) THEN 1
             |             ELSE 0 END)::DOUBLE AS df
             |       FROM (SELECT DISTINCT term FROM qt) t CROSS JOIN docs d
             |       GROUP BY t.term),
             |contrib AS (
             |  SELECT qt.query_id, d.doc_id, qt.term,
             |    ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
             |      * (len(list_filter(d.w, x -> x = qt.term))::DOUBLE
             |         * (1.2 + 1.0))
             |      / (len(list_filter(d.w, x -> x = qt.term))::DOUBLE
             |         + 1.2 * ((1 - 0.75) + 0.75 * len(d.w)::DOUBLE / st.avgdl))
             |      AS c
             |  FROM qt JOIN df ON qt.term = df.term, docs d, st
             |  WHERE list_contains(d.w, qt.term)),
             |bm AS (
             |  SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY
             |      round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 4)
             |        DESC, doc_id) AS bm25_rank
             |  FROM contrib GROUP BY query_id, doc_id),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |      FROM read_parquet('{SFDIR}/embeddings.parquet')),
             |u AS (SELECT vec_id,
             |        CASE WHEN list_dot_product(v, v) > 0
             |             THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
             |             ELSE v END AS uv
             |      FROM e),
             |vr AS (
             |  SELECT q.query_id, u2.vec_id AS doc_id,
             |    row_number() OVER (PARTITION BY q.query_id ORDER BY
             |      round(list_dot_product(u2.uv, uq.uv), 4) DESC, u2.vec_id)
             |      AS vec_rank
             |  FROM q JOIN u uq ON uq.vec_id = q.src_vec CROSS JOIN u u2),
             |bmk AS (SELECT * FROM bm WHERE bm25_rank <= 50),
             |vrk AS (SELECT * FROM vr WHERE vec_rank <= 50),
             |fused AS (
             |  SELECT COALESCE(b.query_id, v.query_id) AS query_id,
             |    COALESCE(b.doc_id, v.doc_id) AS doc_id,
             |    b.bm25_rank, v.vec_rank,
             |    COALESCE(1.0 / (60.0 + b.bm25_rank), 0.0)
             |      + COALESCE(1.0 / (60.0 + v.vec_rank), 0.0) AS rrf_score
             |  FROM bmk b FULL OUTER JOIN vrk v
             |    ON b.query_id = v.query_id AND b.doc_id = v.doc_id)
             |SELECT query_id, doc_id, rank, bm25_rank, vec_rank, rrf_score
             |FROM (
             |  SELECT query_id, doc_id, bm25_rank, vec_rank, rrf_score,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY rrf_score DESC, doc_id) AS rank
             |  FROM fused) x
             |WHERE rank <= 12
             |ORDER BY query_id, rank""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val bm25Idx = sharedPostingsIndex(s, dir)
        val annIdx = sharedAnnIndex(s, dir)
        def vecOf(id: Long): Seq[Double] = emb.filter(col("vec_id") === id)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toSeq
        val queries = Seq((-1L, "spark join stream"), (-2L, "filter merge table"))
          .toDF("query_id", "query_text")
        val qvecs = Seq((-1L, vecOf(7)), (-2L, vecOf(11)))
          .toDF("query_id", "vec")
        graft.ext.Search.hybridTopKIndexedBatch(s, bm25Idx,
            annIdx, queries, qvecs, k = 12, kCand = 50,
            nprobe = 16, rerankFactor = 64)
          .orderBy("query_id", "rank")
      }),

    // ---- multi-field search from STANDING per-field indexes: the q102
    //      multi_match law (per-field df/avgdl, boost-weighted sum in
    //      field order) answered from one postings index per field —
    //      pruned reads + pivot scoring per field, full-outer join of
    //      the bounded match sets, absent field = exactly +0.0. The
    //      oracle is q102's raw-column recomputation VERBATIM, so a
    //      hash match pins that per-field indexing introduces no
    //      approximation anywhere (the last scan-only request type goes
    //      indexed). ----
    QueryDef("q114_multifield_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '') AS w1,
             |    list_filter(string_split_regex(lower(concat_ws(' ', source, lang)),
             |                                   '\s+'), x -> x <> '') AS w2
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n,
             |    sum(coalesce(len(w1), 0))::DOUBLE / count(*) AS avgdl1,
             |    sum(coalesce(len(w2), 0))::DOUBLE / count(*) AS avgdl2,
             |    sum(CASE WHEN list_contains(w1, 'en') THEN 1 ELSE 0 END)::DOUBLE AS df1a,
             |    sum(CASE WHEN list_contains(w1, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1b,
             |    sum(CASE WHEN list_contains(w1, 'src3') THEN 1 ELSE 0 END)::DOUBLE AS df1c,
             |    sum(CASE WHEN list_contains(w2, 'en') THEN 1 ELSE 0 END)::DOUBLE AS df2a,
             |    sum(CASE WHEN list_contains(w2, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df2b,
             |    sum(CASE WHEN list_contains(w2, 'src3') THEN 1 ELSE 0 END)::DOUBLE AS df2c
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |    1.0 * (
             |        ln(1 + (st.n - st.df1a + 0.5) / (st.df1a + 0.5))
             |          * (len(list_filter(w1, x -> x = 'en'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w1, x -> x = 'en'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w1)::DOUBLE / st.avgdl1))
             |      + ln(1 + (st.n - st.df1b + 0.5) / (st.df1b + 0.5))
             |          * (len(list_filter(w1, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w1, x -> x = 'spark'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w1)::DOUBLE / st.avgdl1))
             |      + ln(1 + (st.n - st.df1c + 0.5) / (st.df1c + 0.5))
             |          * (len(list_filter(w1, x -> x = 'src3'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w1, x -> x = 'src3'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w1)::DOUBLE / st.avgdl1)))
             |    + 0.5 * (
             |        ln(1 + (st.n - st.df2a + 0.5) / (st.df2a + 0.5))
             |          * (len(list_filter(w2, x -> x = 'en'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w2, x -> x = 'en'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w2)::DOUBLE / st.avgdl2))
             |      + ln(1 + (st.n - st.df2b + 0.5) / (st.df2b + 0.5))
             |          * (len(list_filter(w2, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w2, x -> x = 'spark'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w2)::DOUBLE / st.avgdl2))
             |      + ln(1 + (st.n - st.df2c + 0.5) / (st.df2c + 0.5))
             |          * (len(list_filter(w2, x -> x = 'src3'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w2, x -> x = 'src3'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w2)::DOUBLE / st.avgdl2))),
             |    4) AS score
             |  FROM docs, st
             |  WHERE list_contains(w1, 'en') OR list_contains(w1, 'spark')
             |     OR list_contains(w1, 'src3') OR list_contains(w2, 'en')
             |     OR list_contains(w2, 'spark') OR list_contains(w2, 'src3'))
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val root = scratch("graft-q114-mfidx")
        val docs = t(s, dir, "documents")
          .withColumn("meta", concat_ws(" ", col("source"), col("lang")))
        // the two per-field builds are INDEPENDENT jobs into disjoint
        // dirs — submit them concurrently (guide §2.6: overlap
        // independent jobs so one build's scheduling tail backfills the
        // other's idle slots). Each build's artifact is byte-identical
        // to the sequential form; only the wall-clock overlaps.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val builds = Seq("text" -> s"$root/text", "meta" -> s"$root/meta")
          .map { case (field, d) => Future(
            graft.ext.Search.buildPostingsIndex(
              docs, "doc_id", field, d, buckets = 32)) }
        builds.foreach(Await.result(_, Duration.Inf))
        graft.ext.Search.indexedMultiFieldTopK(s,
            Seq((s"$root/text", 1.0), (s"$root/meta", 0.5)),
            "spark en src3", k = 20)
          .orderBy("rank")
      }),

    // ---- top terms by document frequency from the term dictionary —
    //      the ES `terms` aggregation over an analyzed text field: the
    //      vocabulary-sized dictionary answers it without touching the
    //      corpus. The oracle recomputes exact per-term df from raw text
    //      (distinct (doc, term) pairs), so a hash match pins that the
    //      dictionary's df really is the exact document frequency right
    //      after a build (integer counts — no float risk). ----
    QueryDef("q115_top_terms",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |dt AS (SELECT DISTINCT doc_id, unnest(w) AS term FROM docs),
             |df AS (SELECT term, count(*) AS df FROM dt GROUP BY term)
             |SELECT term, df, rank FROM (
             |  SELECT term, df,
             |    row_number() OVER (ORDER BY df DESC, term ASC) AS rank
             |  FROM df) x
             |WHERE rank <= 15
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedTopTerms(s, idx, n = 15)
          .orderBy("rank")
      }),

    // ---- wildcard term query (the ES `wildcard` request type): a token
    //      matches when the WHOLE token matches the pattern (`*` any
    //      run, `?` one char), scored with the relaxed-BM25 law over the
    //      wildcard tf/df counts (the q105/q106 family). The translated
    //      regex subset (only `.*`, `.`, literals) means DuckDB's
    //      regexp_full_match reproduces the match law exactly; terms
    //      fold sorted ('s*m' < 'w?ndow'). ----
    QueryDef("q116_wildcard_search",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN len(list_filter(w, x -> regexp_full_match(x, 's.*m'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN len(list_filter(w, x -> regexp_full_match(x, 'w.ndow'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> regexp_full_match(x, 's.*m')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> regexp_full_match(x, 's.*m')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> regexp_full_match(x, 'w.ndow')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> regexp_full_match(x, 'w.ndow')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE len(list_filter(w, x -> regexp_full_match(x, 's.*m'))) > 0
             |     OR len(list_filter(w, x -> regexp_full_match(x, 'w.ndow'))) > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.wildcardTopK(
          t(s, dir, "documents"), "doc_id", "text", "s*m w?ndow", k = 20)
        .orderBy("rank")),

    // ---- INDEXED wildcard via the term dictionary (the q107/q108
    //      discipline): patterns expand against the VOCABULARY with the
    //      shared anchored-regex law, ranking from the expansion terms'
    //      pruned tb= buckets — the oracle recomputes wildcard BM25 from
    //      the RAW TEXT, so a hash match pins dictionary expansion +
    //      pruned-postings scoring bit-identical to the corpus scan. ----
    QueryDef("q117_wildcard_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN len(list_filter(w, x -> regexp_full_match(x, 's.*m'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN len(list_filter(w, x -> regexp_full_match(x, 'w.ndow'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> regexp_full_match(x, 's.*m')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> regexp_full_match(x, 's.*m')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> regexp_full_match(x, 'w.ndow')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> regexp_full_match(x, 'w.ndow')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE len(list_filter(w, x -> regexp_full_match(x, 's.*m'))) > 0
             |     OR len(list_filter(w, x -> regexp_full_match(x, 'w.ndow'))) > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        // maxExpansions = 0 (unlimited): the oracle is SCAN semantics
        graft.ext.Search.indexedWildcardTopK(s, idx, "s*m w?ndow", k = 20,
            maxExpansions = 0)
          .orderBy("rank")
      }),

    // ---- match_phrase_prefix (the ES search-as-you-type query): base i
    //      matches when w[i]='key' exactly and w[i+1] STARTS WITH 'or'
    //      ("key or" finds "key order"); score is the q97 phrase-BM25
    //      law with tf = the phrase-prefix occurrence count and idf =
    //      idf(exact df of 'key') + idf(RELAXED df of the 'or' prefix).
    //      Guarded 1-based probes: range(1, len(w)) keeps i+1 in
    //      bounds for the 2-term phrase. ----
    QueryDef("q118_phrase_prefix",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'key') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN len(list_filter(w, x -> starts_with(x, 'or'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |p AS (
             |  SELECT doc_id, w,
             |    len(list_filter(range(1, len(w)),
             |        i -> w[i] = 'key' AND starts_with(w[i+1], 'or')))::DOUBLE AS ptf
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      (ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |       + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)))
             |      * (ptf * (1.2 + 1.0))
             |      / (ptf + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)),
             |      4) AS score
             |  FROM p, st WHERE ptf > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.phrasePrefixTopK(
          t(s, dir, "documents"), "doc_id", "text", "key or", k = 20)
        .orderBy("rank")),

    // ---- INDEXED match_phrase_prefix from the POSITIONAL index: the
    //      last term expands against the term dictionary (unlimited
    //      here: the oracle is scan semantics) and a doc's starts are
    //      the intersection of 'key''s position set with the expansion
    //      union shifted to the last slot — position set arithmetic,
    //      text never re-read. Same oracle as q118: a hash match pins
    //      the indexed path bit-identical to the scan law. ----
    QueryDef("q119_phrase_prefix_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'key') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN len(list_filter(w, x -> starts_with(x, 'or'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |p AS (
             |  SELECT doc_id, w,
             |    len(list_filter(range(1, len(w)),
             |        i -> w[i] = 'key' AND starts_with(w[i+1], 'or')))::DOUBLE AS ptf
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      (ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |       + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)))
             |      * (ptf * (1.2 + 1.0))
             |      / (ptf + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)),
             |      4) AS score
             |  FROM p, st WHERE ptf > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedPhrasePrefixTopK(s, idx, "key or", k = 20,
            maxExpansions = 0)
          .orderBy("rank")
      }),

    // ---- date_histogram (the ES calendar aggregation): daily buckets
    //      of click events — date_trunc group-by, non-empty buckets (the
    //      min_doc_count=1 convention, q101's histogram law on the time
    //      axis). Bucket cast to DATE on both sides (Spark date_trunc
    //      yields midnight timestamps, DuckDB yields DATE for day+
    //      granularity — the cast is presentation, not law). ----
    QueryDef("q120_date_histogram",
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS bucket,
             |  count(*) AS docs
             |FROM read_parquet('{SFDIR}/events.parquet')
             |WHERE event_type = 'click' AND ts IS NOT NULL
             |GROUP BY 1
             |ORDER BY bucket""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        graft.ext.Search.dateHistogramFacet(t(s, dir, "events"), "ts",
            "day", filter = Some(col("event_type") === "click"))
          .select(col("bucket").cast("date").as("bucket"), col("docs"))
          .orderBy("bucket")
      }),

    // ---- range aggregation (the ES `range` agg): explicit [from, to)
    //      value buckets over purchase events — ranges OVERLAP ('10-50'
    //      and '25-100' both count a 30) and open ends use '*', the ES
    //      law verbatim. One scan, |ranges| conditional counts, melted
    //      driver-side; every requested range emits a row even when
    //      empty. ----
    QueryDef("q121_range_agg",
      Some("""WITH v AS (
             |  SELECT value FROM read_parquet('{SFDIR}/events.parquet')
             |  WHERE event_type = 'purchase' AND value IS NOT NULL)
             |SELECT * FROM (
             |  SELECT '*-10.0' AS range_key, CAST(NULL AS DOUBLE) AS range_from,
             |    10.0 AS range_to, (SELECT count(*) FROM v WHERE value < 10.0) AS docs
             |  UNION ALL
             |  SELECT '10.0-50.0', 10.0, 50.0,
             |    (SELECT count(*) FROM v WHERE value >= 10.0 AND value < 50.0)
             |  UNION ALL
             |  SELECT '25.0-100.0', 25.0, 100.0,
             |    (SELECT count(*) FROM v WHERE value >= 25.0 AND value < 100.0)
             |  UNION ALL
             |  SELECT '100.0-*', 100.0, CAST(NULL AS DOUBLE),
             |    (SELECT count(*) FROM v WHERE value >= 100.0)
             |) ORDER BY range_key""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        graft.ext.Search.rangeFacet(t(s, dir, "events"), "value",
            Seq((None, Some(10.0)), (Some(10.0), Some(50.0)),
              (Some(25.0), Some(100.0)), (Some(100.0), None)),
            filter = Some(col("event_type") === "purchase"))
          .orderBy("range_key")
      }),

    // ---- cardinality aggregation (the ES `cardinality` agg, EXACT
    //      form): distinct lang/source over the matched set — the q94
    //      facet filter with countDistinct instead of top-N. (The
    //      mergeable-sketch form is q55's hll_sketch_agg machinery.) ----
    QueryDef("q122_cardinality_agg",
      Some("""WITH docs AS (
             |  SELECT lang, source,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet'))
             |SELECT count(DISTINCT lang) AS lang_cardinality,
             |  count(DISTINCT source) AS source_cardinality
             |FROM docs
             |WHERE list_contains(w, 'spark') OR list_contains(w, 'window')"""
        .stripMargin),
      (s, dir) => graft.ext.Search.cardinalityFacet(
        t(s, dir, "documents"), "text", "spark window",
        Seq("lang", "source"))),

    // ---- vocabulary cardinality from the term dictionary: the ES
    //      cardinality aggregation over an analyzed text field answered
    //      WITHOUT touching the corpus — one vocabulary-sized distinct
    //      count over the index's terms/ (exact after a fresh build; the
    //      oracle recounts distinct tokens from raw text). ----
    QueryDef("q123_vocab_cardinality_indexed",
      Some("""SELECT count(DISTINCT x.term) AS cardinality
             |FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             |                                y -> y <> '')) AS term
             |      FROM read_parquet('{SFDIR}/documents.parquet')) x"""
        .stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedCardinality(s, idx)
      }),

    // ---- significant_terms (the ES aggregation, JLH heuristic): terms
    //      over-represented in the MATCHED set vs the corpus background —
    //      score = (fg% − bg%) · fg%/bg% for fg% > bg%, fixed arithmetic
    //      order, round 6, ties to the smaller term. ONE corpus pass
    //      (distinct tokens explode with a matched flag), the oracle
    //      recomputes fg/bg dfs and the exact IEEE sequence from raw
    //      text. ----
    QueryDef("q124_significant_terms",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |m AS (
             |  SELECT *, (list_contains(w, 'spark') OR list_contains(w, 'window')) AS mm
             |  FROM docs),
             |t AS (SELECT mm, unnest(list_distinct(w)) AS term FROM m),
             |counts AS (
             |  SELECT term, count(*)::BIGINT AS bg_df,
             |    CAST(sum(CASE WHEN mm THEN 1 ELSE 0 END) AS BIGINT) AS fg_df
             |  FROM t GROUP BY term),
             |tot AS (
             |  SELECT count(*)::DOUBLE AS n,
             |    CAST(sum(CASE WHEN mm THEN 1 ELSE 0 END) AS DOUBLE) AS fg
             |  FROM m)
             |SELECT term, fg_df, bg_df, score, rank FROM (
             |  SELECT term, fg_df, bg_df,
             |    round((fg_df::DOUBLE / tot.fg - bg_df::DOUBLE / tot.n)
             |          * ((fg_df::DOUBLE / tot.fg) / (bg_df::DOUBLE / tot.n)), 6) AS score,
             |    row_number() OVER (
             |      ORDER BY round((fg_df::DOUBLE / tot.fg - bg_df::DOUBLE / tot.n)
             |          * ((fg_df::DOUBLE / tot.fg) / (bg_df::DOUBLE / tot.n)), 6) DESC,
             |        term ASC) AS rank
             |  FROM counts, tot
             |  WHERE fg_df > 0
             |    AND fg_df::DOUBLE / tot.fg > bg_df::DOUBLE / tot.n) x
             |WHERE rank <= 10
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.significantTermsFacet(
          t(s, dir, "documents"), "text", "spark window", topN = 10)
        .orderBy("rank")),

    // ---- top_hits under a terms bucket (the ES `top_hits`
    //      sub-aggregation): per source, the 3 best matched docs by the
    //      q86 BM25 law — per-value cut via the bounded TopKAgg heap
    //      (never a corpus-sized rank window); the oracle IS the rank
    //      window (fine at oracle scale). ----
    QueryDef("q125_top_hits",
      Some("""WITH docs AS (
             |  SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT source AS value, doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE (list_contains(w, 'spark') OR list_contains(w, 'window'))
             |    AND source IS NOT NULL)
             |SELECT value, doc_id, rank, score FROM (
             |  SELECT value, doc_id, score,
             |    row_number() OVER (PARTITION BY value
             |                       ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 3
             |ORDER BY value, rank""".stripMargin),
      (s, dir) => graft.ext.Search.topHitsFacet(
          t(s, dir, "documents"), "text", "spark window", "doc_id",
          "source", k = 3)
        .orderBy("value", "rank")),

    // ---- pipeline aggregations over a date_histogram (the ES
    //      cumulative_sum / derivative / moving_fn trio): running total,
    //      bucket-over-bucket delta (null for the first bucket — the ES
    //      law) and a trailing 3-bucket average over q120's daily click
    //      histogram. The window runs over the HISTOGRAM (calendar-span
    //      rows), never the corpus — the corpus-sized work happened in
    //      the histogram's partial+final count. ----
    QueryDef("q126_date_histogram_pipeline",
      Some("""WITH h AS (
             |  SELECT CAST(date_trunc('day', ts) AS DATE) AS bucket,
             |    count(*) AS docs
             |  FROM read_parquet('{SFDIR}/events.parquet')
             |  WHERE event_type = 'click' AND ts IS NOT NULL
             |  GROUP BY 1)
             |SELECT bucket, docs,
             |  CAST(sum(docs) OVER (ORDER BY bucket
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
             |  docs - lag(docs) OVER (ORDER BY bucket) AS deriv,
             |  round(avg(docs) OVER (ORDER BY bucket
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg
             |FROM h ORDER BY bucket""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val hist = graft.ext.Search.dateHistogramFacet(t(s, dir, "events"),
            "ts", "day", filter = Some(col("event_type") === "click"))
          .select(col("bucket").cast("date").as("bucket"), col("docs"))
        graft.ext.Search.pipelineAggs(hist, window = 3).orderBy("bucket")
      }),

    // ---- function_score (the ES score-reshaping request): BM25 ×
    //      field_value_factor(ln1p) × gauss decay on n_chars — fold
    //      order pinned (bm25, factor, decay — left-assoc), σ²
    //      derived with the identical ln/div/mul sequence on both
    //      engines, one final round. ----
    QueryDef("q127_function_score",
      Some("""WITH docs AS (
             |  SELECT doc_id, n_chars,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |     (ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)))
             |    * ln(1 + 0.01 * coalesce(n_chars::DOUBLE, 0))
             |    * exp((n_chars::DOUBLE - 400.0) * (n_chars::DOUBLE - 400.0)
             |          / (-2.0 * (-(200.0 * 200.0) / (2.0 * ln(0.5))))), 4) AS score
             |  FROM docs, st
             |  WHERE list_contains(w, 'spark') OR list_contains(w, 'window'))
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 15
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.functionScoreTopK(
          t(s, dir, "documents"), "doc_id", "text", "spark window", k = 15,
          fieldFactor = Some(("n_chars", 0.01)),
          gaussDecay = Some(("n_chars", 400.0, 200.0, 0.5)))
        .orderBy("rank")),

    // ---- field collapse (the ES `collapse` request): at most one doc
    //      per source — best by BM25, ties to smaller id — then the
    //      global top-k of representatives. Spark side: per-value
    //      TopKAgg 1-heap (no rank window); oracle: the rank window. ----
    QueryDef("q128_collapse",
      Some("""WITH docs AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, source AS value, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE (list_contains(w, 'spark') OR list_contains(w, 'window'))
             |    AND source IS NOT NULL),
             |best AS (
             |  SELECT doc_id, value, score FROM (
             |    SELECT doc_id, value, score,
             |      row_number() OVER (PARTITION BY value
             |                         ORDER BY score DESC, doc_id) AS rn
             |    FROM scored) WHERE rn = 1)
             |SELECT doc_id, value, rank, score FROM (
             |  SELECT doc_id, value, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM best) x
             |WHERE rank <= 10
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.collapseTopK(
          t(s, dir, "documents"), "doc_id", "text", "spark window",
          "source", k = 10)
        .orderBy("rank")),

    // ---- rescore (the ES window rescorer): BM25 top-50 window,
    //      combined = 1.0·primary + 2.0·phrase('fast key') over the
    //      window only (0 when the phrase is absent), re-ranked top-10.
    //      Component scores round before combining (they are the
    //      operators' published outputs), combination rounds once. ----
    QueryDef("q129_rescore",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df2,
             |    sum(CASE WHEN list_contains(w, 'fast') THEN 1 ELSE 0 END)::DOUBLE AS df3,
             |    sum(CASE WHEN list_contains(w, 'key') THEN 1 ELSE 0 END)::DOUBLE AS df4
             |  FROM docs),
             |primary_scored AS (
             |  SELECT doc_id, w, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS p
             |  FROM docs, st
             |  WHERE list_contains(w, 'spark') OR list_contains(w, 'window')),
             |win AS (
             |  SELECT doc_id, w, p FROM (
             |    SELECT doc_id, w, p,
             |      row_number() OVER (ORDER BY p DESC, doc_id) AS rn
             |    FROM primary_scored) WHERE rn <= 50),
             |resc AS (
             |  SELECT doc_id, round(1.0 * p + 2.0 * (
             |    CASE WHEN len(list_filter(range(1, len(w)),
             |        i -> w[i] = 'fast' AND w[i+1] = 'key')) > 0
             |    THEN round(
             |      (ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5))
             |       + ln(1 + (st.n - st.df4 + 0.5) / (st.df4 + 0.5)))
             |      * (len(list_filter(range(1, len(w)),
             |            i -> w[i] = 'fast' AND w[i+1] = 'key'))::DOUBLE * (1.2 + 1.0))
             |      / (len(list_filter(range(1, len(w)),
             |            i -> w[i] = 'fast' AND w[i+1] = 'key'))::DOUBLE
             |         + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4)
             |    ELSE 0.0 END), 4) AS score
             |  FROM win, st)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM resc) x
             |WHERE rank <= 10
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.rescoreTopK(
          t(s, dir, "documents"), "doc_id", "text", "spark window",
          "fast key", k = 10, windowSize = 50, queryWeight = 1.0,
          rescoreWeight = 2.0)
        .orderBy("rank")),

    // ---- term suggester (the ES `term` suggest): dictionary terms
    //      within edit distance 2 of the typo 'slorw', closest first,
    //      popularity then term breaking ties — answered from the
    //      vocabulary-sized dictionary (fresh build -> exact dfs); the
    //      oracle recounts per-term dfs from raw text. ----
    QueryDef("q130_term_suggest",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |dt AS (SELECT DISTINCT doc_id, unnest(w) AS term FROM docs),
             |df AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
             |cand AS (
             |  SELECT term AS suggestion,
             |    levenshtein(term, 'slorw')::INT AS distance, df
             |  FROM df
             |  WHERE levenshtein(term, 'slorw') BETWEEN 1 AND 2)
             |SELECT suggestion, distance, df, rank FROM (
             |  SELECT suggestion, distance, df,
             |    row_number() OVER (ORDER BY distance, df DESC, suggestion) AS rank
             |  FROM cand) x
             |WHERE rank <= 5
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.termSuggest(s, idx, "slorw", maxEdits = 2, n = 5)
          .orderBy("rank")
      }),

    // ---- completion suggester: s-prefixed dictionary terms by
    //      (df desc, term asc) — indexedTopTerms restricted to a prefix
    //      pushed before the dictionary aggregate. ----
    QueryDef("q131_completion_suggest",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |dt AS (SELECT DISTINCT doc_id, unnest(w) AS term FROM docs),
             |df AS (SELECT term, count(*) AS df FROM dt GROUP BY term)
             |SELECT suggestion, df, rank FROM (
             |  SELECT term AS suggestion, df,
             |    row_number() OVER (ORDER BY df DESC, term) AS rank
             |  FROM df WHERE starts_with(term, 's')) x
             |WHERE rank <= 5
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.completionSuggest(s, idx, "s", n = 5)
          .orderBy("rank")
      }),

    // ---- boosting query (the ES `boosting` request): positive BM25
    //      ranking with docs matching the negative query DEMOTED by
    //      0.3 — not excluded (the must_not difference). Component
    //      positive score rounds first (it is bm25TopK's published
    //      output), the demotion rounds once more. ----
    QueryDef("q132_boosting",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id,
             |    round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS pos,
             |    (list_contains(w, 'slow') OR list_contains(w, 'dup')) AS neg
             |  FROM docs, st
             |  WHERE list_contains(w, 'spark') OR list_contains(w, 'window')),
             |combined AS (
             |  SELECT doc_id,
             |    round(CASE WHEN neg THEN pos * 0.3 ELSE pos END, 4) AS score
             |  FROM scored)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM combined) x
             |WHERE rank <= 15
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.boostingTopK(
          t(s, dir, "documents"), "doc_id", "text", "spark window",
          "slow dup", k = 15, negativeBoost = 0.3)
        .orderBy("rank")),

    // ---- search_after keyset pagination (the ES deep-pagination law:
    //      page 2 fetched with the last hit's (score, doc_id) cursor ==
    //      rows 11..20 of the single-shot top-20, hash-exact). The Spark
    //      side REALLY paginates — top-10 first, cursor = its last row,
    //      then a second query with the keyset filter; the oracle takes
    //      rank 11..20 of one global ranking and renumbers. rank restarts
    //      per page (ES returns hits, not global ranks). ----
    QueryDef("q133_search_after",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df2,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df3
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'merge'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'merge'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE list_contains(w, 'merge') OR list_contains(w, 'spark')
             |     OR list_contains(w, 'window'))
             |SELECT doc_id, (grank - 10)::INT AS rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS grank
             |  FROM scored) x
             |WHERE grank BETWEEN 11 AND 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val page1 = graft.ext.Search.bm25TopK(docs, "doc_id", "text",
            "spark window merge", k = 10)
          .orderBy("rank").collect()
        val cursor = (page1.last.getDouble(2), page1.last.getLong(0))
        graft.ext.Search.bm25TopK(docs, "doc_id", "text",
            "spark window merge", k = 10, searchAfter = Some(cursor))
          .orderBy("rank")
      }),

    // ---- span_near (ES span family, in_order single-term clauses):
    //      tf = greedy-chain count — #{p1 in pos(spark): the minimal
    //      in-order completion p2 = min pos(window) > p1, p3 = min
    //      pos(merge) > p2 exists with width budget p3-p1-2 <= slop} —
    //      a law both engines compute exactly from positions (greedy
    //      minimal completion makes "exists a tuple" decidable per p1
    //      with no combinatorial blowup). Spark side answers from a
    //      PERSISTED positional index built in-query (the q109
    //      convention), so the hash pins scan-law == indexed-positions
    //      through the oracle. Score = the phrase convention. ----
    QueryDef("q134_span_near",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df2,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df3
             |  FROM docs),
             |p AS (
             |  SELECT doc_id, w,
             |    len(list_filter(
             |      list_filter(range(0, len(w)), i -> w[i+1] = 'spark'),
             |      a -> list_min(list_filter(
             |             list_filter(range(0, len(w)), i -> w[i+1] = 'merge'),
             |             r -> r > list_min(list_filter(
             |                    list_filter(range(0, len(w)), i -> w[i+1] = 'window'),
             |                    q -> q > a)))) - a - 2 <= 6))::DOUBLE AS stf
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      (ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |       + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |       + ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5)))
             |      * (stf * (1.2 + 1.0))
             |      / (stf + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)),
             |      4) AS score
             |  FROM p, st WHERE stf > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedSpanNearTopK(s, idx,
            Seq("spark", "window", "merge"), slop = 6, k = 20)
          .orderBy("rank")
      }),

    // ---- span_first (ES span family): only occurrences inside the
    //      first `end` token positions count — the title-match shape on
    //      a combined field. tf = truncated occurrence count; score =
    //      the phrase convention with the term's own idf (document-wide
    //      df — position truncation changes the EVIDENCE, not the term's
    //      rarity). ----
    QueryDef("q135_span_first",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1
             |  FROM docs),
             |p AS (
             |  SELECT doc_id, w,
             |    len(list_filter(w[1:10], x -> x = 'spark'))::DOUBLE AS stf
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |      * (stf * (1.2 + 1.0))
             |      / (stf + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)),
             |      4) AS score
             |  FROM p, st WHERE stf > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.spanFirstTopK(
          t(s, dir, "documents"), "doc_id", "text", "spark", end = 10,
          k = 20)
        .orderBy("rank")),

    // ---- geo_distance (the ES geo query + _geo_distance sort):
    //      haversine at the Lucene mean-Earth radius 6371.0088, filter
    //      on the EXACT distance (rounding is display only — the box
    //      pushdown is then provably implied), nearest-first with id
    //      tie-breaks. Coordinates derive from o_orderkey by integer
    //      arithmetic both engines compute identically; round(,4)
    //      absorbs libm-vs-JVM trig last-ulps (the q86 ln convention). ----
    QueryDef("q136_geo_distance",
      Some("""WITH c AS (SELECT o_orderkey,
             |    (o_orderkey * 17) % 18000 / 100.0 - 90.0 AS lat,
             |    (o_orderkey * 31) % 36000 / 100.0 - 180.0 AS lon
             |  FROM read_parquet('{SFDIR}/orders.parquet')),
             |d AS (SELECT o_orderkey AS doc_id,
             |    2 * 6371.0088 * asin(sqrt(
             |      sin(radians(lat - 10.0) / 2) ^ 2 +
             |      cos(radians(10.0)) * cos(radians(lat))
             |        * sin(radians(lon - 20.0) / 2) ^ 2)) AS dist
             |  FROM c)
             |SELECT doc_id, rank, distance_km FROM (
             |  SELECT doc_id, round(dist, 4) AS distance_km,
             |    row_number() OVER (ORDER BY round(dist, 4), doc_id) AS rank
             |  FROM d WHERE dist <= 1500.0) x
             |WHERE rank <= 50
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val pts = t(s, dir, "orders").select(col("o_orderkey"),
          (pmod(col("o_orderkey") * 17, lit(18000)) / 100.0 - 90.0).as("lat"),
          (pmod(col("o_orderkey") * 31, lit(36000)) / 100.0 - 180.0).as("lon"))
        graft.ext.Search.geoDistanceTopK(pts, "o_orderkey", "lat", "lon",
            qLat = 10.0, qLon = 20.0, radiusKm = 1500.0, k = 50)
          .orderBy("rank")
      }),

    // ---- has_child (the ES parent-child query, score_mode max):
    //      parents = documents sources, children = the documents; a
    //      source ranks by its BEST matching child's BM25 score, with
    //      minChildren gating sparse parents. Child scores stay
    //      UNROUNDED into the aggregate (rounding after max — the
    //      published parent score), so the oracle recomputes the exact
    //      same float path. One child scan + one partial+final agg on
    //      the parent key; no join. ----
    QueryDef("q137_has_child",
      Some("""WITH docs AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |child AS (
             |  SELECT source,
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)) AS cs
             |  FROM docs, st
             |  WHERE list_contains(w, 'spark') OR list_contains(w, 'window')),
             |parent AS (
             |  SELECT source AS parent_id, round(max(cs), 4) AS score
             |  FROM child GROUP BY source HAVING count(*) >= 3)
             |SELECT parent_id, rank, score FROM (
             |  SELECT parent_id, score,
             |    row_number() OVER (ORDER BY score DESC, parent_id) AS rank
             |  FROM parent) x
             |WHERE rank <= 15
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.hasChildTopK(
          t(s, dir, "documents"), "source", "text", "spark window",
          k = 15, scoreMode = "max", minChildren = 3)
        .orderBy("rank")),

    // ---- nested query (the ES `nested` mapping/query): the conjunction
    //      must hold ON THE SAME array element — at sf0.01 a flattened
    //      mapping (any quantity>45 AND any discount<0.02 across
    //      DIFFERENT items) matches 2551 orders where nested matches
    //      848, the exact false-positive class nested docs exist to
    //      kill (pinned as a spec law). Orders assemble their lineitem
    //      structs in-query; rank = matched-element count, id ties. ----
    QueryDef("q138_nested_query",
      Some("""WITH m AS (
             |  SELECT l_orderkey AS doc_id,
             |    CAST(sum(CASE WHEN l_quantity > 45 AND l_discount < 0.02
             |             THEN 1 ELSE 0 END) AS INT) AS n_matched
             |  FROM read_parquet('{SFDIR}/lineitem.parquet')
             |  GROUP BY 1 HAVING n_matched >= 1)
             |SELECT doc_id, rank, n_matched FROM (
             |  SELECT doc_id, n_matched,
             |    row_number() OVER (ORDER BY n_matched DESC, doc_id) AS rank
             |  FROM m) x
             |WHERE rank <= 30
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val nested = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(collect_list(struct(col("l_quantity"), col("l_discount")))
            .as("items"))
        graft.ext.Search.nestedTopK(nested, "l_orderkey", "items",
            e => e.getField("l_quantity") > 45 &&
              e.getField("l_discount") < 0.02, k = 30)
          .orderBy("rank")
      }),

    // ---- _explain (the ES explain API): per-(doc, term) BM25 score
    //      decomposition — tf/df/idf/length-norm/contribution — for the
    //      q86 query's top-5 docs; the total equals bm25TopK's published
    //      score exactly (contributions sum unrounded in sorted term
    //      order, round once). Only matching terms explain (tf > 0). ----
    QueryDef("q139_explain",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END) AS df1,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END) AS df2,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END) AS df3
             |  FROM docs),
             |per AS (
             |  SELECT doc_id, len(w)::DOUBLE AS dl,
             |    len(list_filter(w, x -> x = 'merge'))::DOUBLE AS tf1,
             |    len(list_filter(w, x -> x = 'spark'))::DOUBLE AS tf2,
             |    len(list_filter(w, x -> x = 'window'))::DOUBLE AS tf3,
             |    1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl) AS ln_
             |  FROM docs, st
             |  WHERE list_contains(w, 'merge') OR list_contains(w, 'spark')
             |     OR list_contains(w, 'window')),
             |scored AS (
             |  SELECT per.*,
             |    ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5)) AS idf1,
             |    ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)) AS idf2,
             |    ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5)) AS idf3,
             |    round(ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |            * (tf1 * 2.2) / (tf1 + ln_)
             |        + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |            * (tf2 * 2.2) / (tf2 + ln_)
             |        + ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5))
             |            * (tf3 * 2.2) / (tf3 + ln_), 4) AS score
             |  FROM per, st),
             |top5 AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
             |    FROM scored) x WHERE rk <= 5),
             |expl AS (
             |  SELECT doc_id, 'merge' AS term, tf1::BIGINT AS tf,
             |    (SELECT df1::BIGINT FROM st) AS df, round(idf1, 6) AS idf,
             |    dl::BIGINT AS dl, round(idf1 * (tf1 * 2.2) / (tf1 + ln_), 6)
             |      AS contribution, score
             |  FROM top5 WHERE tf1 > 0
             |  UNION ALL
             |  SELECT doc_id, 'spark', tf2::BIGINT,
             |    (SELECT df2::BIGINT FROM st), round(idf2, 6),
             |    dl::BIGINT, round(idf2 * (tf2 * 2.2) / (tf2 + ln_), 6), score
             |  FROM top5 WHERE tf2 > 0
             |  UNION ALL
             |  SELECT doc_id, 'window', tf3::BIGINT,
             |    (SELECT df3::BIGINT FROM st), round(idf3, 6),
             |    dl::BIGINT, round(idf3 * (tf3 * 2.2) / (tf3 + ln_), 6), score
             |  FROM top5 WHERE tf3 > 0)
             |SELECT * FROM expl ORDER BY doc_id, term""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val top5 = graft.ext.Search.bm25TopK(docs, "doc_id", "text",
            "spark window merge", k = 5)
          .collect().map(_.getLong(0)).toSeq
        // stats MUST come from the full corpus (df/avgdl/N are corpus
        // facts); only the OUTPUT rows narrow to the top-5 docs
        graft.ext.Search.explainScore(docs, "doc_id", "text",
            "spark window merge")
          .filter(col("doc_id").isin(top5: _*))
          .orderBy("doc_id", "term")
      }),

    // ---- regexp query (the ES `regexp` term query, the wildcard
    //      sibling): whole-token anchored regex match, BM25 over the
    //      regexp tf/df counts (the relaxed-match family law). The
    //      pattern subset is portable (classes + quantifiers valid in
    //      both Java regex and RE2), so DuckDB's regexp_full_match is
    //      the same predicate our anchored regexp_like applies. ----
    QueryDef("q140_regexp_search",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN len(list_filter(w, x -> regexp_full_match(x, 'sp[aeiou]rk'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN len(list_filter(w, x -> regexp_full_match(x, 'wind[a-z]+'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> regexp_full_match(x, 'sp[aeiou]rk')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> regexp_full_match(x, 'sp[aeiou]rk')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> regexp_full_match(x, 'wind[a-z]+')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> regexp_full_match(x, 'wind[a-z]+')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE len(list_filter(w, x -> regexp_full_match(x, 'sp[aeiou]rk'))) > 0
             |     OR len(list_filter(w, x -> regexp_full_match(x, 'wind[a-z]+'))) > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.regexpTopK(
          t(s, dir, "documents"), "doc_id", "text",
          "sp[aeiou]rk wind[a-z]+", k = 20)
        .orderBy("rank")),

    // ---- regexp from a STANDING index: dictionary expansion with the
    //      literal-prefix prefilter (dropped entirely for the
    //      prefixless pattern — the r13 leading-wildcard guard), pruned
    //      tb= buckets, maxExpansions 0 => bit-identical to the scan,
    //      so the SAME scan-law oracle gates both. ----
    QueryDef("q141_regexp_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN len(list_filter(w, x -> regexp_full_match(x, 'sp[aeiou]rk'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN len(list_filter(w, x -> regexp_full_match(x, '[a-z]*indow'))) > 0
             |        THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> regexp_full_match(x, 'sp[aeiou]rk')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> regexp_full_match(x, 'sp[aeiou]rk')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> regexp_full_match(x, '[a-z]*indow')))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> regexp_full_match(x, '[a-z]*indow')))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE len(list_filter(w, x -> regexp_full_match(x, 'sp[aeiou]rk'))) > 0
             |     OR len(list_filter(w, x -> regexp_full_match(x, '[a-z]*indow'))) > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        // '[a-z]*indow' has NO literal prefix -> exercises the
        // full-vocabulary path; maxExpansions 0 = exact scan equality
        graft.ext.Search.indexedRegexpTopK(s, idx,
            "sp[aeiou]rk [a-z]*indow", k = 20, maxExpansions = 0)
          .orderBy("rank")
      }),

    // ---- dis_max tie_breaker (the ES multi_match best_fields knob,
    //      default-usage 0.3): score = max + tb * (sum - max), both
    //      sides computing the IDENTICAL float sequence (per-field
    //      scores as in q102, greatest, left-assoc field-order sum).
    //      tb = 0 equivalence to q102's best_fields is a SearchSpec
    //      law. ----
    QueryDef("q142_dismax_tiebreak",
      Some("""WITH docs AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |                x -> x <> '') AS w1,
             |    list_filter(string_split_regex(lower(concat_ws(' ', source, lang)),
             |                                   '\s+'), x -> x <> '') AS w2
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n,
             |    sum(coalesce(len(w1), 0))::DOUBLE / count(*) AS avgdl1,
             |    sum(coalesce(len(w2), 0))::DOUBLE / count(*) AS avgdl2,
             |    sum(CASE WHEN list_contains(w1, 'en') THEN 1 ELSE 0 END)::DOUBLE AS df1a,
             |    sum(CASE WHEN list_contains(w1, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1b,
             |    sum(CASE WHEN list_contains(w1, 'src3') THEN 1 ELSE 0 END)::DOUBLE AS df1c,
             |    sum(CASE WHEN list_contains(w2, 'en') THEN 1 ELSE 0 END)::DOUBLE AS df2a,
             |    sum(CASE WHEN list_contains(w2, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df2b,
             |    sum(CASE WHEN list_contains(w2, 'src3') THEN 1 ELSE 0 END)::DOUBLE AS df2c
             |  FROM docs),
             |fields AS (
             |  SELECT doc_id,
             |    1.0 * (
             |        ln(1 + (st.n - st.df1a + 0.5) / (st.df1a + 0.5))
             |          * (len(list_filter(w1, x -> x = 'en'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w1, x -> x = 'en'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w1)::DOUBLE / st.avgdl1))
             |      + ln(1 + (st.n - st.df1b + 0.5) / (st.df1b + 0.5))
             |          * (len(list_filter(w1, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w1, x -> x = 'spark'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w1)::DOUBLE / st.avgdl1))
             |      + ln(1 + (st.n - st.df1c + 0.5) / (st.df1c + 0.5))
             |          * (len(list_filter(w1, x -> x = 'src3'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w1, x -> x = 'src3'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w1)::DOUBLE / st.avgdl1))) AS f1,
             |    0.5 * (
             |        ln(1 + (st.n - st.df2a + 0.5) / (st.df2a + 0.5))
             |          * (len(list_filter(w2, x -> x = 'en'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w2, x -> x = 'en'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w2)::DOUBLE / st.avgdl2))
             |      + ln(1 + (st.n - st.df2b + 0.5) / (st.df2b + 0.5))
             |          * (len(list_filter(w2, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w2, x -> x = 'spark'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w2)::DOUBLE / st.avgdl2))
             |      + ln(1 + (st.n - st.df2c + 0.5) / (st.df2c + 0.5))
             |          * (len(list_filter(w2, x -> x = 'src3'))::DOUBLE * (1.2 + 1.0))
             |          / (len(list_filter(w2, x -> x = 'src3'))::DOUBLE
             |             + 1.2 * ((1 - 0.75) + 0.75 * len(w2)::DOUBLE / st.avgdl2))) AS f2
             |  FROM docs, st
             |  WHERE list_contains(w1, 'en') OR list_contains(w1, 'spark')
             |     OR list_contains(w1, 'src3') OR list_contains(w2, 'en')
             |     OR list_contains(w2, 'spark') OR list_contains(w2, 'src3')),
             |scored AS (
             |  SELECT doc_id,
             |    round(greatest(f1, f2) + 0.3 * ((f1 + f2) - greatest(f1, f2)), 4) AS score
             |  FROM fields)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("meta", concat_ws(" ", col("source"), col("lang")))
        graft.ext.Search.multiFieldTopK(docs, "doc_id",
            Seq(("text", 1.0), ("meta", 0.5)), "spark en src3", k = 20,
            mode = "best_fields", tieBreaker = 0.3)
          .orderBy("rank")
      }),

    // ---- geo_bounding_box (ES filter query) CROSSING the antimeridian
    //      (left 100 > right -100): the lon predicate is the OR of two
    //      half-intervals — the case a naive BETWEEN empties. Integer-
    //      derived coords, pure comparisons: exact on both engines. ----
    QueryDef("q143_geo_bbox",
      Some("""WITH c AS (SELECT o_orderkey AS doc_id,
             |    (o_orderkey * 17) % 18000 / 100.0 - 90.0 AS lat,
             |    (o_orderkey * 31) % 36000 / 100.0 - 180.0 AS lon
             |  FROM read_parquet('{SFDIR}/orders.parquet'))
             |SELECT doc_id, lat, lon FROM c
             |WHERE lat >= -60.0 AND lat <= 60.0
             |  AND (lon >= 100.0 OR lon <= -100.0)
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val pts = t(s, dir, "orders").select(col("o_orderkey"),
          (pmod(col("o_orderkey") * 17, lit(18000)) / 100.0 - 90.0).as("lat"),
          (pmod(col("o_orderkey") * 31, lit(36000)) / 100.0 - 180.0).as("lon"))
        graft.ext.Search.geoBoundingBox(pts, "o_orderkey", "lat", "lon",
            top = 60.0, left = 100.0, bottom = -60.0, right = -100.0)
          .orderBy("doc_id")
      }),

    // ---- geo_polygon (ES filter query): even-odd raycast against a
    //      literal pentagon, the identical IEEE edge formula on both
    //      engines (shared literals, same division) — exact compare.
    //      The bounding-box prefilter is implied by the raycast. ----
    QueryDef("q144_geo_polygon",
      Some("""WITH c AS (SELECT o_orderkey AS doc_id,
             |    (o_orderkey * 17) % 18000 / 100.0 - 90.0 AS lat,
             |    (o_orderkey * 31) % 36000 / 100.0 - 180.0 AS lon
             |  FROM read_parquet('{SFDIR}/orders.parquet')),
             |r AS (SELECT doc_id, lat, lon,
             |    (CASE WHEN ((0.0 > lat) <> (30.0 > lat)) AND lon < (10.0 - 0.0) * (lat - 0.0) / (30.0 - 0.0) + 0.0 THEN 1 ELSE 0 END
             |   + CASE WHEN ((30.0 > lat) <> (40.0 > lat)) AND lon < (40.0 - 10.0) * (lat - 30.0) / (40.0 - 30.0) + 10.0 THEN 1 ELSE 0 END
             |   + CASE WHEN ((40.0 > lat) <> (10.0 > lat)) AND lon < (50.0 - 40.0) * (lat - 40.0) / (10.0 - 40.0) + 40.0 THEN 1 ELSE 0 END
             |   + CASE WHEN ((10.0 > lat) <> (-10.0 > lat)) AND lon < (25.0 - 50.0) * (lat - 10.0) / (-10.0 - 10.0) + 50.0 THEN 1 ELSE 0 END
             |   + CASE WHEN ((-10.0 > lat) <> (0.0 > lat)) AND lon < (0.0 - 25.0) * (lat - -10.0) / (0.0 - -10.0) + 25.0 THEN 1 ELSE 0 END) AS cr
             |  FROM c)
             |SELECT doc_id, lat, lon FROM r WHERE cr % 2 = 1
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val pts = t(s, dir, "orders").select(col("o_orderkey"),
          (pmod(col("o_orderkey") * 17, lit(18000)) / 100.0 - 90.0).as("lat"),
          (pmod(col("o_orderkey") * 31, lit(36000)) / 100.0 - 180.0).as("lon"))
        graft.ext.Search.geoPolygon(pts, "o_orderkey", "lat", "lon",
            Seq((0.0, 0.0), (30.0, 10.0), (40.0, 40.0), (10.0, 50.0),
              (-10.0, 25.0)))
          .orderBy("doc_id")
      }),

    // ---- geohash_grid aggregation (ES geo facet): cells at precision 3
    //      by doc count, exact top-10 (docs desc, geohash asc). The
    //      geohash derives ARITHMETICALLY (scaled-int cell coords + bit
    //      interleave + base32) — the oracle spells out the identical
    //      integer math, so the strings match byte-for-byte. ----
    QueryDef("q145_geohash_grid",
      Some("""WITH c AS (SELECT
             |    (o_orderkey * 17) % 18000 / 100.0 - 90.0 AS lat,
             |    (o_orderkey * 31) % 36000 / 100.0 - 180.0 AS lon
             |  FROM read_parquet('{SFDIR}/orders.parquet')),
             |cells AS (SELECT
             |    least(floor((lon + 180.0) / 360.0 * 256), 255)::BIGINT AS ix,
             |    least(floor((lat + 90.0) / 180.0 * 128), 127)::BIGINT AS iy
             |  FROM c),
             |v AS (SELECT
             |    ((ix >> 7) & 1) * 16384 + ((iy >> 6) & 1) * 8192
             |  + ((ix >> 6) & 1) * 4096  + ((iy >> 5) & 1) * 2048
             |  + ((ix >> 5) & 1) * 1024  + ((iy >> 4) & 1) * 512
             |  + ((ix >> 4) & 1) * 256   + ((iy >> 3) & 1) * 128
             |  + ((ix >> 3) & 1) * 64    + ((iy >> 2) & 1) * 32
             |  + ((ix >> 2) & 1) * 16    + ((iy >> 1) & 1) * 8
             |  + ((ix >> 1) & 1) * 4     + ((iy >> 0) & 1) * 2
             |  + ((ix >> 0) & 1) * 1 AS h
             |  FROM cells),
             |g AS (SELECT
             |    substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((h >> 10) & 31 AS INT) + 1, 1)
             | || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((h >> 5) & 31 AS INT) + 1, 1)
             | || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(h & 31 AS INT) + 1, 1) AS geohash
             |  FROM v),
             |counted AS (SELECT geohash, count(*) AS docs FROM g GROUP BY geohash)
             |SELECT geohash, docs, rank FROM (
             |  SELECT geohash, docs,
             |    row_number() OVER (ORDER BY docs DESC, geohash) AS rank
             |  FROM counted) x
             |WHERE rank <= 10
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val pts = t(s, dir, "orders").select(
          (pmod(col("o_orderkey") * 17, lit(18000)) / 100.0 - 90.0).as("lat"),
          (pmod(col("o_orderkey") * 31, lit(36000)) / 100.0 - 180.0).as("lon"))
        graft.ext.Search.geohashGridFacet(pts, "lat", "lon",
            precision = 3, topN = 10)
          .orderBy("rank")
      }),

    // ---- ES `percentiles` aggregation over the MATCHED set: exact
    //      linear-interpolation percentiles of n_chars among docs
    //      matching the query (Spark percentile == DuckDB quantile_cont,
    //      the q39-established parity); the approx twin is spec-bounded
    //      (PercentilesSpec), not registered — sketch estimates are
    //      engine-specific by construction. ----
    QueryDef("q146_percentiles_agg",
      Some("""WITH docs AS (
             |  SELECT n_chars, list_filter(string_split_regex(lower(text), '\s+'),
             |                              x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |m AS (SELECT n_chars FROM docs
             |  WHERE list_contains(w, 'spark') OR list_contains(w, 'window'))
             |SELECT CAST(25.0 AS DOUBLE) AS percent, round(quantile_cont(n_chars, 0.25), 4) AS value FROM m
             |UNION ALL
             |SELECT CAST(50.0 AS DOUBLE), round(quantile_cont(n_chars, 0.50), 4) FROM m
             |UNION ALL
             |SELECT CAST(75.0 AS DOUBLE), round(quantile_cont(n_chars, 0.75), 4) FROM m
             |UNION ALL
             |SELECT CAST(95.0 AS DOUBLE), round(quantile_cont(n_chars, 0.95), 4) FROM m
             |ORDER BY percent""".stripMargin),
      (s, dir) => graft.ext.Search.percentilesFacet(
          t(s, dir, "documents"), "text", "spark window", "n_chars",
          Seq(25.0, 50.0, 75.0, 95.0))
        .orderBy("percent")),

    // ---- more_like_this (the ES MLT query, like = doc 7): term
    //      selection at the ES defaults (max_query_terms 25,
    //      min_term_freq 2, min_doc_freq 5) by tf·idf rounded to 6
    //      (absorbs libm-vs-JVM ln last-ulps in the SELECTION ordering;
    //      ties to the smaller term), then the q86 BM25 law over the
    //      selected terms with the like doc EXCLUDED from the hits but
    //      INCLUDED in every corpus statistic (ES index-stats
    //      semantics). The dynamic-term score sum is pinned left-assoc
    //      in term order on both engines: Spark folds a sorted literal
    //      term list, DuckDB uses the ordered aggregate
    //      sum(contrib ORDER BY term) — sequential by construction;
    //      absent terms contribute exactly +0.0 so skipping them (the
    //      join form) is IEEE-identical. ----
    QueryDef("q147_more_like_this",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl
             |       FROM docs),
             |cand AS (
             |  SELECT term, count(*) AS tf FROM (
             |    SELECT unnest(w) AS term FROM docs WHERE doc_id = 7)
             |  GROUP BY term HAVING count(*) >= 2),
             |cdf AS (
             |  SELECT c.term, c.tf, count(*)::DOUBLE AS df
             |  FROM cand c JOIN docs d ON list_contains(d.w, c.term)
             |  GROUP BY c.term, c.tf HAVING count(*) >= 5),
             |sel AS (
             |  SELECT term, df FROM (
             |    SELECT term, df,
             |      row_number() OVER (
             |        ORDER BY round(tf * ln(1 + (st.n - df + 0.5) / (df + 0.5)), 6) DESC,
             |                 term) AS rk
             |    FROM cdf, st) x
             |  WHERE rk <= 25),
             |scored AS (
             |  SELECT d.doc_id,
             |    round(sum(
             |      ln(1 + (st.n - sel.df + 0.5) / (sel.df + 0.5))
             |        * (len(list_filter(d.w, x -> x = sel.term))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(d.w, x -> x = sel.term))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(d.w)::DOUBLE / st.avgdl))
             |      ORDER BY sel.term), 4) AS score
             |  FROM docs d JOIN sel ON list_contains(d.w, sel.term), st
             |  WHERE d.doc_id <> 7
             |  GROUP BY d.doc_id)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 15
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.moreLikeThisTopK(
          t(s, dir, "documents"), "doc_id", "text", likeId = 7L, k = 15)
        .orderBy("rank")),

    // ---- more_like_this from a STANDING index (like = free text — doc
    //      7's text, fetched in-query): candidate df from the term
    //      dictionary (exact on a fresh build), ranking via the pruned
    //      tb= buckets; bit-identical to the scan text-form, whose law
    //      (NO exclusion: free text has no source doc) the oracle pins. ----
    QueryDef("q148_mlt_indexed",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl
             |       FROM docs),
             |cand AS (
             |  SELECT term, count(*) AS tf FROM (
             |    SELECT unnest(w) AS term FROM docs WHERE doc_id = 7)
             |  GROUP BY term HAVING count(*) >= 2),
             |cdf AS (
             |  SELECT c.term, c.tf, count(*)::DOUBLE AS df
             |  FROM cand c JOIN docs d ON list_contains(d.w, c.term)
             |  GROUP BY c.term, c.tf HAVING count(*) >= 5),
             |sel AS (
             |  SELECT term, df FROM (
             |    SELECT term, df,
             |      row_number() OVER (
             |        ORDER BY round(tf * ln(1 + (st.n - df + 0.5) / (df + 0.5)), 6) DESC,
             |                 term) AS rk
             |    FROM cdf, st) x
             |  WHERE rk <= 25),
             |scored AS (
             |  SELECT d.doc_id,
             |    round(sum(
             |      ln(1 + (st.n - sel.df + 0.5) / (sel.df + 0.5))
             |        * (len(list_filter(d.w, x -> x = sel.term))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(d.w, x -> x = sel.term))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(d.w)::DOUBLE / st.avgdl))
             |      ORDER BY sel.term), 4) AS score
             |  FROM docs d JOIN sel ON list_contains(d.w, sel.term), st
             |  GROUP BY d.doc_id)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 15
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val likeText = docs.filter(col("doc_id") === 7L)
          .select(col("text")).head().getString(0)
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedMoreLikeThisTopK(s, idx, likeText, k = 15)
          .orderBy("rank")
      }),

    // ---- span_or inside span_near (ES span family): clause 2 is the
    //      UNION of alternatives ('window' | 'merge') — its positions
    //      merge, its df is the union df (#docs with ANY alternative;
    //      one subquery, one rarity), and the q134 greedy-chain law runs
    //      over the union sets. Spark answers from a PERSISTED
    //      positional index built in-query, so the hash pins
    //      scan-law == indexed-positions through the oracle. ----
    QueryDef("q149_span_or_near",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'window') OR list_contains(w, 'merge')
             |             THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |p AS (
             |  SELECT doc_id, w,
             |    len(list_filter(
             |      list_filter(range(0, len(w)), i -> w[i+1] = 'spark'),
             |      a -> list_min(list_filter(
             |             list_filter(range(0, len(w)),
             |               i -> w[i+1] = 'merge' OR w[i+1] = 'window'),
             |             q -> q > a)) - a - 1 <= 4))::DOUBLE AS stf
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      (ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |       + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)))
             |      * (stf * (1.2 + 1.0))
             |      / (stf + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)),
             |      4) AS score
             |  FROM p, st WHERE stf > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedSpanOrNearTopK(s, idx,
            Seq(Seq("spark"), Seq("window", "merge")), slop = 4, k = 20)
          .orderBy("rank")
      }),

    // ---- span_not (ES span family): include = the greedy span_near
    //      chain spark->window (slop 6, span [a, b]); a 'merge'
    //      occurrence within [a-1, b+1] (pre=1, post=1) KILLS that span.
    //      tf = surviving-span count; idf = the include terms' (the
    //      phrase convention — exclusion changes the evidence, not the
    //      rarity). Incomplete chains leave b NULL: both engines drop
    //      them through null-propagating comparisons, the q134 law. ----
    QueryDef("q150_span_not",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df2
             |  FROM docs),
             |p AS (
             |  SELECT doc_id, w,
             |    len(list_filter(
             |      list_filter(range(0, len(w)), i -> w[i+1] = 'spark'),
             |      a -> (list_min(list_filter(
             |              list_filter(range(0, len(w)), i -> w[i+1] = 'window'),
             |              q -> q > a)) - a - 1 <= 6)
             |        AND len(list_filter(
             |              list_filter(range(0, len(w)), i -> w[i+1] = 'merge'),
             |              q -> q >= a - 1
             |               AND q <= list_min(list_filter(
             |                      list_filter(range(0, len(w)), i -> w[i+1] = 'window'),
             |                      qq -> qq > a)) + 1)) = 0))::DOUBLE AS stf
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      (ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |       + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)))
             |      * (stf * (1.2 + 1.0))
             |      / (stf + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)),
             |      4) AS score
             |  FROM p, st WHERE stf > 0)
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => {
        val idx = sharedPostingsIndex(s, dir)
        graft.ext.Search.indexedSpanNotTopK(s, idx,
            include = Seq("spark", "window"), slop = 6,
            exclude = Seq("merge"), pre = 1, post = 1, k = 20)
          .orderBy("rank")
      }),

    // ---- terms_set (the ES terms_set query): the q103 bool-should
    //      scoring law, but minimum_should_match comes from a PER-DOC
    //      expression (the minimum_should_match_field form) —
    //      1 + doc_id % 3 here, so required matches cycle 1/2/3 across
    //      the corpus and the hash pins the per-doc gating. Scan-only by
    //      nature (the bound reads a document field a postings index
    //      does not carry). ----
    QueryDef("q151_terms_set",
      Some("""WITH docs AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |                             x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |st AS (
             |  SELECT count(*) AS n, sum(len(w))::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::DOUBLE AS df1,
             |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::DOUBLE AS df2,
             |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::DOUBLE AS df3
             |  FROM docs),
             |scored AS (
             |  SELECT doc_id, round(
             |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5))
             |        * (len(list_filter(w, x -> x = 'merge'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'merge'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5))
             |        * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl))
             |    + ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5))
             |        * (len(list_filter(w, x -> x = 'window'))::DOUBLE * (1.2 + 1.0))
             |        / (len(list_filter(w, x -> x = 'window'))::DOUBLE
             |           + 1.2 * ((1 - 0.75) + 0.75 * len(w)::DOUBLE / st.avgdl)), 4) AS score
             |  FROM docs, st
             |  WHERE (CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)
             |      >= greatest(CAST(doc_id % 3 + 1 AS INTEGER), 1))
             |SELECT doc_id, rank, score FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM scored) x
             |WHERE rank <= 20
             |ORDER BY rank""".stripMargin),
      (s, dir) => graft.ext.Search.termsSetTopK(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "window", "merge"),
          msm = col("doc_id") % 3 + 1, k = 20)
        .orderBy("rank")),

    // ---- extended_stats aggregation (ES extended_stats, sigma 2) over
    //      the matched set: every derived double (avg, population
    //      variance Σx²/n − mean², std, ±2σ bounds) computes from the
    //      two EXACT integral sums in the same IEEE operation order on
    //      both engines — the hash pins the whole derivation chain, not
    //      just the inputs. DuckDB's BIGINT sums cast to DOUBLE before
    //      each derivation, exactly like the Spark long sums. ----
    QueryDef("q152_extended_stats",
      Some("""WITH docs AS (
             |  SELECT n_chars, list_filter(string_split_regex(lower(text), '\s+'),
             |                              x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |m AS (SELECT n_chars FROM docs
             |  WHERE (list_contains(w, 'spark') OR list_contains(w, 'window'))
             |    AND n_chars IS NOT NULL),
             |s AS (SELECT count(n_chars) AS cnt, min(n_chars) AS mn,
             |        max(n_chars) AS mx, sum(n_chars) AS s1,
             |        sum(n_chars * n_chars) AS s2
             |      FROM m)
             |SELECT cnt,
             |  round(mn::DOUBLE, 4) AS min_value,
             |  round(mx::DOUBLE, 4) AS max_value,
             |  round(s1::DOUBLE / cnt::DOUBLE, 4) AS avg_value,
             |  round(s1::DOUBLE, 4) AS sum_value,
             |  round(s2::DOUBLE, 4) AS sum_of_squares,
             |  round(s2::DOUBLE / cnt::DOUBLE
             |        - (s1::DOUBLE / cnt::DOUBLE) * (s1::DOUBLE / cnt::DOUBLE), 4)
             |    AS variance,
             |  round(sqrt(s2::DOUBLE / cnt::DOUBLE
             |        - (s1::DOUBLE / cnt::DOUBLE) * (s1::DOUBLE / cnt::DOUBLE)), 4)
             |    AS std_deviation,
             |  round(s1::DOUBLE / cnt::DOUBLE
             |        + 2.0 * sqrt(s2::DOUBLE / cnt::DOUBLE
             |          - (s1::DOUBLE / cnt::DOUBLE) * (s1::DOUBLE / cnt::DOUBLE)), 4)
             |    AS std_upper,
             |  round(s1::DOUBLE / cnt::DOUBLE
             |        - 2.0 * sqrt(s2::DOUBLE / cnt::DOUBLE
             |          - (s1::DOUBLE / cnt::DOUBLE) * (s1::DOUBLE / cnt::DOUBLE)), 4)
             |    AS std_lower
             |FROM s""".stripMargin),
      (s, dir) => graft.ext.Search.extendedStatsFacet(
          t(s, dir, "documents"), "text", "spark window", "n_chars",
          sigma = 2.0)),

    // ---- percentile_ranks aggregation (the inverse of q146): percent
    //      of matched observations <= each requested value, in the exact
    //      step-CDF form both engines compute identically (ES's TDigest
    //      interpolation is a sketch artifact — the q55/cardinality
    //      exact-twin convention, documented on the operator). ----
    QueryDef("q153_percentile_ranks",
      Some("""WITH docs AS (
             |  SELECT n_chars, list_filter(string_split_regex(lower(text), '\s+'),
             |                              x -> x <> '') AS w
             |  FROM read_parquet('{SFDIR}/documents.parquet')),
             |m AS (SELECT n_chars::DOUBLE AS v FROM docs
             |  WHERE (list_contains(w, 'spark') OR list_contains(w, 'window'))
             |    AND n_chars IS NOT NULL),
             |s AS (SELECT count(*) AS n,
             |    sum(CASE WHEN v <= 200.0 THEN 1 ELSE 0 END) AS le1,
             |    sum(CASE WHEN v <= 500.0 THEN 1 ELSE 0 END) AS le2,
             |    sum(CASE WHEN v <= 1000.0 THEN 1 ELSE 0 END) AS le3,
             |    sum(CASE WHEN v <= 2000.0 THEN 1 ELSE 0 END) AS le4
             |  FROM m)
             |SELECT value, percent FROM (
             |  SELECT CAST(200.0 AS DOUBLE) AS value,
             |    round(100.0 * le1::DOUBLE / n::DOUBLE, 4) AS percent FROM s
             |  UNION ALL SELECT CAST(500.0 AS DOUBLE),
             |    round(100.0 * le2::DOUBLE / n::DOUBLE, 4) FROM s
             |  UNION ALL SELECT CAST(1000.0 AS DOUBLE),
             |    round(100.0 * le3::DOUBLE / n::DOUBLE, 4) FROM s
             |  UNION ALL SELECT CAST(2000.0 AS DOUBLE),
             |    round(100.0 * le4::DOUBLE / n::DOUBLE, 4) FROM s) x
             |ORDER BY value""".stripMargin),
      (s, dir) => graft.ext.Search.percentileRanksFacet(
          t(s, dir, "documents"), "text", "spark window", "n_chars",
          Seq(200.0, 500.0, 1000.0, 2000.0))
        .orderBy("value")),

    // ---- geo_shape, envelope subset (the ES geo_shape query with an
    //      envelope query shape): each doc's shape is an integer-derived
    //      lat/lon box (clamped extents), the query envelope is literal,
    //      and the relation classifies per doc — within ⊂ intersects,
    //      contains ⊂ intersects, else plain overlap. Pure inclusive
    //      interval algebra on identically-derived doubles: exact on
    //      both engines; the operator's filter IS the intersects
    //      predicate, the classification recomputes within/contains from
    //      the published extents. ----
    QueryDef("q154_geo_shape",
      Some("""WITH c AS (SELECT o_orderkey AS doc_id,
             |    (o_orderkey * 17) % 18000 / 100.0 - 90.0 AS lat,
             |    (o_orderkey * 31) % 36000 / 100.0 - 180.0 AS lon,
             |    (o_orderkey * 13) % 300 / 100.0 AS elat,
             |    (o_orderkey * 7) % 500 / 100.0 AS elon
             |  FROM read_parquet('{SFDIR}/orders.parquet')),
             |e AS (SELECT doc_id,
             |    greatest(lat - elat, -90.0) AS lat_min,
             |    least(lat + elat, 90.0) AS lat_max,
             |    greatest(lon - elon, -180.0) AS lon_min,
             |    least(lon + elon, 180.0) AS lon_max
             |  FROM c)
             |SELECT doc_id, lat_min, lat_max, lon_min, lon_max,
             |  CASE
             |    WHEN lat_min >= -10.0 AND lat_max <= 30.0
             |     AND lon_min >= 0.0 AND lon_max <= 40.0 THEN 'within'
             |    WHEN lat_min <= -10.0 AND lat_max >= 30.0
             |     AND lon_min <= 0.0 AND lon_max >= 40.0 THEN 'contains'
             |    ELSE 'intersects' END AS relation
             |FROM e
             |WHERE lat_min <= 30.0 AND lat_max >= -10.0
             |  AND lon_min <= 40.0 AND lon_max >= 0.0
             |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val boxes = t(s, dir, "orders").select(col("o_orderkey"),
          (pmod(col("o_orderkey") * 17, lit(18000)) / 100.0 - 90.0).as("lat"),
          (pmod(col("o_orderkey") * 31, lit(36000)) / 100.0 - 180.0).as("lon"),
          (pmod(col("o_orderkey") * 13, lit(300)) / 100.0).as("elat"),
          (pmod(col("o_orderkey") * 7, lit(500)) / 100.0).as("elon"))
          .select(col("o_orderkey"),
            greatest(col("lat") - col("elat"), lit(-90.0)).as("lat_min"),
            least(col("lat") + col("elat"), lit(90.0)).as("lat_max"),
            greatest(col("lon") - col("elon"), lit(-180.0)).as("lon_min"),
            least(col("lon") + col("elon"), lit(180.0)).as("lon_max"))
        val hits = graft.ext.Search.geoShapeEnvelope(boxes, "o_orderkey",
          "lat_min", "lat_max", "lon_min", "lon_max",
          top = 30.0, left = 0.0, bottom = -10.0, right = 40.0,
          relation = "intersects")
        hits.withColumn("relation",
            when(col("lat_min") >= -10.0 && col("lat_max") <= 30.0 &&
                 col("lon_min") >= 0.0 && col("lon_max") <= 40.0, "within")
              .when(col("lat_min") <= -10.0 && col("lat_max") >= 30.0 &&
                    col("lon_min") <= 0.0 && col("lon_max") >= 40.0,
                "contains")
              .otherwise("intersects"))
          .orderBy("doc_id")
      }),
  )

  def all: Seq[QueryDef] = relational ++ ext ++ extra
}
