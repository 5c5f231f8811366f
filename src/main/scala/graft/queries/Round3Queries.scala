package graft.queries

import graft.Tables
import graft.ops.{Sampling, Skew}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-3 additions: TPC-H-shaped multi-join analytics (Q3/Q5/Q6
  * adapted to the synthetic schema), gaps-and-islands sessionization,
  * functional MERGE/upsert, regex extraction, cumulative-distribution
  * windows, a salted skew join checked against its plain-join oracle,
  * an md5-based train/test split that an independent engine can verify
  * row-for-row, multiset intersection, and a cross join.
  *
  * Oracle-parity rules follow Relational/ExtendedQueries: money math
  * through DECIMAL(18,2) then DOUBLE; identical IEEE expression trees
  * on both sides where a double survives unrounded; every row-dump
  * query ends in a total ORDER BY.
  */
object Round3Queries extends QueryModule {

  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** TPC-H revenue term with exact decimal accumulation on both sides:
    * DECIMAL(18,2) * DECIMAL(18,2) is exact (scale 4), the SUM is
    * exact, and only the final cast produces a double.
    */
  private def revenueTerm(price: Column, discount: Column): Column =
    price.cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - discount.cast(DecimalType(18, 2)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- TPC-H Q3 shape: shipping-priority top-10 ----
    "q_tpch_q3" -> ((s, dir) => {
      // filters push to the parquet scans BEFORE the joins; the
      // customer dim (one segment) broadcasts, so the only shuffle is
      // lineitem⋈orders on orderkey — the minimum possible for this
      // query at any scale
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < lit("1997-06-01").cast("date"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > lit("1997-06-01").cast("date"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
        .limit(10)
    }),

    // ---- TPC-H Q5 shape: local-supplier volume per nation ----
    "q_tpch_q5" -> ((s, dir) => {
      // one fact shuffle (lineitem⋈orders); every dimension broadcasts,
      // including the region-filtered nation/supplier chain
      val region = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Tables.load(s, dir, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val supp = Tables.load(s, dir, "supplier")
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-01-01").cast("date"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ---- TPC-H Q6 shape: forecast-revenue global aggregate ----
    "q_tpch_q6" -> ((s, dir) => {
      // pure scan+filter+agg: all three predicates reach PushedFilters,
      // map-side partial agg collapses to one row — no shuffle of data,
      // only of partial sums
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            col("l_discount").cast(DecimalType(18, 2))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ---- gaps-and-islands sessionization (batch form) ----
    "q_sessionize" -> ((s, dir) => {
      // the relational dual of q_stream_session: a session break is a
      // >30 min gap; islands numbered by a running sum over the break
      // flags — two window passes over one shuffle on user_id
      val w = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("es"))
        .withColumn("new_s",
          when(lag(col("es"), 1).over(w).isNull ||
            col("es") - lag(col("es"), 1).over(w) > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("es")) - min(col("es"))).as("duration_s"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ---- functional MERGE / upsert ----
    "q_merge_upsert" -> ((s, dir) => {
      // MERGE expressed as full-outer join + coalesce: matched rows get
      // balance += spend, unmatched source rows insert as new customers
      // (one synthetic row keeps the insert branch non-empty). The
      // balance sum stays an unrounded double — both engines evaluate
      // the identical IEEE expression tree.
      val updates = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(dsum(col("o_totalprice")).as("spend"))
        .unionByName(s.range(1).select(
          lit(9999990001L).as("custkey"), lit(1234.56).as("spend")))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .join(updates, col("c_custkey") === col("custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("custkey")).as("custkey"),
          coalesce(col("c_name"), lit("NEW")).as("name"),
          (coalesce(col("c_acctbal"), lit(0.0)) + coalesce(col("spend"), lit(0.0))).as("balance"))
        .orderBy(col("custkey"))
    }),

    // ---- regex extraction ----
    "q_regex_extract" -> ((s, dir) => {
      // '' (Spark's no-match result) normalized to NULL on both sides
      val firstNum = regexp_extract(col("text"), "([0-9]+)", 1)
      val firstCap = regexp_extract(col("text"), "\\b([A-Z][a-z]+)\\b", 1)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          when(firstNum === "", lit(null)).otherwise(firstNum)
            .try_cast("long").as("first_num"),
          when(firstCap === "", lit(null)).otherwise(firstCap).as("first_cap"),
          length(regexp_replace(lower(col("text")), "[^aeiou]", ""))
            .cast("long").as("n_vowels"))
        .orderBy(col("doc_id"))
    }),

    // ---- cumulative-distribution windows ----
    "q_window_cume" -> ((s, dir) => {
      // unique o_orderkey in the window ORDER BY makes ranks and the
      // lead() neighbor total-order deterministic
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- salted skew join, checked against the plain-join oracle ----
    "q_skew_salted" -> ((s, dir) => {
      // the salt splits each hot custkey across 8 reducers; the oracle
      // is the UNsalted join — proving the rewrite changes the shuffle
      // layout, not the result
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      Skew.saltedJoin(o, c, "custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- md5 train/test split (cross-engine verifiable) ----
    "q_split_md5" -> ((s, dir) => {
      // unlike q_train_split's xxhash64 bucket (rows-only check), the
      // md5 split is reproducible in any engine — the oracle recomputes
      // the exact membership
      val (train, _) = Sampling.md5TrainTestSplit(
        Tables.load(s, dir, "documents"), "doc_id", 80)
      train.select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ---- multiset intersection ----
    "q_intersect_all" -> ((s, dir) => {
      // parts shipped in 1996 ∩ parts shipped in 1998, bag semantics:
      // a partkey appears min(n_1996, n_1998) times
      def shipped(year: String, next: String) =
        Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate").cast("date") >= lit(s"$year-01-01").cast("date") &&
            col("l_shipdate").cast("date") < lit(s"$next-01-01").cast("date"))
          .select(col("l_partkey").cast("long").as("partkey"))
      shipped("1996", "1997").intersectAll(shipped("1998", "1999"))
        .orderBy(col("partkey"))
    }),

    // ---- cross join ----
    "q_cross_join" -> ((s, dir) => {
      // both sides tiny; Spark plans BroadcastNestedLoopJoin — the only
      // safe cross-join shape at scale (never cross-join two facts)
      Tables.load(s, dir, "region").select(col("r_name"))
        .crossJoin(Tables.load(s, dir, "nation").select(col("n_name")))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // ---- conversion funnel (view → click → purchase) ----
    "q_funnel" -> ((s, dir) => {
      // each stage keys on the previous stage's first-event time; the
      // stage joins stay on user_id (one shuffle key throughout), and
      // the final counts are three single-row aggregates cross-joined
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("es"))
      // v and c each feed the next stage's join AND the final count —
      // persist so the per-stage event aggregation runs once
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("es")).as("t_view"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("es") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("es")).as("t_click"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("es") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("es")).as("t_buy"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
    }),

    // ---- week-over-week retention ----
    "q_retention" -> ((s, dir) => {
      // distinct user-weeks self-joined one week apart; DATE-normalized
      // because Spark's date_trunc returns TIMESTAMP where DuckDB's
      // returns DATE
      val uw = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
      val prev = uw.select(col("user_id"), date_add(col("wk"), 7).as("wk"))
      uw.join(prev, Seq("user_id", "wk"))
        .groupBy(col("wk")).agg(countDistinct(col("user_id")).as("n_retained"))
        .orderBy(col("wk"))
    }),

    // ---- calendar gap-fill (series generation + left join) ----
    "q_date_fill" -> ((s, dir) => {
      // every day in the order date range, zero-filled: the generated
      // calendar is one row per day (tiny at any SF) and broadcasts
      // against the aggregated counts
      val o = Tables.load(s, dir, "orders")
      val daily = o.groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_orders"))
      val cal = o.agg(to_date(min(col("o_orderdate"))).as("lo"),
          to_date(max(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 DAY"))).as("d"))
      cal.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("d"))
    }),

    // ---- token document frequency (vocabulary head) ----
    "q_token_freq" -> ((s, dir) => {
      import graft.ops.TextAnalysis
      Tables.load(s, dir, "documents")
        .select(explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token"))
        .limit(30)
    }),

    // ---- TF-IDF scoring ----
    "q_tf_idf" -> ((s, dir) => {
      // classic map-side-combinable shape: one explode, two aggregates
      // on (doc,token)/(token), a broadcastable one-row corpus count;
      // natural log on IEEE doubles matches across engines at 6 dp
      import graft.ops.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
      // length filter applies before any aggregation: tf and df are
      // per-token quantities, so dropping short tokens early never
      // changes surviving rows
      val tok = docs.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 6)
      // tf rows are distinct (doc, token) pairs, so document frequency
      // is a count over a token-partitioned window on tf itself — one
      // shuffle on token, no second aggregate, no join, nothing persisted
      val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val wTok = Window.partitionBy(col("token"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      tf.withColumn("df", count(lit(1)).over(wTok))
        .crossJoin(total)
        .select(col("doc_id"), col("token"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 6)
            .as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("token"))
        .limit(200)
    }),

    // ---- equi-width histogram ----
    "q_histogram" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    // ---- null-safe equality join ----
    "q_null_safe_join" -> ((s, dir) => {
      // <=> (IS NOT DISTINCT FROM) joins NULL keys to NULL keys — a
      // plain equi-join would silently drop every below-threshold order
      // from the result; the NULL dim row collects them instead
      val o = Tables.load(s, dir, "orders")
        .select(when(col("o_totalprice") > 300000, col("o_orderpriority"))
          .as("prio_hi"))
      val dim = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority").as("p")).distinct()
        .unionByName(s.range(1).select(lit(null).cast("string").as("p")))
      o.join(dim, col("prio_hi") <=> col("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("n"))
        .orderBy(col("p"))
    }),

    // ---- boolean / bitwise aggregates ----
    "q_bool_bit_agg" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
          bit_and(col("o_orderkey")).as("key_and"),
          bit_or(col("o_orderkey")).as("key_or"),
          bit_xor(col("o_orderkey")).as("key_xor"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- discrete percentiles (actual data values, no interpolation) ----
    "q_percentile_disc" -> ((s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("g3_pd_orders")
      s.sql("""SELECT o_orderpriority,
           percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
           percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS p50,
           percentile_disc(0.9)  WITHIN GROUP (ORDER BY o_totalprice) AS p90
         FROM g3_pd_orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // ---- linear-regression aggregates ----
    "q_regr" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(round(regr_slope(col("o_totalprice"), col("o_custkey")), 6).as("slope"),
          round(regr_intercept(col("o_totalprice"), col("o_custkey")), 6).as("intercept"),
          round(regr_r2(col("o_totalprice"), col("o_custkey")), 6).as("r2"),
          regr_count(col("o_totalprice"), col("o_custkey")).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- fuzzy matching (edit distance) ----
    "q_fuzzy_match" -> ((s, dir) => {
      // levenshtein self-join on the 25-row nation dim; at scale the
      // fuzzy side would be blocked first (q_dedup_* show the pattern) —
      // this covers the edit-distance primitive itself
      val a = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("key_a"), col("n_name").as("name_a"))
      val b = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("key_b"), col("n_name").as("name_b"))
      a.crossJoin(b).filter(col("key_a") < col("key_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= 1)
        .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"), col("dist"))
        .orderBy(col("key_a"), col("key_b"))
    })
  )

  /** Exact decimal sum for the scale-4 revenue term (dsum re-casts to
    * scale 2, which would round the term before accumulating).
    */
  private def dsumExact(c: Column): Column = sum(c).cast("double")

  def oracles: Map[String, String] = Map(
    "q_tpch_q3" ->
      """SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o_orderdate
         FROM customer JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND CAST(o_orderdate AS DATE) < DATE '1997-06-01'
           AND CAST(l_shipdate AS DATE) > DATE '1997-06-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_tpch_q5" ->
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q_tpch_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
           FROM events),
         f AS (
           SELECT user_id, event_id, es,
             CASE WHEN LAG(es) OVER w IS NULL OR es - LAG(es) OVER w > 1800
               THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
         s AS (
           SELECT user_id, es,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM f)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, MAX(es) - MIN(es) AS duration_s
         FROM s GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "q_merge_upsert" ->
      """WITH u AS (
           SELECT CAST(o_custkey AS BIGINT) AS custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
           FROM orders GROUP BY 1
           UNION ALL SELECT 9999990001, 1234.56)
         SELECT COALESCE(c_custkey, custkey) AS custkey,
           COALESCE(c_name, 'NEW') AS name,
           COALESCE(c_acctbal, 0.0) + COALESCE(spend, 0.0) AS balance
         FROM customer FULL OUTER JOIN u ON c_custkey = custkey
         ORDER BY custkey""",
    "q_regex_extract" ->
      """SELECT doc_id,
           TRY_CAST(NULLIF(regexp_extract(text, '([0-9]+)', 1), '') AS BIGINT) AS first_num,
           NULLIF(regexp_extract(text, '\b([A-Z][a-z]+)\b', 1), '') AS first_cap,
           CAST(LENGTH(REGEXP_REPLACE(LOWER(text), '[^aeiou]', '', 'g')) AS BIGINT) AS n_vowels
         FROM documents ORDER BY doc_id""",
    "q_window_cume" ->
      """SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd,
           LEAD(o_totalprice, 1) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey""",
    "q_skew_salted" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_split_md5" ->
      """SELECT doc_id FROM documents
         WHERE SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
         ORDER BY doc_id""",
    "q_intersect_all" ->
      """SELECT partkey FROM (
           SELECT CAST(l_partkey AS BIGINT) AS partkey FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
           INTERSECT ALL
           SELECT CAST(l_partkey AS BIGINT) AS partkey FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1999-01-01')
         ORDER BY partkey""",
    "q_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",
    "q_funnel" ->
      """WITH e AS (
           SELECT user_id, event_type,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
           FROM events),
         v AS (SELECT user_id, MIN(es) AS t_view FROM e
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, MIN(es) AS t_click FROM e
           JOIN v USING (user_id)
           WHERE event_type = 'click' AND es > t_view GROUP BY 1),
         p AS (SELECT e.user_id, MIN(es) AS t_buy FROM e
           JOIN c USING (user_id)
           WHERE event_type = 'purchase' AND es > t_click GROUP BY 1)
         SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase""",
    "q_retention" ->
      """WITH uw AS (
           SELECT DISTINCT user_id,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
           FROM events)
         SELECT a.wk, COUNT(DISTINCT a.user_id) AS n_retained
         FROM uw a JOIN uw b
           ON a.user_id = b.user_id AND a.wk = b.wk + 7
         GROUP BY a.wk ORDER BY a.wk""",
    "q_date_fill" ->
      """WITH bounds AS (
           SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
             CAST(MAX(o_orderdate) AS DATE) AS hi
           FROM orders),
         cal AS (
           SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
           FROM bounds),
         daily AS (
           SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
           FROM orders GROUP BY 1)
         SELECT cal.d, COALESCE(n_orders, 0) AS n_orders
         FROM cal LEFT JOIN daily USING (d)
         ORDER BY d""",
    "q_token_freq" ->
      """SELECT token, COUNT(*) AS df FROM (
           SELECT UNNEST(list_distinct(string_split_regex(LOWER(TRIM(text)), '\s+'))) AS token
           FROM documents)
         GROUP BY token ORDER BY df DESC, token LIMIT 30""",
    "q_tf_idf" ->
      """WITH tok AS (
           SELECT doc_id, UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT token, COUNT(*) AS df FROM
           (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
         total AS (SELECT COUNT(*) AS n_docs FROM documents)
         SELECT doc_id, token,
           ROUND(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
         FROM tf JOIN dfreq USING (token) CROSS JOIN total
         WHERE LENGTH(token) > 6
         ORDER BY tfidf DESC, doc_id, token LIMIT 200""",
    "q_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket, COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY bucket""",
    "q_null_safe_join" ->
      """WITH o AS (
           SELECT CASE WHEN o_totalprice > 300000 THEN o_orderpriority END AS prio_hi
           FROM orders),
         dim AS (
           SELECT DISTINCT o_orderpriority AS p FROM orders
           UNION ALL SELECT NULL)
         SELECT p, COUNT(*) AS n
         FROM o JOIN dim ON prio_hi IS NOT DISTINCT FROM p
         GROUP BY p ORDER BY p NULLS FIRST""",
    "q_bool_bit_agg" ->
      """SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           bit_and(o_orderkey) AS key_and,
           bit_or(o_orderkey) AS key_or,
           bit_xor(o_orderkey) AS key_xor
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_percentile_disc" ->
      """SELECT o_orderpriority,
           quantile_disc(o_totalprice, 0.25) AS p25,
           quantile_disc(o_totalprice, 0.5)  AS p50,
           quantile_disc(o_totalprice, 0.9)  AS p90
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_regr" ->
      """SELECT o_orderstatus,
           ROUND(regr_slope(o_totalprice, o_custkey), 6) AS slope,
           ROUND(regr_intercept(o_totalprice, o_custkey), 6) AS intercept,
           ROUND(regr_r2(o_totalprice, o_custkey), 6) AS r2,
           CAST(regr_count(o_totalprice, o_custkey) AS BIGINT) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_fuzzy_match" ->
      """SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
           a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
         FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
         WHERE levenshtein(a.n_name, b.n_name) <= 1
         ORDER BY key_a, key_b"""
  )
}
