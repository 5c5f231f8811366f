package graft.queries

import graft.Tables
import graft.ops.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-2 relational surface extensions: pivot/unpivot, correlated
  * subqueries, grouping sets with GROUPING(), ntile/first/last/nth
  * windows, exact percentiles, moment statistics, full-outer join,
  * latest-row-per-key, JSON extraction, date arithmetic, and the
  * hash-checked language-ID + quality oracle (since r6,
  * q_text_lang_quality itself is also fully oracle-checked).
  *
  * Oracle-parity rules follow Relational: money sums through
  * DECIMAL(18,2) then DOUBLE; averages as exact-decimal-sum / count;
  * interpolated/moment statistics rounded (4-6 dp) on BOTH sides; int
  * outputs cast to BIGINT on both sides; every query ends in a total
  * ORDER BY; DuckDB ORDER BY gets explicit NULLS FIRST where a sort
  * key is nullable (Spark's ASC default) — DuckDB defaults NULLS LAST.
  */
object ExtendedQueries extends QueryModule {

  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- pivot / unpivot ----
    "q_pivot" -> ((s, dir) => {
      // explicit value list => no extra distinct-values job, and the
      // output schema is plan-time stable (required on a 100 TB input
      // where an implicit pivot would scan once just to learn columns)
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .orderBy(col("o_orderpriority"))
    }),
    "q_unpivot" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_custkey").cast("double").as("o_custkey"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("o_totalprice"), col("o_custkey")), "metric", "value")
        .orderBy(col("o_orderkey"), col("metric"))
    }),

    // ---- subqueries ----
    "q_scalar_subquery" -> ((s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("gx_ssq_customer")
      Tables.load(s, dir, "orders").createOrReplaceTempView("gx_ssq_orders")
      // correlated scalar subqueries; Catalyst rewrites both to one
      // left-outer aggregate join on o_custkey (no per-row re-scan)
      s.sql("""SELECT c_custkey,
           (SELECT COUNT(*) FROM gx_ssq_orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
           (SELECT CAST(MAX(o_totalprice) AS DOUBLE) FROM gx_ssq_orders o
             WHERE o.o_custkey = c.c_custkey) AS max_price
         FROM gx_ssq_customer c ORDER BY c_custkey""")
    }),
    "q_not_exists" -> ((s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("gx_ne_customer")
      Tables.load(s, dir, "orders").createOrReplaceTempView("gx_ne_orders")
      // correlated NOT EXISTS with an extra inequality => null-aware
      // anti join, single shuffle on the correlation key
      s.sql("""SELECT c_custkey, c_name FROM gx_ne_customer c
         WHERE NOT EXISTS (SELECT 1 FROM gx_ne_orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
         ORDER BY c_custkey""")
    }),

    // ---- grouping sets ----
    "q_grouping_sets" -> ((s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("gx_gs_orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
         FROM gx_gs_orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""")
    }),

    // ---- windows: ntile / first / last / nth ----
    "q_window_ntile" -> ((s, dir) => {
      // window ORDER BY includes the unique o_orderkey so ntile's bucket
      // assignment is total-order deterministic (ties on date alone
      // would make the result run-dependent)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).cast("long").as("quartile"),
          first(col("o_totalprice")).over(full).as("first_price"),
          last(col("o_totalprice")).over(full).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(full).as("second_price"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- exact percentiles / moment statistics ----
    "q_percentiles" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy(col("o_orderpriority"))
    }),
    "q_stats_agg" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("double")
      Tables.load(s, dir, "events")
        .select(col("event_type"), col("value"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(
          round(stddev_samp(col("value")), 4).as("sd_value"),
          round(var_samp(col("value")), 4).as("var_value"),
          round(covar_samp(col("value"), col("k")), 4).as("cov_vk"),
          round(corr(col("value"), col("k")), 4).as("corr_vk"))
        .orderBy(col("event_type"))
    }),

    // ---- full outer join ----
    "q_full_outer_join" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val supp = Tables.load(s, dir, "supplier")
        .groupBy(col("s_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      cust.join(supp, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    }),

    // ---- latest row per key (the QUALIFY pattern) ----
    "q_latest_event" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .orderBy(col("user_id"))
    }),

    // ---- JSON extraction ----
    "q_json_extract" -> ((s, dir) => {
      // try_cast: a non-numeric $.k becomes null instead of an ANSI
      // crash (dirty-string rule; oracle mirrors with TRY_CAST)
      val k = get_json_object(col("props"), "$.k").try_cast("long")
      Tables.load(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // ---- date arithmetic ----
    "q_date_arith" -> ((s, dir) => {
      val d = col("o_orderdate").cast("date")
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          date_add(d, 30).as("due_date"),
          datediff(lit("1998-12-31").cast("date"), d).cast("long").as("days_to_eoy"),
          quarter(d).cast("long").as("q"),
          (dayofweek(d) - 1).cast("long").as("dow")) // 0=Sunday on both sides
        .orderBy(col("o_orderkey"))
    }),

    // ---- distinct / conditional / string aggregates ----
    "q_distinct_agg" -> ((s, dir) => {
      // distinct aggs each add a shuffle-side dedup; keeping them in one
      // agg lets Spark expand to a single multi-phase plan
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          sum_distinct(col("l_quantity").cast(DecimalType(18, 2)))
            .cast("double").as("sum_dq"))
        .orderBy(col("l_returnflag"))
    }),
    "q_conditional_agg" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(when(col("o_totalprice") > 200000, 1)).as("n_big"),
          dsum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice")))
            .as("urgent_total"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),
    "q_string_agg" -> ((s, dir) => {
      // deterministic: sort the collected list before joining (matches
      // the oracle's string_agg ORDER BY)
      Tables.load(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("c_name")))).as("names"),
          count(lit(1)).as("n"))
        .orderBy(col("nationkey"))
    }),

    // ---- time-range window frame ----
    "q_window_range_time" -> ((s, dir) => {
      // trailing-hour frame keyed on epoch seconds: RANGE frames need a
      // numeric sort key; peers (same second) are included on both sides
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3600, Window.currentRow)
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value")).over(w), 4).as("sum_1h"))
        .orderBy(col("user_id"), col("event_id"), col("n_1h"), col("sum_1h"))
    }),

    // ---- ROWS-frame moving average ----
    "q_window_moving_avg" -> ((s, dir) => {
      // exact-decimal sum / count, divided in double on BOTH sides, so
      // the rounding is engine-independent
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-3, Window.currentRow)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double") / count(lit(1)).over(w), 4).as("avg_4"))
        .orderBy(col("o_orderkey"), col("o_orderpriority"), col("avg_4"))
    }),

    // ---- multiset difference ----
    "q_except_all" -> ((s, dir) => {
      // custkeys appearing more often among orders than customers —
      // bag semantics, unlike q_except's set semantics
      Tables.load(s, dir, "orders")
        .select(col("o_custkey").cast("long").as("custkey"))
        .exceptAll(Tables.load(s, dir, "customer")
          .select(col("c_custkey").cast("long").as("custkey")))
        .orderBy(col("custkey"))
    }),

    // ---- higher-order array functions ----
    "q_array_hof" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(toks, t => length(t) > 4)).cast("long").as("n_long"),
          aggregate(toks, lit(0L), (a, t) => a + length(t)).as("n_chars"),
          concat_ws(" ", slice(sort_array(toks), 1, 3)).as("first3_sorted"))
        .orderBy(col("doc_id"))
    }),

    // ---- language ID + quality score, hash-checked ----
    "q_text_langid" -> ((s, dir) => {
      val t = col("text")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.langId(t).as("lang_pred"),
          round(TextAnalysis.qualityScore(t), 6).as("quality"))
        .orderBy(col("doc_id"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q_pivot" ->
      """SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_unpivot" ->
      """SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value FROM orders
         UNION ALL
         SELECT o_orderkey, 'o_custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value FROM orders
         ORDER BY o_orderkey, metric""",
    "q_scalar_subquery" ->
      """SELECT c_custkey,
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
           (SELECT CAST(MAX(o_totalprice) AS DOUBLE) FROM orders o
             WHERE o.o_custkey = c.c_custkey) AS max_price
         FROM customer c ORDER BY c_custkey""",
    "q_not_exists" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
         ORDER BY c_custkey""",
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_window_ntile" ->
      """SELECT o_orderkey, o_orderpriority,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           FIRST_VALUE(o_totalprice) OVER wf AS first_price,
           LAST_VALUE(o_totalprice) OVER wf AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER wf AS second_price
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey""",
    "q_percentiles" ->
      """SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_stats_agg" ->
      """SELECT event_type,
           ROUND(stddev_samp(value), 4) AS sd_value,
           ROUND(var_samp(value), 4) AS var_value,
           ROUND(covar_samp(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS cov_vk,
           ROUND(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS corr_vk
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_full_outer_join" ->
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
         FROM (SELECT CAST(c_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_cust
               FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1) c
         FULL OUTER JOIN (SELECT CAST(s_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_supp
               FROM supplier GROUP BY 1) s USING (nationkey)
         ORDER BY nationkey""",
    "q_latest_event" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
         FROM events
         QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) = 1
         ORDER BY user_id""",
    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_date_arith" ->
      """SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy,
           CAST(QUARTER(o_orderdate) AS BIGINT) AS q,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow
         FROM orders ORDER BY o_orderkey""",
    "q_distinct_agg" ->
      """SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_dq
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_conditional_agg" ->
      """SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent_total,
           COUNT(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_string_agg" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           COUNT(*) AS n
         FROM customer GROUP BY 1 ORDER BY 1""",
    "q_window_range_time" ->
      """SELECT user_id, event_id,
           COUNT(*) OVER w AS n_1h,
           ROUND(SUM(value) OVER w, 4) AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id
           ORDER BY CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id, n_1h, sum_1h""",
    "q_window_moving_avg" ->
      """SELECT o_orderkey, o_orderpriority,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / (COUNT(*) OVER w), 4) AS avg_4
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey, o_orderpriority, avg_4""",
    "q_except_all" ->
      """SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders
         EXCEPT ALL
         SELECT CAST(c_custkey AS BIGINT) FROM customer
         ORDER BY custkey""",
    "q_array_hof" ->
      """WITH t AS (SELECT doc_id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
           FROM documents)
         SELECT doc_id,
           CAST(len(list_filter(toks, t -> len(t) > 4)) AS BIGINT) AS n_long,
           CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS n_chars,
           array_to_string(list_sort(toks)[1:3], ' ') AS first3_sorted
         FROM t ORDER BY doc_id""",
    "q_text_langid" ->
      """WITH t AS (
           SELECT doc_id, text,
             list_distinct(string_split_regex(LOWER(TRIM(text)), '\s+')) AS dtoks,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, text, toks,
             len(list_intersect(dtoks, ['der','die','das','und','ist','nicht','ein','eine','zu','mit'])) AS s_de,
             len(list_intersect(dtoks, ['the','a','of','and','to','in','is','that','it','for'])) AS s_en,
             len(list_intersect(dtoks, ['el','los','las','y','es','una','uno','no','por','para'])) AS s_es,
             len(list_intersect(dtoks, ['le','la','les','et','est','une','un','pas','pour','dans'])) AS s_fr
           FROM t),
         g AS (SELECT *, GREATEST(s_de, s_en, s_es, s_fr) AS best FROM s)
         SELECT doc_id,
           CASE WHEN s_de = best AND s_de > 0 THEN 'de'
                WHEN s_en = best AND s_en > 0 THEN 'en'
                WHEN s_es = best AND s_es > 0 THEN 'es'
                WHEN s_fr = best AND s_fr > 0 THEN 'fr'
                ELSE 'und' END AS lang_pred,
           ROUND((
             LEAST(CAST(LEN(toks) AS DOUBLE) / 20.0, 1.0) +
             (1.0 - LEAST(CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) * 4.0, 1.0)) +
             LEAST(CAST(len(list_intersect(list_distinct(toks),
               ['the','a','of','and','to','in','is','that','it','for'])) AS DOUBLE) / 3.0, 1.0)
           ) / 3.0, 6) AS quality
         FROM g ORDER BY doc_id"""
  )
}
