package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Core relational operator pack: every SELECT-pipeline capability of
  * the reference (SURVEY.md §2.2, §2.4, §2.6) re-expressed as
  * declarative DataFrame plans, plus the beyond-reference relational
  * surface (joins §2.3, windows §2.5, set ops §2.7, scalar functions
  * §2.8) the reference lacks.
  *
  * Oracle-parity notes:
  *  - Money sums go through DECIMAL(18,2) so the aggregate is exact and
  *    order-independent, then cast back to DOUBLE so Spark and DuckDB
  *    agree bit-for-bit (a plain double sum is ordering-dependent).
  *  - Every query ends in a total ORDER BY over a unique key set so the
  *    row order is deterministic on both sides.
  */
object Relational extends QueryModule {

  /** Exact, order-independent sum of a ~2-decimal double column. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact sum of extendedprice*(1-discount)-style products (scale 4). */
  private def dsumExpr(c: Column): Column =
    sum(c).cast("double")

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregation (SURVEY §2.4) ----
    "q1_agg" -> ((s, dir) => {
      // Flagship: TPC-H Q1 shape. Partial aggregation map-side, single
      // shuffle on (l_returnflag, l_linestatus); scan prunes to 7 cols.
      val li = Tables.load(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumExpr(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q_global_agg" -> ((s, dir) => {
      // Global aggregate (reference "__global__" group, SURVEY A2).
      val li = Tables.load(s, dir, "lineitem")
      li.agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    }),
    "q_lenient_groupby" -> ((s, dir) => {
      // Reference dialect quirk A3: GROUP BY without aggregates injects
      // COUNT(*) named `count`.
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("count"))
        .orderBy(col("o_orderpriority"))
    }),
    "q_having" -> ((s, dir) => {
      // HAVING = filter on aliased agg columns after groupBy (SURVEY A10).
      Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
        .filter(col("n_orders") >= 3)
        .orderBy(col("o_custkey"))
    }),
    "q_count_col" -> ((s, dir) => {
      // COUNT(*) vs COUNT(col) null-skipping semantics (SURVEY A4/A5).
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_all"), count(col("o_custkey")).as("n_cust"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- filter / predicates (SURVEY §2.2) ----
    "q_filter_compare" -> ((s, dir) => {
      // All six comparison ops + AND/OR/NOT composition (P5-P7).
      Tables.load(s, dir, "lineitem")
        .filter(((col("l_quantity") > 45) && (col("l_discount") <= 0.02))
          || (!(col("l_returnflag") =!= "R") && (col("l_tax") >= 0.07)
              && (col("l_linenumber") < 2)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_returnflag"))
        // (l_orderkey, l_linenumber) is not unique in the synthetic data;
        // ordering by every projected column keeps the dump deterministic.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_returnflag"))
    }),
    "q_filter_in" -> ((s, dir) => {
      // IN-list membership (P8); pushed to the parquet scan.
      Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),
    "q_filter_between" -> ((s, dir) => {
      // Inclusive BETWEEN (P9).
      Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity").between(10, 12))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),
    "q_like" -> ((s, dir) => {
      // The reference's 4 LIKE shapes (P10): %x% / x% / %x / exact.
      Tables.load(s, dir, "part")
        .filter(col("p_name").contains("gear") || col("p_name").startsWith("red")
          || col("p_brand").endsWith("3"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"))
        .orderBy(col("p_partkey"))
    }),

    // ---- projection / sort / distinct / limit (SURVEY §2.2, §2.6) ----
    "q_projection_alias" -> ((s, dir) => {
      // Projection + AS alias (P1/P2).
      Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("balance"))
        .orderBy(col("id"))
    }),
    "q_distinct" -> ((s, dir) => {
      // DISTINCT on the projected tuple (O5).
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q_orderby_limit_offset" -> ((s, dir) => {
      // ORDER BY + LIMIT + OFFSET on the non-aggregated path — the
      // reference computes but never applies them there (bug O4); we
      // implement standard semantics on both paths.
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10).limit(100)
    }),
    "q_topk" -> ((s, dir) => {
      // ORDER BY+LIMIT compiles to TakeOrderedAndProject: no global sort,
      // each partition keeps k rows then the driver merges — O(n) not
      // O(n log n), and no shuffle of the full table.
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(25)
    }),

    // ---- joins (SURVEY §2.3 — beyond-reference) ----
    "q_join_broadcast" -> ((s, dir) => {
      // Fact⋈dim with an explicit broadcast: no shuffle of orders at all.
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),
    "q_join_multi" -> ((s, dir) => {
      // TPC-H Q5 shape: lineitem⋈orders shuffles once on orderkey; all
      // dimension joins broadcast. Revenue per nation.
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsumExpr(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),
    "q_semi_join" -> ((s, dir) => {
      // EXISTS → left_semi: customer side never widens, orders deduped
      // implicitly by the semi join (no distinct needed).
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q_anti_join" -> ((s, dir) => {
      // NOT EXISTS → left_anti.
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q_left_join" -> ((s, dir) => {
      // LEFT OUTER join with null-aware count on the right side.
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),

    // ---- set operations (SURVEY §2.7 — beyond-reference) ----
    "q_union" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer").select(col("c_nationkey").cast("int").as("nk"))
      val sup = Tables.load(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nk"))
      c.union(sup).distinct().orderBy(col("nk"))
    }),
    "q_intersect" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer").select(col("c_nationkey").cast("int").as("nk"))
      val sup = Tables.load(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nk"))
      c.intersect(sup).orderBy(col("nk"))
    }),
    "q_except" -> ((s, dir) => {
      val n = Tables.load(s, dir, "nation").select(col("n_nationkey").cast("int").as("nk"))
      val sup = Tables.load(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nk"))
      n.except(sup).orderBy(col("nk"))
    }),

    // ---- window functions (SURVEY §2.5 — beyond-reference) ----
    "q_window_rank" -> ((s, dir) => {
      // Top-3 orders per priority: rank + filter; single shuffle on the
      // partition key.
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rn"))
    }),
    "q_window_running" -> ((s, dir) => {
      // Running sum within a partition (frame: unbounded preceding..current).
      // Window order must be total within the partition or the running
      // sum itself is nondeterministic: (l_orderkey, l_linenumber) has
      // duplicates, so extend with (l_partkey, l_suppkey).
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          sum(col("l_quantity")).over(w).as("running_qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    }),
    "q_window_lag" -> ((s, dir) => {
      // lag/lead across a customer's order history.
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- scalar functions (SURVEY §2.8 — beyond-reference) ----
    "q_scalar_string" -> ((s, dir) => {
      Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("int").as("nk"),
          upper(col("n_name")).as("up"),
          lower(col("n_name")).as("lo"),
          substring(col("n_name"), 1, 3).as("pre"),
          length(col("n_name")).cast("long").as("len"),
          concat(col("n_name"), lit("_"), col("n_nationkey").cast("string")).as("tagged"),
          regexp_replace(col("n_name"), "a", "@").as("subst"))
        .orderBy(col("nk"))
    }),
    "q_scalar_math" -> ((s, dir) => {
      Tables.load(s, dir, "part")
        .select(col("p_partkey"),
          abs(col("p_retailprice") - 1000.0).as("dev"),
          floor(col("p_retailprice")).as("fl"),
          ceil(col("p_retailprice")).as("ce"),
          (col("p_partkey") % 7).as("m7"),
          sqrt(col("p_size").cast("double")).as("rt"))
        .orderBy(col("p_partkey"))
    }),
    "q_scalar_date" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
        .orderBy(col("o_orderkey"))
    }),
    "q_case_when" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_totalprice") > 300000, "high")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("low").as("tier"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- grouping sets (beyond-reference, SURVEY §2.4 note) ----
    "q_rollup" -> ((s, dir) => {
      // subtotal rows carry NULL group keys; both engines order them
      // explicitly NULLS LAST for a deterministic dump
      Tables.load(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderpriority").asc_nulls_last, col("o_orderstatus").asc_nulls_last)
    }),
    "q_cube" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)
    }),

    // ---- events (time-series shape; batch view of §2.10) ----
    "q_events_agg" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         SUM(l_quantity) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         SUM(l_quantity) / COUNT(*) AS avg_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q_global_agg" ->
      """SELECT COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty,
         MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem""",
    "q_lenient_groupby" ->
      """SELECT o_orderpriority, COUNT(*) AS count FROM orders
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
         FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3 ORDER BY o_custkey""",
    "q_count_col" ->
      """SELECT o_orderstatus, COUNT(*) AS n_all, COUNT(o_custkey) AS n_cust
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_filter_compare" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
         FROM lineitem
         WHERE (l_quantity > 45 AND l_discount <= 0.02)
            OR (NOT (l_returnflag <> 'R') AND l_tax >= 0.07 AND l_linenumber < 2)
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag""",
    "q_filter_in" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') ORDER BY o_orderkey""",
    "q_filter_between" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity BETWEEN 10 AND 12
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "q_like" ->
      """SELECT p_partkey, p_name, p_brand, p_type FROM part
         WHERE p_name LIKE '%gear%' OR p_name LIKE 'red%' OR p_brand LIKE '%3'
         ORDER BY p_partkey""",
    "q_projection_alias" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS balance
         FROM customer ORDER BY id""",
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q_orderby_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET 10""",
    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25""",
    "q_join_broadcast" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_join_multi" ->
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         ORDER BY c_custkey""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q_left_join" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_union" ->
      """SELECT nk FROM (
           SELECT CAST(c_nationkey AS INT) AS nk FROM customer
           UNION SELECT CAST(s_nationkey AS INT) AS nk FROM supplier)
         ORDER BY nk""",
    "q_intersect" ->
      """SELECT nk FROM (
           SELECT CAST(c_nationkey AS INT) AS nk FROM customer
           INTERSECT SELECT CAST(s_nationkey AS INT) AS nk FROM supplier)
         ORDER BY nk""",
    "q_except" ->
      """SELECT nk FROM (
           SELECT CAST(n_nationkey AS INT) AS nk FROM nation
           EXCEPT SELECT CAST(s_nationkey AS INT) AS nk FROM supplier)
         ORDER BY nk""",
    "q_window_rank" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_orderpriority, rn""",
    "q_window_running" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         SUM(l_quantity) OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
         FROM lineitem WHERE l_orderkey <= 200
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",
    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey,
         LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
         LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
         FROM orders WHERE o_custkey <= 100
         ORDER BY o_custkey, o_orderkey""",
    "q_scalar_string" ->
      """SELECT CAST(n_nationkey AS INT) AS nk, UPPER(n_name) AS up,
         LOWER(n_name) AS lo, SUBSTRING(n_name, 1, 3) AS pre,
         CAST(LENGTH(n_name) AS BIGINT) AS len,
         n_name || '_' || CAST(n_nationkey AS VARCHAR) AS tagged,
         REGEXP_REPLACE(n_name, 'a', '@', 'g') AS subst
         FROM nation ORDER BY nk""",
    "q_scalar_math" ->
      """SELECT p_partkey, ABS(p_retailprice - 1000.0) AS dev,
         CAST(FLOOR(p_retailprice) AS BIGINT) AS fl,
         CAST(CEIL(p_retailprice) AS BIGINT) AS ce,
         p_partkey % 7 AS m7, SQRT(CAST(p_size AS DOUBLE)) AS rt
         FROM part ORDER BY p_partkey""",
    "q_scalar_date" ->
      """SELECT o_orderkey, CAST(YEAR(o_orderdate) AS BIGINT) AS y,
         CAST(MONTH(o_orderdate) AS BIGINT) AS m,
         CAST(DAY(o_orderdate) AS BIGINT) AS d,
         CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start
         FROM orders ORDER BY o_orderkey""",
    "q_case_when" ->
      """SELECT o_orderkey,
         CASE WHEN o_totalprice > 300000 THEN 'high'
              WHEN o_totalprice > 100000 THEN 'mid'
              ELSE 'low' END AS tier
         FROM orders ORDER BY o_orderkey""",
    "q_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
         ORDER BY o_orderpriority NULLS LAST, o_orderstatus NULLS LAST""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""",
    "q_events_agg" ->
      """SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type"""
  )
}
