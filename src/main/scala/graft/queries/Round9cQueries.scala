package graft.queries

import graft.Tables
import graft.ops.{MasterData, Skew}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 part 3: the change-data plumbing around a warehouse —
  * CDC changelog apply (last-writer-wins merge), point-in-time lookup
  * against the round-9b SCD2 history, and the pre-join output-size
  * audit. Deterministic end to end; the PIT oracle replays the FULL
  * merge-then-lookup composition in SQL.
  */
object Round9cQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- CDC changelog apply ----
    "q_cdc_apply" -> ((s, dir) => {
      // planted log: updates on every 10th key (an earlier losing
      // update on every 20th exercises the latest-wins reduce),
      // deletes on every 7th (seq above the updates, so a key in both
      // sets ends deleted), inserts of unknown keys
      val cust = Tables.load(s, dir, "customer")
      val snap = cust.select(col("c_custkey").cast("long").as("key"),
        col("c_mktsegment").as("attr"))
      val off = broadcast(cust.agg((max(col("c_custkey")) + 1L).as("_off")))
      val k = col("c_custkey").cast("long")
      val log = cust.filter(k % 10 === 0)
        .select(k.as("key"), lit("MOVED").as("attr"),
          lit(200L).as("seq"), lit("U").as("op"))
        .unionByName(cust.filter(k % 20 === 0)
          .select(k.as("key"), lit("EARLY").as("attr"),
            lit(100L).as("seq"), lit("U").as("op")))
        .unionByName(cust.filter(k % 7 === 0)
          .select(k.as("key"), lit(null).cast("string").as("attr"),
            lit(300L).as("seq"), lit("D").as("op")))
        .unionByName(cust.filter(k % 100 === 0).crossJoin(off)
          .select((k + col("_off")).as("key"), lit("NEW").as("attr"),
            lit(100L).as("seq"), lit("I").as("op")))
      MasterData.cdcApply(snap, log).orderBy(col("key"))
    }),

    // ---- point-in-time lookup against the SCD2 history ----
    "q_scd2_lookup" -> ((s, dir) => {
      val dim = MasterData.scd2Merge(
        Round9bQueries.scd2Dim(s, dir), Round9bQueries.scd2Updates(s, dir))
      val cust = Tables.load(s, dir, "customer")
      val off = broadcast(cust.agg((max(col("c_custkey")) + 1L).as("_off")))
      // facts before (50000) and after (100000) the eff=86400 change,
      // for both known keys and the born-at-86400 unknown keys — the
      // pre-history fact must come back with a NULL attr, not vanish
      val keys = cust.select(col("c_custkey").cast("long").as("key"))
        .unionByName(cust.filter(col("c_custkey") % 100 === 0)
          .crossJoin(off)
          .select((col("c_custkey") + col("_off")).as("key")))
      val facts = keys.select(col("key"),
        explode(array(lit(50000L), lit(100000L))).as("ts"))
      MasterData.scd2Lookup(facts, dim).orderBy(col("key"), col("ts"))
    }),

    // ---- pre-join output-size audit ----
    "q_join_audit" -> ((s, dir) =>
      Skew.joinSizeAudit(Tables.load(s, dir, "lineitem"), "l_orderkey",
          Tables.load(s, dir, "orders"), "o_orderkey", k = 10)
        .orderBy(col("rank"))))

  def oracles: Map[String, String] = Map(

    "q_cdc_apply" ->
      """WITH snap AS (SELECT CAST(c_custkey AS BIGINT) AS k,
             c_mktsegment AS attr FROM customer),
         o AS (SELECT MAX(k) + 1 AS off FROM snap),
         log0 AS (
           SELECT k, 'MOVED' AS attr, CAST(200 AS BIGINT) AS seq,
             'U' AS op FROM snap WHERE k % 10 = 0
           UNION ALL
           SELECT k, 'EARLY', CAST(100 AS BIGINT), 'U'
           FROM snap WHERE k % 20 = 0
           UNION ALL
           SELECT k, CAST(NULL AS VARCHAR), CAST(300 AS BIGINT), 'D'
           FROM snap WHERE k % 7 = 0
           UNION ALL
           SELECT k + off, 'NEW', CAST(100 AS BIGINT), 'I'
           FROM snap CROSS JOIN o WHERE k % 100 = 0),
         w AS (
           SELECT k, op, attr FROM (
             SELECT k, op, attr, ROW_NUMBER() OVER (PARTITION BY k
               ORDER BY seq DESC, op DESC, attr DESC) AS rn FROM log0)
           WHERE rn = 1),
         m AS (
           SELECT COALESCE(s.k, w.k) AS k, s.attr AS sattr,
             w.op, w.attr AS wattr,
             s.k IS NOT NULL AS has_s, w.k IS NOT NULL AS has_w
           FROM snap s FULL JOIN w ON s.k = w.k)
         SELECT k AS key,
           CASE WHEN has_w THEN wattr ELSE sattr END AS attr
         FROM m WHERE NOT has_w OR op <> 'D'
         ORDER BY key""",

    "q_scd2_lookup" ->
      s"""WITH ${Round9bQueries.scd2CoreSql},
         keys AS (
           SELECT k FROM dim
           UNION ALL
           SELECT k + off FROM dim CROSS JOIN o WHERE k % 100 = 0),
         facts AS (
           SELECT k AS fk, ts FROM keys
           CROSS JOIN (SELECT UNNEST([CAST(50000 AS BIGINT),
             CAST(100000 AS BIGINT)]) AS ts))
         SELECT f.fk AS key, f.ts, s.attr
         FROM facts f LEFT JOIN scd s
           ON f.fk = s.k AND f.ts >= s.valid_from
             AND f.ts < COALESCE(s.valid_to, 9223372036854775807)
         ORDER BY key, ts""",

    "q_join_audit" ->
      """WITH l AS (SELECT CAST(l_orderkey AS BIGINT) AS k,
             CAST(COUNT(*) AS BIGINT) AS n_left
           FROM lineitem GROUP BY 1),
         r AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
             CAST(COUNT(*) AS BIGINT) AS n_right
           FROM orders GROUP BY 1),
         pk AS (SELECT l.k, n_left, n_right, n_left * n_right AS n_out
           FROM l JOIN r ON l.k = r.k),
         t AS (SELECT CAST(SUM(n_out) AS BIGINT) AS total FROM pk)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_out DESC, k) AS INT)
             AS rank,
           k AS key, n_left, n_right, n_out,
           ROUND(CAST(n_out AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
         FROM pk CROSS JOIN t
         QUALIFY rank <= 10
         ORDER BY rank""")
}
