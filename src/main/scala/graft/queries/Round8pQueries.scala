package graft.queries

import graft.Tables
import graft.ops.Profile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 16: ingest contracts and forensic statistics — the
  * declarative expectations gate (Great-Expectations shape) over a
  * corrupted orders batch, and the Benford first-digit audit. Both
  * integer-exact / ordered-fold deterministic, DuckDB-checked.
  */
object Round8pQueries extends QueryModule {

  /** Orders plus a planted bad batch (every 997th order re-inserted
    * with its key DUPLICATED, a negative total, status 'X', and a NULL
    * custkey) so every expectation rule has real violations to count.
    */
  private def corruptOrders(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.unionByName(o.filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey"), lit(null).cast("long").as("o_custkey"),
        lit("X").as("o_orderstatus"),
        (-col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- declarative expectations over a corrupted batch ----
    "q_expectations" -> ((s, dir) =>
      Profile.expectations(corruptOrders(s, dir),
          rowRules = Seq(
            ("not_null", "o_custkey", col("o_custkey").isNull),
            ("range", "o_totalprice",
              !col("o_totalprice").between(0.0, 600000.0)),
            ("in_set", "o_orderstatus",
              !col("o_orderstatus").isin("O", "F", "P")),
            ("regex", "o_orderpriority",
              !col("o_orderpriority").rlike("^[1-5]-"))),
          uniqueCols = Seq("o_orderkey"))
        .orderBy(col("rule"), col("col_name"))),

    // ---- Benford first-digit audit of order totals ----
    "q_benford" -> ((s, dir) =>
      Profile.benfordAudit(Tables.load(s, dir, "orders"),
          col("o_totalprice"))
        .orderBy(col("digit"))))

  def oracles: Map[String, String] = Map(

    "q_expectations" ->
      """WITH corrupt AS (
           SELECT * FROM orders
           UNION ALL
           SELECT o_orderkey, NULL, 'X', -o_totalprice, o_orderdate,
             o_orderpriority
           FROM orders WHERE o_orderkey % 997 = 0),
         base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS v_null,
             CAST(SUM(CASE WHEN NOT (o_totalprice BETWEEN 0 AND 600000)
               THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
               THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
             CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority,
               '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS v_regex,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_uniq
           FROM corrupt),
         rows_out AS (
           SELECT 'not_null' AS rule, 'o_custkey' AS col_name, n, v_null AS v
             FROM base
           UNION ALL SELECT 'range', 'o_totalprice', n, v_range FROM base
           UNION ALL SELECT 'in_set', 'o_orderstatus', n, v_set FROM base
           UNION ALL SELECT 'regex', 'o_orderpriority', n, v_regex FROM base
           UNION ALL SELECT 'unique', 'o_orderkey', n, v_uniq FROM base)
         SELECT rule, col_name, n AS n_checked, v AS n_violations,
           v = 0 AS pass
         FROM rows_out ORDER BY rule, col_name""",

    "q_benford" ->
      """WITH v AS (SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
             AS VARCHAR), 1, 1) AS digit FROM orders),
         obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
           FROM v WHERE digit BETWEEN '1' AND '9' GROUP BY 1),
         p AS (SELECT * FROM (VALUES
             ('1', CAST(0.3010299957 AS DOUBLE)),
             ('2', CAST(0.1760912591 AS DOUBLE)),
             ('3', CAST(0.1249387366 AS DOUBLE)),
             ('4', CAST(0.0969100130 AS DOUBLE)),
             ('5', CAST(0.0791812460 AS DOUBLE)),
             ('6', CAST(0.0669467896 AS DOUBLE)),
             ('7', CAST(0.0579919470 AS DOUBLE)),
             ('8', CAST(0.0511525224 AS DOUBLE)),
             ('9', CAST(0.0457574906 AS DOUBLE))) AS t(digit, p)),
         e AS (SELECT p.digit, COALESCE(obs.n_obs, 0) AS n_obs, p.p
           FROM p LEFT JOIN obs ON p.digit = obs.digit),
         t2 AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS nt FROM e),
         e3 AS (SELECT e.digit, CAST(e.n_obs AS BIGINT) AS n_obs,
             CAST(t2.nt AS DOUBLE) * e.p AS expected,
             (CAST(e.n_obs AS DOUBLE) - CAST(t2.nt AS DOUBLE) * e.p) *
               (CAST(e.n_obs AS DOUBLE) - CAST(t2.nt AS DOUBLE) * e.p) /
               (CAST(t2.nt AS DOUBLE) * e.p) AS contrib
           FROM e CROSS JOIN t2),
         chi AS (SELECT ROUND(list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE), list(contrib ORDER BY digit)),
             (a, b) -> a + b), 6) AS chi2 FROM e3)
         SELECT e3.digit, e3.n_obs, ROUND(e3.expected, 6) AS expected,
           ROUND(e3.contrib, 6) AS contrib, chi.chi2
         FROM e3 CROSS JOIN chi ORDER BY e3.digit""")
}
