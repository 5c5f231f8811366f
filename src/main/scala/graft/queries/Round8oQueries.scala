package graft.queries

import graft.Tables
import graft.ops.{Profile, Sampling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 15: exact apportionment and robust statistics — the
  * largest-remainder token-budget allocation (sums to the budget
  * EXACTLY) and MAD-based outlier detection (the heavy-tail-safe
  * companion to q_anomaly_zscore). Both pure integer/exact-percentile
  * arithmetic, DuckDB-checked row for row.
  */
object Round8oQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- largest-remainder exact budget apportionment ----
    "q_budget_exact" -> ((s, dir) =>
      Sampling.tokenBudgetExact(Tables.load(s, dir, "documents"),
          "source", "text",
          weightExpr = lit(1L) + length(col("source")).cast("long") % 7L,
          budgetTokens = 2999999L)
        .orderBy(col("source"))),

    // ---- MAD robust outliers over event values ----
    "q_mad_outliers" -> ((s, dir) =>
      Profile.madOutliers(Tables.load(s, dir, "events"),
          col("event_type"), round(col("value") * 100).cast("long"))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"))))

  def oracles: Map[String, String] = Map(

    "q_budget_exact" ->
      """WITH per AS (SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
               AS BIGINT) AS avail_tokens,
             CAST(1 + LENGTH(source) % 7 AS BIGINT) AS weight
           FROM documents GROUP BY source),
         t AS (SELECT SUM(weight) AS wt FROM per),
         b AS (SELECT per.*, 2999999 * weight // wt AS base_tokens,
             2999999 * weight % wt AS remainder
           FROM per CROSS JOIN t),
         r AS (SELECT b.*,
             ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rk,
             2999999 - SUM(base_tokens) OVER () AS short
           FROM b)
         SELECT source, n_docs, avail_tokens, weight,
           CAST(base_tokens AS BIGINT) AS base_tokens,
           CAST(remainder AS BIGINT) AS remainder,
           CAST(CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(base_tokens + CASE WHEN rk <= short THEN 1 ELSE 0 END
             AS BIGINT) AS target_tokens
         FROM r ORDER BY source""",

    "q_mad_outliers" ->
      """WITH v AS (SELECT event_type AS g,
             CAST(ROUND(value * 100) AS BIGINT) AS x FROM events),
         med AS (SELECT g, quantile_cont(x, 0.5) AS median_cents
           FROM v GROUP BY 1),
         dev AS (SELECT v.g, v.x, m.median_cents,
             ABS(CAST(v.x AS DOUBLE) - m.median_cents) AS ad
           FROM v JOIN med m ON v.g = m.g),
         mad AS (SELECT g, quantile_cont(ad, 0.5) AS mad_cents
           FROM dev GROUP BY 1)
         SELECT d.g AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
           d.median_cents, mad.mad_cents,
           CAST(SUM(CASE WHEN d.ad > CAST(4.4478 AS DOUBLE) * mad.mad_cents
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(CAST(SUM(CASE WHEN d.ad > CAST(4.4478 AS DOUBLE) *
               mad.mad_cents THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS outlier_rate
         FROM dev d JOIN mad ON d.g = mad.g
         GROUP BY 1, 3, 4 ORDER BY 1""")
}
