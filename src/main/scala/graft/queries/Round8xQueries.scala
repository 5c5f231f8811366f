package graft.queries

import graft.Tables
import graft.ops.{Behavior, Profile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 24: feature normalization and seasonality — the
  * quantile-rank lookup table (the rank transform for heavy-tailed
  * features) and the day-of-week seasonal index. Exact-integer
  * ratios throughout, DuckDB-checked.
  */
object Round8xQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- percent-rank lookup table per event type ----
    "q_quantile_norm" -> ((s, dir) =>
      Profile.quantileRank(Tables.load(s, dir, "events"),
          col("event_type"), round(col("value") * 100).cast("long"))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"), col("value_cents"))),

    // ---- day-of-week seasonal index ----
    "q_seasonal_index" -> ((s, dir) =>
      Behavior.seasonalIndex(Tables.load(s, dir, "events"),
          "event_type", "ts")
        .orderBy(col("event_type"), col("dow"))))

  def oracles: Map[String, String] = Map(

    "q_quantile_norm" ->
      """WITH v AS (SELECT event_type AS g,
             CAST(ROUND(value * 100) AS BIGINT) AS v FROM events),
         c AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n
           FROM v GROUP BY 1, 2),
         t AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n_total
           FROM c GROUP BY 1),
         w AS (SELECT g, v, n,
             CAST(COALESCE(SUM(n) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_below
           FROM c)
         SELECT w.g AS event_type, w.v AS value_cents, w.n,
           CASE WHEN t.n_total > 1
             THEN ROUND(CAST(w.n_below AS DOUBLE) /
               CAST(t.n_total - 1 AS DOUBLE), 6) END AS pct_rank
         FROM w JOIN t ON w.g = t.g
         ORDER BY event_type, value_cents""",

    "q_seasonal_index" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(dayofweek(ts) + 1 AS BIGINT) AS dow FROM events),
         bd AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_dow
           FROM d GROUP BY 1, 2),
         bt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
           FROM d GROUP BY 1),
         dy AS (SELECT DISTINCT d, dow FROM d),
         dd AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS days_dow
           FROM dy GROUP BY 1),
         da AS (SELECT CAST(COUNT(*) AS BIGINT) AS days_all FROM dy)
         SELECT bd.event_type, bd.dow, bd.n_dow, dd.days_dow,
           ROUND((CAST(bd.n_dow AS DOUBLE) / CAST(dd.days_dow AS DOUBLE)) /
             (CAST(bt.n_type AS DOUBLE) / CAST(da.days_all AS DOUBLE)), 6)
             AS seasonal_index
         FROM bd JOIN bt ON bd.event_type = bt.event_type
                 JOIN dd ON bd.dow = dd.dow
                 CROSS JOIN da
         ORDER BY bd.event_type, bd.dow""")
}
