package graft.queries

import graft.Tables
import graft.ops.{Behavior, Profile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 part 1: longitudinal behavior analytics — weekly cohort
  * retention, rank-based winsorized group statistics (on the r9
  * distributed order-statistic machinery), and integer CUSUM
  * level-shift detection over the daily series. Deterministic end to
  * end; every expression mirrored by its DuckDB oracle.
  */
object Round9aQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- weekly cohort retention matrix ----
    "q_cohort_retention" -> ((s, dir) =>
      Behavior.cohortRetention(Tables.load(s, dir, "events"),
          "user_id", "ts")
        .orderBy(col("cohort_wk"), col("week_offset"))),

    // ---- winsorized per-type value statistics ----
    "q_winsorized" -> ((s, dir) =>
      Profile.winsorizedStats(Tables.load(s, dir, "events"),
          "event_type", "value", tailFrac = 0.02)
        .orderBy(col("grp"))),

    // ---- CUSUM level-shift detection ----
    "q_cusum" -> ((s, dir) => {
      // planted changepoint: the event stream doubles from Jan 21 on
      // (the tail unions in twice), so the positive CUSUM must climb
      // and alarm after the shift while the pre-shift days stay quiet
      val ev = Tables.load(s, dir, "events")
      val shifted = ev.unionByName(
        ev.filter(col("ts") >= lit("2024-01-21 00:00:00").cast("timestamp")))
      Behavior.cusumChangepoint(shifted, "ts", alarmMeanDays = 3)
        .orderBy(col("day_idx"))
    }))

  def oracles: Map[String, String] = Map(

    "q_cohort_retention" ->
      """WITH uw AS (
           SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 604800 AS wk
           FROM events),
         fw AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY 1),
         cells AS (
           SELECT cohort_wk, wk - cohort_wk AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
           FROM uw JOIN fw USING (user_id) GROUP BY 1, 2),
         sz AS (SELECT cohort_wk, n_active AS cohort_size
           FROM cells WHERE week_offset = 0)
         SELECT cohort_wk, week_offset, n_active, cohort_size,
           ROUND(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6)
             AS retention
         FROM cells JOIN sz USING (cohort_wk)
         ORDER BY cohort_wk, week_offset""",

    "q_winsorized" ->
      """WITH v AS (
           SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
           FROM events WHERE value IS NOT NULL),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM v),
         kk AS (SELECT GREATEST(CAST(CEIL(n_all * 0.02) AS BIGINT), 1) AS k,
             n_all FROM nn),
         r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM v),
         b AS (
           SELECT MAX(CASE WHEN rn = k THEN c END) AS lo,
             MAX(CASE WHEN rn = n_all + 1 - k THEN c END) AS hi
           FROM r CROSS JOIN kk)
         SELECT event_type AS grp, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN c < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_lo,
           CAST(SUM(CASE WHEN c > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_hi,
           CAST(SUM(GREATEST(LEAST(c, hi), lo)) AS BIGINT)
             AS sum_cents_winsor,
           MIN(lo) AS lo_cents, MIN(hi) AS hi_cents
         FROM v CROSS JOIN b GROUP BY 1 ORDER BY 1""",

    "q_cusum" ->
      """WITH ev AS (
           SELECT ts FROM events
           UNION ALL
           SELECT ts FROM events
           WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-21 00:00:00'),
         d AS (
           SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
             // 86400 AS day_idx
           FROM ev),
         daily AS (SELECT day_idx, CAST(COUNT(*) AS BIGINT) AS n
           FROM d GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all,
             CAST(COUNT(*) AS BIGINT) AS dd FROM daily),
         p AS (
           SELECT day_idx, n, n_all,
             SUM(n * dd - n_all) OVER (ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
           FROM daily CROSS JOIN t),
         rr AS (
           SELECT day_idx, n, pre, n_all,
             MIN(pre) OVER (ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin,
             MAX(pre) OVER (ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax
           FROM p)
         SELECT day_idx, n,
           CAST(pre - LEAST(rmin, 0) AS BIGINT) AS cusum_pos,
           CAST(GREATEST(rmax, 0) - pre AS BIGINT) AS cusum_neg,
           (pre - LEAST(rmin, 0) > 3 * n_all) AS alarm_pos,
           (GREATEST(rmax, 0) - pre > 3 * n_all) AS alarm_neg
         FROM rr ORDER BY day_idx""")
}
