package graft.queries

import graft.Tables
import graft.ops.Behavior
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 21: abuse detection and load-shape analytics — the
  * bot-likeness audit (planted 1-event-per-second bot) and peak-hour
  * concentration. All exact integer ratios; timezone-independent by
  * construction (only gap DIFFERENCES and truncated-hour counts are
  * used). DuckDB-checked.
  */
object Round8uQueries extends QueryModule {

  /** Events plus one planted bot: 200 events at exactly one-second
    * intervals inside a single hour — fires both the fast-gap and the
    * burst rule with analytic certainty.
    */
  private def withBot(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"))
    val bu = base.agg(max(col("user_id"))).head().getAs[Number](0)
      .longValue + 1L
    base.unionByName(s.range(0, 200)
      .select(lit(bu).as("user_id"),
        timestamp_seconds(lit(1704456000L) + col("id")).as("ts")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- bot-likeness flags with planted certainty ----
    "q_bot_flags" -> ((s, dir) =>
      Behavior.botFlags(withBot(s, dir), "user_id", "ts")
        .orderBy(col("user_id"))),

    // ---- peak-hour concentration per event type ----
    "q_peak_hours" -> ((s, dir) =>
      Behavior.peakHours(Tables.load(s, dir, "events"), "event_type", "ts")
        .orderBy(col("event_type"))))

  def oracles: Map[String, String] = Map(

    "q_bot_flags" ->
      """WITH mx AS (SELECT MAX(user_id) + 1 AS bu FROM events),
         bot AS (SELECT mx.bu AS user_id,
             TIMESTAMP '2024-01-05 12:00:00' +
               UNNEST(range(0, 200)) * INTERVAL 1 SECOND AS ts
           FROM mx),
         c AS (SELECT user_id, ts FROM events
           UNION ALL SELECT user_id, ts FROM bot),
         g AS (SELECT user_id AS u, CAST(epoch(ts) AS BIGINT) AS es,
             DATE_TRUNC('hour', ts) AS h FROM c),
         g2 AS (SELECT u, es, h,
             es - LAG(es) OVER (PARTITION BY u ORDER BY es) AS gap
           FROM g),
         pu AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_events,
             quantile_cont(gap, 0.5) AS median_gap_s,
             CAST(SUM(CASE WHEN gap <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fast,
             CAST(COUNT(gap) AS BIGINT) AS n_gaps
           FROM g2 GROUP BY 1),
         hh AS (SELECT u, CAST(MAX(nh) AS BIGINT) AS max_events_hour FROM (
             SELECT u, h, COUNT(*) AS nh FROM g2 GROUP BY 1, 2)
           GROUP BY 1)
         SELECT pu.u AS user_id, pu.n_events, pu.median_gap_s,
           ROUND(CAST(pu.n_fast AS DOUBLE) / CAST(pu.n_gaps AS DOUBLE), 6)
             AS fast_frac,
           hh.max_events_hour,
           CASE WHEN pu.n_events >= 20 AND pu.n_fast * 2 > pu.n_gaps
                  AND hh.max_events_hour > 100 THEN 'fast+burst'
                WHEN pu.n_events >= 20 AND pu.n_fast * 2 > pu.n_gaps
                  THEN 'fast'
                ELSE 'burst' END AS reason
         FROM pu JOIN hh ON pu.u = hh.u
         WHERE (pu.n_events >= 20 AND pu.n_fast * 2 > pu.n_gaps)
            OR hh.max_events_hour > 100
         ORDER BY user_id""",

    "q_peak_hours" ->
      """WITH h AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_total
           FROM h GROUP BY 1),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY n DESC, hod) AS rn FROM h)
         SELECT rk.event_type, rk.hod AS peak_hour, rk.n AS peak_n,
           t.n_total,
           ROUND(CAST(rk.n AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6)
             AS peak_share
         FROM rk JOIN t ON rk.event_type = t.event_type
         WHERE rn = 1 ORDER BY rk.event_type""")
}
