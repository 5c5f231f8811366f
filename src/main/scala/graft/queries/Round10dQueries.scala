package graft.queries

import graft.Tables
import graft.ops.Joins
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 part 4: interval algebra at scale — the overlap join
  * (binned equi-join with first-overlapping-bin dedup, never a nested
  * loop) and interval coalescing (the gaps-and-islands interval
  * variant). Intervals derive deterministically from events: lo = the
  * epoch second, hi = lo + (event_id mod 7 + 1)·600 — integer bounds
  * both engines recompute exactly.
  */
object Round10dQueries extends QueryModule {

  private def intervals(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("lo"))
      .withColumn("hi", col("lo") + (col("event_id") % 7 + 1) * 600L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- interval-overlap join (click spans x view spans per user) ----
    "q_interval_join" -> ((s, dir) => {
      val iv = intervals(s, dir)
      val clicks = iv.filter(col("event_type") === "click")
        .drop("event_type")
      val views = iv.filter(col("event_type") === "view")
        .drop("event_type")
      Joins.intervalOverlapJoin(clicks, views, "lo", "hi",
          binWidth = 1800L, keys = Seq("user_id"))
        .select(col("user_id"), col("l_event_id"), col("r_event_id"),
          (least(col("l_hi"), col("r_hi")) -
            greatest(col("l_lo"), col("r_lo"))).as("overlap_sec"))
        .orderBy(col("user_id"), col("l_event_id"), col("r_event_id"))
    }),

    // ---- per-user coalesced activity spans ----
    "q_interval_coalesce" -> ((s, dir) =>
      Joins.coalesceIntervals(intervals(s, dir), Seq("user_id"),
          "lo", "hi")
        .orderBy(col("user_id"))))

  private val ivSql: String =
    """iv AS (
         SELECT user_id, event_id, event_type,
           CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS lo,
           CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
             + (event_id % 7 + 1) * 600 AS hi
         FROM events)"""

  def oracles: Map[String, String] = Map(

    "q_interval_join" ->
      s"""WITH $ivSql,
         c AS (SELECT * FROM iv WHERE event_type = 'click'),
         v AS (SELECT * FROM iv WHERE event_type = 'view')
         SELECT c.user_id, c.event_id AS l_event_id,
           v.event_id AS r_event_id,
           LEAST(c.hi, v.hi) - GREATEST(c.lo, v.lo) AS overlap_sec
         FROM c JOIN v ON c.user_id = v.user_id
           AND c.lo <= v.hi AND v.lo <= c.hi
         ORDER BY c.user_id, l_event_id, r_event_id""",

    "q_interval_coalesce" ->
      s"""WITH $ivSql,
         marked AS (
           SELECT user_id, lo, hi,
             CASE WHEN lo > COALESCE(MAX(hi) OVER (
                 PARTITION BY user_id ORDER BY lo, hi
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -9223372036854775808) THEN 1 ELSE 0 END AS opens
           FROM iv),
         spans0 AS (
           SELECT user_id, lo, hi,
             SUM(opens) OVER (PARTITION BY user_id ORDER BY lo, hi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
           FROM marked),
         spans AS (
           SELECT user_id, span, MIN(lo) AS slo, MAX(hi) AS shi
           FROM spans0 GROUP BY user_id, span)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(shi - slo) AS BIGINT) AS covered
         FROM spans GROUP BY user_id ORDER BY user_id""")
}
