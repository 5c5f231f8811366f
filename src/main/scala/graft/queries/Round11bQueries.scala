package graft.queries

import graft.Tables
import graft.ops.{Graphs, TimeSeries}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 part 2: graph completion and local trend — link prediction
  * over the co-click item graph (common-neighbor scoring with the
  * wedge-center hub cap and its audit) and the rolling OLS trend per
  * event-type series. Every score/slope is derived from exact BIGINT
  * sums with one final IEEE division, so both engines take identical
  * ranking branches and the oracles replay the math term for term.
  */
object Round11bQueries extends QueryModule {

  private val MaxDeg = 64
  private val TopK = 3
  private val TrendWindow = 7

  /** The co-click edge list as STORED state (the entity-family
    * precedent, r10 verdict item 3): both graph queries read the edge
    * table a prior job derived — built once under the fixture root on
    * the untimed warmup pass — so each prices its own pass (wedge join
    * + ranking; degree audit), not a rebuild of the shared graph.
    * Shared with q_assoc_rules via [[GraphFixtures]].
    */
  private def coclickEdges(s: SparkSession, dir: String): DataFrame =
    GraphFixtures.hourCoclickPairs2(s, dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_link_predict" -> ((s, dir) =>
      Graphs.linkPrediction(coclickEdges(s, dir), maxDeg = MaxDeg,
          k = TopK)
        .orderBy(col("node"), col("rank"))),

    "q_hub_audit" -> ((s, dir) =>
      Graphs.hubAudit(coclickEdges(s, dir), maxDeg = MaxDeg)),

    "q_rolling_trend" -> ((s, dir) =>
      TimeSeries.rollingTrend(Tables.load(s, dir, "events"), "ts",
          "event_type", window = TrendWindow)
        .orderBy(col("k"), col("day_idx"))))

  /** The co-click edge list in SQL (support ≥ 2), shared scaffolding. */
  private val edgeSql: String =
    s"""${Round8hQueries.basketSql},
       e AS (SELECT a.item AS ia, b2.item AS ib
         FROM kept a JOIN kept b2
           ON a.u = b2.u AND a.h = b2.h AND a.item < b2.item
         GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       adj AS (SELECT ia AS u, ib AS w FROM e
         UNION ALL SELECT ib, ia FROM e),
       deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
         FROM adj GROUP BY u)"""

  def oracles: Map[String, String] = Map(

    "q_link_predict" ->
      s"""WITH $edgeSql,
         hub AS (SELECT u FROM deg WHERE deg > $MaxDeg),
         mid AS (SELECT u, w FROM adj
           WHERE NOT EXISTS (SELECT 1 FROM hub WHERE hub.u = adj.w)),
         cand AS (
           SELECT a.u, b2.u AS v, CAST(COUNT(*) AS BIGINT) AS cn
           FROM mid a JOIN mid b2 ON a.w = b2.w AND a.u < b2.u
           WHERE NOT EXISTS (SELECT 1 FROM e
             WHERE e.ia = a.u AND e.ib = b2.u)
           GROUP BY 1, 2),
         scored AS (
           SELECT c.u, c.v, c.cn, du.deg * dv.deg AS pa
           FROM cand c JOIN deg du ON du.u = c.u
                       JOIN deg dv ON dv.u = c.v),
         sym AS (SELECT u AS node, v AS other, cn, pa FROM scored
           UNION ALL SELECT v, u, cn, pa FROM scored),
         rk AS (SELECT node, other, cn, pa,
             ROW_NUMBER() OVER (PARTITION BY node
               ORDER BY cn DESC, pa DESC, other) AS rank
           FROM sym)
         SELECT node, other, cn, pa, CAST(rank AS INT) AS rank
         FROM rk WHERE rank <= $TopK ORDER BY node, rank""",

    "q_hub_audit" ->
      s"""WITH $edgeSql,
         flags AS (
           SELECT COALESCE(SUM(CASE WHEN deg > $MaxDeg THEN 1 END), 0)
               AS n_hubs_dropped,
             COALESCE(SUM(CASE WHEN deg <= $MaxDeg THEN 1 END), 0)
               AS n_nodes_kept
           FROM deg),
         touched AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_touching_hubs
           FROM e WHERE EXISTS (SELECT 1 FROM deg
               WHERE deg.u = e.ia AND deg.deg > $MaxDeg)
             OR EXISTS (SELECT 1 FROM deg
               WHERE deg.u = e.ib AND deg.deg > $MaxDeg))
         SELECT CAST(n_hubs_dropped AS BIGINT) AS n_hubs_dropped,
           CAST(n_nodes_kept AS BIGINT) AS n_nodes_kept,
           n_edges_touching_hubs
         FROM flags CROSS JOIN touched""",

    "q_rolling_trend" ->
      s"""WITH d AS (
           SELECT event_type AS k,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400
               AS day_idx,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT k, day_idx, n,
             CAST(COUNT(*) OVER win AS BIGINT) AS cnt,
             CAST(SUM(day_idx) OVER win AS BIGINT) AS sx,
             CAST(SUM(n) OVER win AS BIGINT) AS sy,
             CAST(SUM(day_idx * n) OVER win AS BIGINT) AS sxy,
             CAST(SUM(day_idx * day_idx) OVER win AS BIGINT) AS sxx
           FROM d
           WINDOW win AS (PARTITION BY k ORDER BY day_idx
             ROWS BETWEEN ${TrendWindow - 1} PRECEDING AND CURRENT ROW))
         SELECT k, day_idx, n, cnt AS n_obs,
           CASE WHEN cnt * sxx - sx * sx > 0
             THEN ROUND(CAST(cnt * sxy - sx * sy AS DOUBLE) /
               CAST(cnt * sxx - sx * sx AS DOUBLE), 6) END AS slope,
           ROUND(CAST(sy AS DOUBLE) / CAST(cnt AS DOUBLE), 6)
             AS mean_level
         FROM w ORDER BY k, day_idx""")
}
