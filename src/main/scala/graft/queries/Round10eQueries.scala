package graft.queries

import graft.Tables
import graft.ops.{Behavior, TimeSeries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 part 5: time-series diagnostics and the conversion
  * funnel — per-key EWMA anomaly bands (integer cross-multiplied
  * test), the autocorrelation function at small lags, and the
  * ordered-step funnel chained through stacked per-user windows.
  * The EWMA/ACF oracle SQL is generated by the same lag-index loops
  * that build the Spark plans, so the two renderings cannot drift.
  */
object Round10eQueries extends QueryModule {

  private val FunnelSteps = Seq("signup", "view", "click", "purchase")
  private val FunnelWindowSec = 172800L // 2 days
  private val EwmaLookback = 8
  // anomaly threshold thrNum/thrDen — interpolated into BOTH the Spark
  // call and the generated oracle SQL so neither can drift alone
  private val EwmaThrNum = 1
  private val EwmaThrDen = 2
  private val AcfMaxLag = 5

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_funnel_window" -> ((s, dir) =>
      Behavior.funnelSteps(Tables.load(s, dir, "events"), "user_id",
          "ts", "event_type", FunnelSteps, FunnelWindowSec)
        .orderBy(col("step_idx"))),

    "q_ewma_daily" -> ((s, dir) =>
      TimeSeries.ewmaDaily(Tables.load(s, dir, "events"), "ts",
          "event_type", lookback = EwmaLookback,
          thrNum = EwmaThrNum, thrDen = EwmaThrDen)
        .orderBy(col("k"), col("day_idx"))),

    "q_acf_daily" -> ((s, dir) =>
      TimeSeries.acfDaily(Tables.load(s, dir, "events"), "ts",
          "event_type", maxLag = AcfMaxLag)
        .orderBy(col("k"), col("lag"))))

  // (key, day) counts — shared CTE for the two series oracles
  private val dailySql: String =
    """d AS (
         SELECT event_type AS k,
           CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400
             AS day_idx,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY 1, 2)"""

  private def funnelSql: String = {
    val w = FunnelWindowSec
    val chain = FunnelSteps.zipWithIndex.map { case (st, i) =>
      val src = if (i == 0) "ev" else s"s${i - 1}"
      val cond =
        if (i == 0) s"ty = '$st'"
        else s"ty = '$st' AND es >= m${i - 1} AND es <= m0 + $w"
      s"s$i AS (SELECT *, MIN(CASE WHEN $cond THEN es END) OVER (PARTITION BY u) AS m$i FROM $src)"
    }.mkString(",\n         ")
    val mins = FunnelSteps.indices.map(i => s"MIN(m$i) AS m$i").mkString(", ")
    val cnts = FunnelSteps.indices.map(i => s"COUNT(m$i) AS n$i").mkString(", ")
    val rows = FunnelSteps.zipWithIndex.map { case (st, i) =>
      val convPrev =
        if (i == 0) "CAST(NULL AS DOUBLE)"
        else s"CASE WHEN n${i - 1} > 0 THEN ROUND(CAST(n$i AS DOUBLE) / CAST(n${i - 1} AS DOUBLE), 6) END"
      s"""SELECT $i AS step_idx, '$st' AS step, n$i AS n_users,
            $convPrev AS conv_prev,
            CASE WHEN n0 > 0 THEN ROUND(CAST(n$i AS DOUBLE) / CAST(n0 AS DOUBLE), 6) END AS conv_first
          FROM c"""
    }.mkString("\n          UNION ALL ")
    s"""WITH ev AS (
          SELECT user_id AS u,
            CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
            event_type AS ty
          FROM events),
         $chain,
         pu AS (SELECT u, $mins FROM s${FunnelSteps.size - 1} GROUP BY u),
         c AS (SELECT $cnts FROM pu)
        SELECT * FROM ($rows) ORDER BY step_idx"""
  }

  private def ewmaSql: String = {
    val L = EwmaLookback
    def wgt(j: Int): Long = {
      var p = 1L; (1 to j).foreach(_ => p *= 3L)
      (j until L).foreach(_ => p *= 4L); p
    }
    val lags = (1 to L).map(j =>
      s"LAG(n, $j) OVER (PARTITION BY k ORDER BY day_idx) AS l$j").mkString(", ")
    def term(j: Int, withN: Boolean): String = {
      val v = if (j == 0) "n" else s"l$j"
      val body = if (withN) s"${wgt(j)} * $v" else s"${wgt(j)}"
      if (j == 0) s"CAST($body AS BIGINT)"
      else s"CASE WHEN l$j IS NOT NULL THEN CAST($body AS BIGINT) ELSE 0 END"
    }
    def dot(from: Int, withN: Boolean): String =
      (from to L).map(term(_, withN)).mkString(" + ")
    s"""WITH $dailySql,
         l AS (SELECT k, day_idx, n, $lags FROM d),
         m AS (SELECT k, day_idx, n,
             ${dot(0, withN = true)} AS num,
             ${dot(0, withN = false)} AS den,
             ${dot(1, withN = true)} AS nump,
             ${dot(1, withN = false)} AS denp
           FROM l)
        SELECT k, day_idx, n,
          ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS ewma,
          CASE WHEN denp > 0
            THEN ROUND(CAST(nump AS DOUBLE) / CAST(denp AS DOUBLE), 6)
            END AS ewma_prev,
          CASE WHEN denp > 0
            THEN ABS(n * denp - nump) * $EwmaThrDen > $EwmaThrNum * nump
            ELSE FALSE END AS is_anomaly
        FROM m ORDER BY k, day_idx"""
  }

  private def acfSql: String = {
    val L = AcfMaxLag
    val lags = (1 to L).map(j =>
      s"LAG(n, $j) OVER (PARTITION BY k ORDER BY day_idx) AS y$j").mkString(", ")
    val aggs = (1 to L).map { j =>
      s"""CAST(SUM(CASE WHEN y$j IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS np$j,
          CAST(COALESCE(SUM(CASE WHEN y$j IS NOT NULL THEN n END), 0) AS BIGINT) AS sx$j,
          CAST(COALESCE(SUM(y$j), 0) AS BIGINT) AS sy$j,
          CAST(COALESCE(SUM(n * y$j), 0) AS BIGINT) AS sxy$j,
          CAST(COALESCE(SUM(CASE WHEN y$j IS NOT NULL THEN n * n END), 0) AS BIGINT) AS sx2$j,
          CAST(COALESCE(SUM(y$j * y$j), 0) AS BIGINT) AS sy2$j"""
    }.mkString(",\n          ")
    val rows = (1 to L).map { j =>
      s"""SELECT k, $j AS "lag", np$j AS n_pairs,
            CASE WHEN (np$j * sx2$j - sx$j * sx$j) > 0
                  AND (np$j * sy2$j - sy$j * sy$j) > 0
              THEN ROUND(CAST(np$j * sxy$j - sx$j * sy$j AS DOUBLE) /
                SQRT(CAST(np$j * sx2$j - sx$j * sx$j AS DOUBLE) *
                     CAST(np$j * sy2$j - sy$j * sy$j AS DOUBLE)), 6)
              END AS acf
          FROM a"""
    }.mkString("\n          UNION ALL ")
    s"""WITH $dailySql,
         l AS (SELECT k, day_idx, n, $lags FROM d),
         a AS (SELECT k, $aggs FROM l GROUP BY k)
        SELECT * FROM ($rows) ORDER BY k, "lag""""
  }

  def oracles: Map[String, String] = Map(
    "q_funnel_window" -> funnelSql,
    "q_ewma_daily" -> ewmaSql,
    "q_acf_daily" -> acfSql)
}
