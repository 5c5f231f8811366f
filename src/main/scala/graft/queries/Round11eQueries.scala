package graft.queries

import graft.Tables
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 part 5: the streaming in-window value trend — the
  * [[graft.ops.TimeSeries.rollingTrend]] idea re-shaped for Structured
  * Streaming: the regression moments become ONE watermarked
  * map-combinable aggregate per (window, type), so the identical plan
  * serves readStream (StreamingSpec drives it over a file source) and
  * the batch oracle below.
  */
object Round11eQueries extends QueryModule {

  private val WindowSec = 21600L // 6 hours

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_stream_trend" -> ((s, dir) =>
      Streams.windowedTrend(Tables.load(s, dir, "events"), WindowSec)
        .orderBy(col("window_start"), col("event_type"))))

  def oracles: Map[String, String] = Map(
    "q_stream_trend" ->
      s"""WITH e AS (
           SELECT event_type,
             time_bucket(INTERVAL '$WindowSec seconds',
               CAST(ts AS TIMESTAMP)) AS window_start,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
               % $WindowSec AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
           FROM events),
         a AS (
           SELECT window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
           FROM e GROUP BY 1, 2)
         SELECT window_start, event_type, n,
           CASE WHEN n * sxx - sx * sx > 0
             THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
               CAST(n * sxx - sx * sx AS DOUBLE), 6)
             END AS slope_cents_per_sec,
           ROUND(CAST(sy AS DOUBLE) / CAST(n * 100 AS DOUBLE), 6)
             AS mean_value
         FROM a ORDER BY window_start, event_type""")
}
