package graft.queries

import graft.Tables
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 22: streaming rate limiting — the (window, user)
  * watermarked aggregate with an in-plan threshold filter, the
  * online half of q_bot_flags. The planted 1-event-per-second bot
  * guarantees a flagged window; batch replay is the identical plan
  * the oracle recomputes.
  */
object Round8vQueries extends QueryModule {

  /** The q_bot_flags plant: one synthetic user firing 200 events at
    * one-second intervals inside the 2024-01-05 12:00 hour.
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

    "q_stream_ratelimit" -> ((s, dir) =>
      Streams.userRateFlags(withBot(s, dir), "1 hour", limit = 50L)
        .orderBy(col("window_start"), col("user_id"))))

  def oracles: Map[String, String] = Map(

    "q_stream_ratelimit" ->
      """WITH mx AS (SELECT MAX(user_id) + 1 AS bu FROM events),
         bot AS (SELECT mx.bu AS user_id,
             TIMESTAMP '2024-01-05 12:00:00' +
               UNNEST(range(0, 200)) * INTERVAL 1 SECOND AS ts
           FROM mx),
         c AS (SELECT user_id, ts FROM events
           UNION ALL SELECT user_id, ts FROM bot)
         SELECT DATE_TRUNC('hour', ts) AS window_start, user_id,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM c GROUP BY 1, 2 HAVING COUNT(*) > 50
         ORDER BY window_start, user_id""")
}
