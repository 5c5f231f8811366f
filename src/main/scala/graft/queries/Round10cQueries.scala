package graft.queries

import graft.Tables
import graft.ops.MasterData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 part 3 (r9 verdict item 8): multi-change SCD2 merge — a
  * batch carrying several genuine successive changes per key emits the
  * full version chain, where [[MasterData.scd2Merge]]'s CDC-compacted
  * contract would keep only the latest. The fixture plants every
  * branch: two-change chains (every 10th key), an equal-eff tie
  * resolved by max attr (every 20th), a no-op first change equal to
  * the stored attr plus a consecutive-duplicate change (every 50th),
  * late arrivals (every 33rd), and unknown keys born through a
  * two-change chain (every 100th, offset keys). The oracle replays
  * the fold with GROUP BY + LAG/LEAD windows — drop-on-equality makes
  * the lag-collapse equivalent to the running-tail fold.
  */
object Round10cQueries extends QueryModule {

  private[queries] def multiUpdates(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
    val off = broadcast(cust.agg((max(col("c_custkey")) + 1L).as("_off")))
    val k = col("c_custkey").cast("long")
    cust.filter(k % 10 === 0).select(k.as("key"),
        when(k % 50 === 0, col("c_mktsegment")).otherwise(lit("M1"))
          .as("attr"), lit(1000L).as("eff"))
      .unionByName(cust.filter(k % 10 === 0)
        .select(k.as("key"), lit("M2").as("attr"), lit(2000L).as("eff")))
      .unionByName(cust.filter(k % 20 === 0)
        .select(k.as("key"), lit("ZZZ").as("attr"), lit(2000L).as("eff")))
      .unionByName(cust.filter(k % 50 === 0)
        .select(k.as("key"), lit("M1").as("attr"), lit(1500L).as("eff")))
      .unionByName(cust.filter(k % 33 === 0)
        .select(k.as("key"), lit("LATE").as("attr"), lit(0L).as("eff")))
      .unionByName(cust.filter(k % 100 === 0).crossJoin(off)
        .select((k + col("_off")).as("key"), lit("N1").as("attr"),
          lit(500L).as("eff")))
      .unionByName(cust.filter(k % 100 === 0).crossJoin(off)
        .select((k + col("_off")).as("key"), lit("N2").as("attr"),
          lit(1500L).as("eff")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scd2_multi" -> ((s, dir) =>
      MasterData.scd2MergeMulti(Round9bQueries.scd2Dim(s, dir),
          multiUpdates(s, dir))
        .orderBy(col("key"), col("valid_from"))))

  def oracles: Map[String, String] = Map(
    "q_scd2_multi" ->
      """WITH dim AS (SELECT CAST(c_custkey AS BIGINT) AS k,
             c_mktsegment AS attr FROM customer),
         o AS (SELECT MAX(k) + 1 AS off FROM dim),
         upd0 AS (
           SELECT k, CASE WHEN k % 50 = 0 THEN attr ELSE 'M1' END
             AS attr, CAST(1000 AS BIGINT) AS eff
           FROM dim WHERE k % 10 = 0
           UNION ALL
           SELECT k, 'M2', CAST(2000 AS BIGINT) FROM dim WHERE k % 10 = 0
           UNION ALL
           SELECT k, 'ZZZ', CAST(2000 AS BIGINT) FROM dim WHERE k % 20 = 0
           UNION ALL
           SELECT k, 'M1', CAST(1500 AS BIGINT) FROM dim WHERE k % 50 = 0
           UNION ALL
           SELECT k, 'LATE', CAST(0 AS BIGINT) FROM dim WHERE k % 33 = 0
           UNION ALL
           SELECT k + off, 'N1', CAST(500 AS BIGINT)
           FROM dim CROSS JOIN o WHERE k % 100 = 0
           UNION ALL
           SELECT k + off, 'N2', CAST(1500 AS BIGINT)
           FROM dim CROSS JOIN o WHERE k % 100 = 0),
         upd1 AS (
           SELECT k, eff, MAX(attr) AS attr FROM upd0 GROUP BY k, eff),
         seq AS (
           SELECT k, CAST(0 AS BIGINT) AS eff, attr FROM dim
           UNION ALL
           SELECT u.k, u.eff, u.attr FROM upd1 u LEFT JOIN dim d
             ON u.k = d.k
           WHERE d.k IS NULL OR u.eff > 0),
         collapsed AS (
           SELECT k, eff, attr FROM (
             SELECT k, eff, attr,
               LAG(attr) OVER (PARTITION BY k ORDER BY eff) AS prev
             FROM seq)
           WHERE prev IS NULL OR attr <> prev)
         SELECT k AS key, attr, eff AS valid_from,
           LEAD(eff) OVER (PARTITION BY k ORDER BY eff) AS valid_to,
           LEAD(eff) OVER (PARTITION BY k ORDER BY eff) IS NULL
             AS is_current
         FROM collapsed
         ORDER BY key, valid_from""")
}
