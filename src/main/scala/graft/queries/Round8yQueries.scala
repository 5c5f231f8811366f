package graft.queries

import graft.Tables
import graft.ops.Profile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 25: one-pass statistics over the fact table — the full
  * Pearson correlation matrix of lineitem's numeric columns and
  * order-to-ship latency percentiles per priority. Exact decimal sums
  * / R-7 percentiles; DuckDB-checked.
  */
object Round8yQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- one-pass correlation matrix ----
    "q_corr_matrix" -> ((s, dir) =>
      // loadSpread (r16): the 14 exact decimal(38,0) sums are CPU-bound
      // and the single-file driver testdata gives the scan 3 splits —
      // the spread prices the map-side parallelism real splits give for
      // free at scale; decimal sums commute, so the result is identical
      Profile.corrMatrix(Tables.loadSpread(s, dir, "lineitem", "l_orderkey"), Seq(
          "quantity" -> round(col("l_quantity") * 100).cast("long"),
          "extendedprice" -> round(col("l_extendedprice") * 100).cast("long"),
          "discount" -> round(col("l_discount") * 100).cast("long"),
          "tax" -> round(col("l_tax") * 100).cast("long")))
        .orderBy(col("col_a"), col("col_b"))),

    // ---- order-to-ship latency percentiles per priority ----
    "q_ship_latency" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("lat"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n"),
          min(col("lat")).as("min_days"), max(col("lat")).as("max_days"),
          round(percentile(col("lat"), lit(0.5)), 6).as("p50_days"),
          round(percentile(col("lat"), lit(0.9)), 6).as("p90_days"))
        .orderBy(col("priority"))
    }))

  def oracles: Map[String, String] = Map(

    "q_corr_matrix" -> {
      val cols = Seq(
        "quantity" -> "l_quantity", "extendedprice" -> "l_extendedprice",
        "discount" -> "l_discount", "tax" -> "l_tax")
      val cents = cols.map { case (nm, c) =>
        s"CAST(ROUND($c * 100) AS BIGINT) AS $nm" }.mkString(", ")
      val sums = cols.flatMap { case (nm, _) =>
        Seq(s"SUM($nm) AS s_$nm", s"SUM($nm * $nm) AS ss_$nm") } ++
        cols.map(_._1).combinations(2).map { case Seq(a, b) =>
          s"SUM($a * $b) AS sp_${a}_$b" }
      val rows = cols.map(_._1).combinations(2).map { case Seq(a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
           CASE WHEN CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) -
                  CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) -
                  CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE) > 0
             THEN ROUND((CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE) -
                 CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) /
               (sqrt(CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) -
                  CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) *
                sqrt(CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) -
                  CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))), 6)
             END AS corr FROM g""" }.mkString("\n         UNION ALL ")
      s"""WITH c AS (SELECT $cents FROM lineitem),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, ${sums.mkString(", ")}
           FROM c)
         $rows
         ORDER BY col_a, col_b"""
    },

    "q_ship_latency" ->
      """WITH j AS (SELECT o.o_orderpriority AS priority,
             datediff('day', CAST(o.o_orderdate AS DATE),
               CAST(l.l_shipdate AS DATE)) AS lat
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(lat) AS BIGINT) AS min_days,
           CAST(MAX(lat) AS BIGINT) AS max_days,
           ROUND(quantile_cont(lat, 0.5), 6) AS p50_days,
           ROUND(quantile_cont(lat, 0.9), 6) AS p90_days
         FROM j GROUP BY 1 ORDER BY priority""")
}
