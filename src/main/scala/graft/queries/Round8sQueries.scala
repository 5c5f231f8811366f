package graft.queries

import graft.Tables
import graft.ops.Graphs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 19: collaborative filtering and graph structure — the
  * item-based CF neighbor table (Sarwar et al., WWW'01) and degree
  * assortativity, both over the day-grain co-click graph and both
  * ratios of exact BIGINT counts mirrored term-for-term by DuckDB.
  */
object Round8sQueries extends QueryModule {

  private val itemOf =
    get_json_object(col("props"), "$.k").cast("long")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- item-item CF cosine neighbors ----
    // (pair + count tables read as stored state — GraphFixtures; the
    // oracle still recomputes baskets, pairs, and counts from events)
    "q_item_sim" -> ((s, dir) =>
      Graphs.itemSimilarityFromPairs(GraphFixtures.dayCoclickPairs2(s, dir),
          GraphFixtures.dayItemCounts(s, dir), topK = 5)
        .orderBy(col("item"), col("rank"))),

    // ---- degree assortativity of the co-click graph ----
    // (day-grain pair table read as stored state — GraphFixtures)
    "q_assortativity" -> ((s, dir) =>
      Graphs.degreeAssortativity(
        GraphFixtures.dayCoclickPairs2(s, dir)
          .select(col("item_a").as("src"), col("item_b").as("dst")))))

  private val basketSql: String =
    """b AS (SELECT DISTINCT user_id AS u, DATE_TRUNC('day', ts) AS h,
           CAST(json_extract(props, '$.k') AS BIGINT) AS item
         FROM events),
       ok AS (SELECT u, h FROM b GROUP BY u, h HAVING COUNT(*) <= 100),
       kept AS (SELECT b.* FROM b JOIN ok ON b.u = ok.u AND b.h = ok.h)"""

  def oracles: Map[String, String] = Map(

    "q_item_sim" ->
      s"""WITH $basketSql,
         p AS (SELECT a.item AS ia, b2.item AS ib, COUNT(*) AS support
           FROM kept a JOIN kept b2
             ON a.u = b2.u AND a.h = b2.h AND a.item < b2.item
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         cnt AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c
           FROM kept GROUP BY 1),
         bo AS (SELECT ia AS item, ib AS neighbor, support FROM p
           UNION ALL SELECT ib, ia, support FROM p),
         sim AS (SELECT b3.item, b3.neighbor,
             CAST(b3.support AS BIGINT) AS support,
             ca.c AS n_item, cb.c AS n_nbr,
             ROUND(CAST(b3.support AS DOUBLE) /
               (sqrt(CAST(ca.c AS DOUBLE)) * sqrt(CAST(cb.c AS DOUBLE))), 6)
               AS sim
           FROM bo b3 JOIN cnt ca ON b3.item = ca.item
                        JOIN cnt cb ON b3.neighbor = cb.item),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
             ORDER BY sim DESC, neighbor) AS rank
           FROM sim)
         SELECT item, neighbor, support, n_item, n_nbr, sim,
           CAST(rank AS INT) AS rank
         FROM rk WHERE rank <= 5 ORDER BY item, rank""",

    "q_assortativity" ->
      s"""WITH $basketSql,
         p AS (SELECT a.item AS ia, b2.item AS ib
           FROM kept a JOIN kept b2
             ON a.u = b2.u AND a.h = b2.h AND a.item < b2.item
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         e AS (SELECT ia AS src, ib AS dst FROM p),
         deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
             SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
           GROUP BY 1),
         dp AS (SELECT dx.deg AS x, dy.deg AS y FROM (
             SELECT src, dst FROM e
             UNION ALL SELECT dst, src FROM e) e2
           JOIN deg dx ON e2.src = dx.node
           JOIN deg dy ON e2.dst = dy.node),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
           FROM dp)
         SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) -
                  CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) -
                  CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
             THEN ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) -
                 CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
               (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) -
                  CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) -
                  CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             END AS assortativity
         FROM g""")
}
