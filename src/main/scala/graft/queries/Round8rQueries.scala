package graft.queries

import graft.Tables
import graft.ops.{Graphs, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 18: ANN operating-point and graph-density operators —
  * the IVF probe/recall sweep on planted-certain geometry (the curve
  * is ANALYTIC: 0.5 at one probe, 1.0 from two) and k-core peeling
  * over the co-click graph, fixed-round and replayed unrolled by
  * DuckDB.
  */
object Round8rQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- IVF probe/recall sweep on planted geometry ----
    "q_ivf_sweep" -> ((s, dir) => {
      // the q_cluster_kmeans planted frame: v(id) = e_g + δ·e_{8+g},
      // g = id%8, δ = (id%5+1)/1024 exact dyadic. Query e_0 + e_1 ties
      // cells 0 and 1 exactly (stable sort → probe order 0,1,2,…), and
      // the true top-10 is the 10 lowest-id δ=1/1024 vectors of groups
      // 0 and 1 — 5 per cell — so recall@10 is 0.5 at nProbe=1 and 1.0
      // from nProbe=2: the whole tradeoff curve is analytic, not
      // empirical, while the operator runs its full generic machinery.
      val K = 8
      val ids = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("id"))
      val g = col("id") % K
      val d = ((col("id") % 5) + 1).cast("double") / 1024.0
      val v = array((0 until 64).map { dim =>
        when(g === dim, lit(1.0)).when(g === (dim - 8), d).otherwise(lit(0.0))
      }: _*)
      val centroids = (0 until K).map(gi =>
        Array.tabulate(64)(dd => if (dd == gi) 1.0 else 0.0)).toArray
      val query = Array.tabulate(64)(dd => if (dd <= 1) 1.0 else 0.0)
      Similarity.ivfProbeSweep(ids.select(col("id"), v.as("v")),
          "id", "v", query, k = 10, centroids, probes = Seq(1, 2, 4, 8))
        .orderBy(col("n_probe"))
    }),

    // ---- k-core peeling over the co-click graph ----
    "q_kcore" -> ((s, dir) =>
      // day-grain baskets: the hour-grain graph is too sparse to hold
      // any 3-core below sf0.1, which would make the row vacuous at
      // the gate SF. Pair table read as stored state — GraphFixtures.
      Graphs.kCore(
          GraphFixtures.dayCoclickPairs2(s, dir)
            .select(col("item_a").as("src"), col("item_b").as("dst")),
          k = 3, rounds = 4)
        .orderBy(col("node"))))

  private val basketSql: String =
    """b AS (SELECT DISTINCT user_id AS u, DATE_TRUNC('day', ts) AS h,
           CAST(json_extract(props, '$.k') AS BIGINT) AS item
         FROM events),
       ok AS (SELECT u, h FROM b GROUP BY u, h HAVING COUNT(*) <= 100),
       kept AS (SELECT b.* FROM b JOIN ok ON b.u = ok.u AND b.h = ok.h)"""

  /** One k-core peeling round: degrees of e$i, keepers, and e${i+1}. */
  private def coreRound(i: Int, k: Int): String =
    s"""d${i + 1} AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
           SELECT src AS node FROM e$i UNION ALL SELECT dst FROM e$i)
         GROUP BY 1),
       k${i + 1} AS MATERIALIZED (SELECT node FROM d${i + 1} WHERE deg >= $k),
       e${i + 1} AS MATERIALIZED (SELECT e.* FROM e$i e
         JOIN k${i + 1} a ON e.src = a.node
         JOIN k${i + 1} b2 ON e.dst = b2.node)"""

  def oracles: Map[String, String] = Map(

    "q_ivf_sweep" ->
      """WITH d AS (SELECT CAST(vec_id AS BIGINT) AS id,
             vec_id % 8 AS g,
             (vec_id % 5 + 1) / 1024.0 AS dlt
           FROM embeddings),
         s AS (SELECT id, g,
             CASE WHEN g <= 1
               THEN 1.0 / (SQRT(1.0 + dlt * dlt) * SQRT(2.0))
               ELSE 0.0 END AS sim
           FROM d),
         t10 AS (SELECT id FROM s ORDER BY sim DESC, id LIMIT 10),
         probes AS (SELECT UNNEST([1, 2, 4, 8]) AS p),
         cand AS (SELECT p.p, s.id, s.sim FROM probes p JOIN s ON s.g < p.p),
         top AS (SELECT p, id FROM (
             SELECT p, id,
               ROW_NUMBER() OVER (PARTITION BY p ORDER BY sim DESC, id) AS rn
             FROM cand) WHERE rn <= 10),
         agg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_candidates
           FROM cand GROUP BY 1),
         hits AS (SELECT t.p, CAST(COUNT(*) AS BIGINT) AS n_hits
           FROM top t JOIN t10 ON t.id = t10.id GROUP BY 1)
         SELECT agg.p AS n_probe, agg.n_candidates, hits.n_hits,
           ROUND(CAST(hits.n_hits AS DOUBLE) / 10.0, 6) AS recall_at_10
         FROM agg JOIN hits ON agg.p = hits.p
         ORDER BY n_probe""",

    "q_kcore" -> {
      val rounds = (0 until 4).map(coreRound(_, 3)).mkString(",\n")
      s"""WITH $basketSql,
         p AS MATERIALIZED (SELECT a.item AS ia, b2.item AS ib
           FROM kept a JOIN kept b2
             ON a.u = b2.u AND a.h = b2.h AND a.item < b2.item
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         e0 AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM p),
         $rounds,
         fd AS (SELECT node, COUNT(*) AS deg FROM (
             SELECT src AS node FROM e4 UNION ALL SELECT dst FROM e4)
           GROUP BY 1),
         o AS (SELECT k4.node, COALESCE(fd.deg, 0) AS degree
           FROM k4 LEFT JOIN fd ON k4.node = fd.node),
         cv AS (SELECT SUM(CASE WHEN degree < 3 THEN 1 ELSE 0 END) = 0
             AS converged FROM o)
         SELECT o.node, CAST(o.degree AS BIGINT) AS degree, cv.converged
         FROM o CROSS JOIN cv ORDER BY o.node"""
    })
}
