package graft.queries

import graft.Tables
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 part 6: MMR diversity re-rank over ANN candidates. The
  * greedy selection is replayed in the oracle as k chained CTEs — the
  * SQL is generated by the same iteration loop the Spark operator
  * runs, and every selection compares BIGINT micro-quantized scores,
  * so the two engines take identical argmax branches.
  */
object Round10fQueries extends QueryModule {

  private val Probes = Seq(0L, 1L, 2L)
  private val CandCut = 24
  private val K = 5
  private val LambdaNum = 7
  private val LambdaDen = 10

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_mmr_rerank" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val probes = e.filter(col("vec_id").isin(Probes.map(Long.box): _*))
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val scored = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          Similarity.cosine(col("embedding"), col("pv")).as("rel"),
          col("embedding"))
      val wc = Window.partitionBy(col("probe_id"))
        .orderBy(round(col("rel") * 1e6).cast("long").desc, col("vec_id"))
      val cands = scored.withColumn("_rn", row_number().over(wc))
        .filter(col("_rn") <= CandCut).drop("_rn")
      Similarity.mmrRerank(cands, "probe_id", "vec_id", "rel", "embedding",
          k = K, lambdaNum = LambdaNum, lambdaDen = LambdaDen)
        .orderBy(col("probe_id"), col("pos"))
    }))

  private def mmrSql: String = {
    val div = LambdaDen - LambdaNum
    def simInt(a: String, b: String): String =
      s"CAST(ROUND(list_cosine_similarity($a, $b) * 1000000) AS BIGINT)"
    val iters = (2 to K).map { i =>
      s"""m$i AS (
            SELECT c.p, c.id, MAX(${simInt("c.v", "s.v")}) AS maxsim
            FROM cand c JOIN sel${i - 1} s ON s.p = c.p
            WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s2
              WHERE s2.p = c.p AND s2.id = c.id)
            GROUP BY c.p, c.id),
          p$i AS (
            SELECT p, id, srel, v, $i AS pos FROM (
              SELECT m.p, m.id, c.srel, c.v,
                ROW_NUMBER() OVER (PARTITION BY m.p
                  ORDER BY $LambdaNum * c.srel - $div * m.maxsim DESC, m.id)
                  AS rn
              FROM m$i m JOIN cand c ON c.p = m.p AND c.id = m.id)
            WHERE rn = 1),
          sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM p$i)"""
    }.mkString(",\n          ")
    s"""WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pr AS (SELECT vec_id AS p, v AS pv FROM e
           WHERE vec_id IN (${Probes.mkString(", ")})),
         scored AS (
           SELECT pr.p, e.vec_id AS id, ${simInt("e.v", "pr.pv")} AS srel,
             e.v
           FROM e JOIN pr ON e.vec_id <> pr.p),
         cand AS (SELECT p, id, srel, v FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY p
               ORDER BY srel DESC, id) AS rn
             FROM scored) WHERE rn <= $CandCut),
         p1 AS (SELECT p, id, srel, v, 1 AS pos FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY p
               ORDER BY srel DESC, id) AS rn
             FROM cand) WHERE rn = 1),
         sel1 AS (SELECT * FROM p1),
         $iters
        SELECT p AS probe_id, id AS vec_id, pos,
          ROUND(CAST(srel AS DOUBLE) / 1000000, 6) AS rel
        FROM sel$K ORDER BY probe_id, pos"""
  }

  def oracles: Map[String, String] = Map("q_mmr_rerank" -> mmrSql)
}
