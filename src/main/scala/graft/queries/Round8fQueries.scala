package graft.queries

import graft.Tables
import graft.ops.{Layout, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 6: planning and monitoring operators — range-partition
  * planning for sorted writes, embedding outlier detection over a
  * Lloyd run, per-source keep rates with Wilson confidence intervals,
  * and the streaming windowed quality monitor. Every query is
  * deterministic and recomputed end to end by its DuckDB oracle.
  */
object Round8fQueries extends QueryModule {

  /** The q_quality_audit planted-junk corpus: reused so the quality
    * rates these queries report are non-vacuous.
    */
  private def plantedQualityCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = broadcast(docs.agg((max(col("id")) + 1L).as("_off")))
    def plant(mul: Int, text: Column) =
      docs.filter(col("id") % 50 === 0).crossJoin(off)
        .select((col("id") + lit(mul) * col("_off")).as("id"),
          text.as("text"), col("source"))
    docs
      .unionByName(plant(1, lit("tiny doc")))
      .unionByName(plant(2, lit("!!! ??? *** %%% ((( ))) ;;; ::: === +++")))
      .unionByName(plant(3, rtrim(expr("repeat('spark ', 30)"))))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- range-partition planning ----
    "q_partition_plan" -> ((s, dir) =>
      Layout.rangePartitionPlan(Tables.load(s, dir, "orders"),
          "o_totalprice", parts = 8)
        .orderBy(col("part"))),

    // ---- embedding outliers over the Lloyd run ----
    "q_emb_outliers" -> ((s, dir) => {
      // the q_cluster_kmeans planted geometry with amplified jitter
      // (d = (id%5+1)/64): assignments are certain, the within-cluster
      // cosine spread (~1e-3) dwarfs float noise, so the below-mean
      // flag is engine-exact while still exercising the full generic
      // clustering machinery
      val K = 8
      val ids = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("id"))
      val g = col("id") % K
      val d = ((col("id") % 5) + 1).cast("double") / 64.0
      val v = array((0 until 64).map { dim =>
        when(g === dim, lit(1.0)).when(g === (dim - 8), d).otherwise(lit(0.0))
      }: _*)
      val init = (0 until K).map(gi =>
        Array.tabulate(64)(dd => if (dd == gi) 1.0 else 0.0)).toArray
      Similarity.clusterOutliers(ids.select(col("id"), v.as("v")),
          "id", "v", nClusters = K, lloydIters = 2, init = Some(init))
        .orderBy(col("id"))
    }),

    // ---- per-source keep rate with Wilson CI ----
    "q_quality_ci" -> ((s, dir) =>
      TextAnalysis.keepRateCi(plantedQualityCorpus(s, dir),
          "source", "text")
        .orderBy(col("source"))),

    // ---- streaming windowed quality monitor ----
    "q_stream_quality" -> ((s, dir) => {
      // synthesized event-time (one doc per minute from 2024-01-01)
      // with junk docs landing in the same windows as their source
      // docs; the aggregate is the proven watermark+window shape
      val docs = Tables.load(s, dir, "documents")
      val junk = docs.filter(col("doc_id") % 50 === 0)
        .withColumn("text", lit("tiny doc"))
      val flagged = TextAnalysis.qualityFilterReasons(
          docs.unionByName(junk), "text")
        .withColumn("ts",
          timestamp_seconds(lit(1704067200L) + col("doc_id") * 60L))
      graft.streaming.Streams.windowedKeepRate(
          flagged.select(col("ts"), col("keep")), "1 hour")
        .orderBy(col("window_start"))
    })
  )

  private val qualityRulesSql: String =
    """m AS (
         SELECT id, source,
           LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tok,
           CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
             GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct,
           list_filter(list_transform(
             range(1, GREATEST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) - 3, 0) + 2),
             i -> array_to_string((string_split_regex(LOWER(TRIM(text)), '\s+'))[i:i+2], ' ')),
             x -> LENGTH(x) > 0) AS s
         FROM corpus),
       r AS (
         SELECT id, source,
           NOT (n_tok < 10 OR n_tok > 5000 OR punct > 0.1 OR
             (CASE WHEN LEN(s) = 0 THEN 0.0
               ELSE 1.0 - CAST(LEN(list_distinct(s)) AS DOUBLE) / CAST(LEN(s) AS DOUBLE) END)
               > 0.2) AS keep
         FROM m)"""

  def oracles: Map[String, String] = Map(

    "q_partition_plan" ->
      """WITH b AS (
           SELECT quantile_disc(o_totalprice,
             [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bounds
           FROM orders)
         SELECT CAST(LEN(list_filter(bounds, x -> o_totalprice > x))
             AS INT) AS part,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS min_key, MAX(o_totalprice) AS max_key
         FROM orders CROSS JOIN b GROUP BY 1 ORDER BY part""",

    "q_emb_outliers" ->
      // analytic replay of the planted Lloyd run (the q_cluster_quality
      // derivation with the amplified /64 jitter) plus the below-mean
      // flag
      """WITH d AS (
           SELECT CAST(vec_id AS BIGINT) AS id,
             vec_id % 8 AS g,
             (vec_id % 5 + 1) / 64.0 AS dlt
           FROM embeddings),
         c AS (SELECT g, AVG(dlt) AS c2 FROM d GROUP BY g),
         m AS (
           SELECT id, CAST(d.g AS INTEGER) AS cid,
             (1.0 + dlt * c2) /
               (SQRT(1.0 + dlt * dlt) * SQRT(1.0 + c2 * c2)) AS cosr
           FROM d JOIN c ON d.g = c.g),
         mm AS (SELECT cid, AVG(cosr) AS mc FROM m GROUP BY cid)
         SELECT id, cid, ROUND(cosr, 6) AS cos,
           ROUND(mc, 6) AS cluster_mean,
           (cosr < mc) AS is_outlier
         FROM m JOIN mm USING (cid) ORDER BY id""",

    "q_quality_ci" ->
      s"""WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 3 * off, rtrim(repeat('spark ', 30)), source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0),
         $qualityRulesSql,
         agg AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
           FROM r GROUP BY 1),
         w AS (
           SELECT source, n, n_keep,
             CAST(n_keep AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             CAST(n AS DOUBLE) AS nd
           FROM agg)
         SELECT source, n, n_keep,
           ROUND(p, 6) AS keep_rate,
           ROUND((p + (1.96 * 1.96) / (2.0 * nd)) / (1.0 + (1.96 * 1.96) / nd)
             - (1.96 * SQRT(p * (1.0 - p) / nd +
                 (1.96 * 1.96) / (4.0 * nd * nd))) /
               (1.0 + (1.96 * 1.96) / nd), 6) AS ci_low,
           ROUND((p + (1.96 * 1.96) / (2.0 * nd)) / (1.0 + (1.96 * 1.96) / nd)
             + (1.96 * SQRT(p * (1.0 - p) / nd +
                 (1.96 * 1.96) / (4.0 * nd * nd))) /
               (1.0 + (1.96 * 1.96) / nd), 6) AS ci_high
         FROM w ORDER BY source""",

    "q_stream_quality" ->
      s"""WITH corpus AS (
           SELECT doc_id AS id, text, 's' AS source FROM documents
           UNION ALL
           SELECT doc_id, 'tiny doc', 's' FROM documents
           WHERE doc_id % 50 = 0),
         $qualityRulesSql,
         w AS (
           SELECT DATE_TRUNC('hour', TIMESTAMP '2024-01-01 00:00:00' +
             id * INTERVAL 1 MINUTE) AS window_start, keep
           FROM r)
         SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate
         FROM w GROUP BY 1 ORDER BY window_start"""
  )
}
