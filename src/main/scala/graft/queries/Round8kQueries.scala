package graft.queries

import graft.Tables
import graft.ops.{Behavior, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 11: published filter rule sets and experimentation
  * analytics — the Gopher quality-rule audit (Rae et al. 2021) and
  * CUPED variance-reduced A/B lift (Deng et al. 2013). Deterministic
  * end to end; every expression tree mirrored term-for-term by its
  * DuckDB oracle.
  */
object Round8kQueries extends QueryModule {

  /** Planted symbol junk so the Gopher symbol/alpha rules are
    * non-vacuous on this corpus (organic docs are pure lowercase
    * words): every 40th doc spawns a '#'-riddled variant.
    */
  private def gopherCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
    docs.unionByName(docs.filter(col("id") % 40 === 0)
      .select((col("id") + off).as("id"),
        lit("## fast ## ## table ## ## ## row ##").as("text"),
        col("source")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Gopher quality-rule audit ----
    "q_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(gopherCorpus(s, dir), "source", "text")
        .orderBy(col("source"))),

    // ---- CUPED-adjusted A/B lift ----
    "q_ab_cuped" -> ((s, dir) =>
      Behavior.cupedLift(Tables.load(s, dir, "events"),
        "user_id", "ts", "value", splitTs = "2024-01-16 00:00:00")))

  def oracles: Map[String, String] = Map(

    "q_gopher_rules" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source FROM documents
           UNION ALL
           SELECT doc_id + off, '## fast ## ## table ## ## ## row ##', source
           FROM documents CROSS JOIN o WHERE doc_id % 40 = 0),
         m AS (SELECT source, text,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
           FROM corpus),
         r AS (SELECT source,
             (LEN(toks) < 50 OR LEN(toks) > 100000) AS v_word_count,
             (CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS DOUBLE) /
                GREATEST(CAST(LEN(toks) AS DOUBLE), 1.0) < 3.0 OR
              CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS DOUBLE) /
                GREATEST(CAST(LEN(toks) AS DOUBLE), 1.0) > 10.0) AS v_word_len,
             ((CAST(LENGTH(text) - LENGTH(REPLACE(text, '#', '')) AS DOUBLE) +
               CAST(LENGTH(text) - LENGTH(REPLACE(text, '...', '')) AS DOUBLE) / 3.0 +
               CAST(LENGTH(text) - LENGTH(REPLACE(text, '…', '')) AS DOUBLE)) /
                GREATEST(CAST(LEN(toks) AS DOUBLE), 1.0) > 0.1) AS v_symbol,
             (CAST(LEN(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) /
                GREATEST(CAST(LEN(toks) AS DOUBLE), 1.0) < 0.8) AS v_alpha,
             (LEN(list_filter(toks, w -> list_contains(
               ['the','be','to','of','and','that','have','with'], w))) < 2) AS v_stop
           FROM m)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN v_word_count THEN 1 ELSE 0 END) AS BIGINT) AS n_word_count,
           CAST(SUM(CASE WHEN v_word_len THEN 1 ELSE 0 END) AS BIGINT) AS n_word_len,
           CAST(SUM(CASE WHEN v_symbol THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol,
           CAST(SUM(CASE WHEN v_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
           CAST(SUM(CASE WHEN v_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
           CAST(SUM(CASE WHEN NOT (v_word_count OR v_word_len OR v_symbol
             OR v_alpha OR v_stop) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM r GROUP BY 1 ORDER BY 1""",

    "q_ab_cuped" ->
      """WITH per AS (SELECT user_id AS u,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
               THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
               THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY 1),
         a AS (SELECT x, y,
             substr(md5('exp1:' || CAST(u AS VARCHAR)), 1, 1) < '8' AS t
           FROM per),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN t THEN x ELSE 0 END) AS BIGINT) AS sxt,
             CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS syt
           FROM a),
         e AS (SELECT n, nt, n - nt AS ncnt,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxn,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
               CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varyn,
             CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) AS xbt,
             CAST(sx - sxt AS DOUBLE) / CAST(n - nt AS DOUBLE) AS xbc,
             CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) AS ybt,
             CAST(sy - syt AS DOUBLE) / CAST(n - nt AS DOUBLE) AS ybc
           FROM g)
         SELECT n, nt AS n_treat, ncnt AS n_control,
           CASE WHEN nt > 0 AND ncnt > 0 THEN ROUND(ybt, 6) END AS y_mean_treat,
           CASE WHEN nt > 0 AND ncnt > 0 THEN ROUND(ybc, 6) END AS y_mean_control,
           CASE WHEN nt > 0 AND ncnt > 0 THEN ROUND(ybt - ybc, 6) END AS raw_lift,
           CASE WHEN varxn > 0 THEN ROUND(covn / varxn, 6) END AS theta,
           CASE WHEN nt > 0 AND ncnt > 0 AND varxn > 0
             THEN ROUND((ybt - ybc) - (covn / varxn) * (xbt - xbc), 6)
             END AS adj_lift,
           CASE WHEN varxn > 0 AND varyn > 0
             THEN ROUND(covn * covn / (varxn * varyn), 6) END AS rho2
         FROM e""")
}
