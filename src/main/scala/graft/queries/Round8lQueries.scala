package graft.queries

import graft.Tables
import graft.ops.{Behavior, Graphs, Profile, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 12: evaluation and behavior analytics — score
  * calibration (reliability diagram + ECE), market-basket association
  * rules, and Kaplan-Meier survival of user lifetimes. All three are
  * ratios/folds of exact integer counts, so the rounded doubles are
  * engine-exact and every row is DuckDB-checkable.
  */
object Round8lQueries extends QueryModule {

  /** The q_score_auc junk-labeling technique on its own modulus: every
    * 29th doc spawns three labeled-junk variants (too-short, pure
    * punctuation, borderline repetition) so the calibration bins hold
    * both classes at several score levels.
    */
  private def calibCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
    val seed = docs.filter(col("id") % 29 === 0)
    docs.withColumn("clean", lit(true))
      .unionByName(seed.select((col("id") + off).as("id"),
        lit("tiny doc").as("text"), col("source"), lit(false).as("clean")))
      .unionByName(seed.select((col("id") + 2 * off).as("id"),
        lit("!!! ??? *** %%% ((( ))) ;;; ::: === +++").as("text"),
        col("source"), lit(false).as("clean")))
      .unionByName(seed.select((col("id") + 3 * off).as("id"),
        lit("the item item item item item item item item item item item")
          .as("text"),
        col("source"), lit(false).as("clean")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- reliability diagram + expected calibration error ----
    "q_calibration" -> ((s, dir) =>
      Profile.calibration(calibCorpus(s, dir),
          round(TextAnalysis.qualityScore(col("text")), 6), col("clean"))
        .orderBy(col("bin"))),

    // ---- association rules from (user, hour) baskets ----
    // pair/count/total tables read as stored state (GraphFixtures);
    // the oracle still recomputes all three from events
    "q_assoc_rules" -> ((s, dir) =>
      Graphs.associationRulesFromPairs(GraphFixtures.hourCoclickPairs2(s, dir),
          GraphFixtures.hourItemCounts(s, dir),
          GraphFixtures.hourBasketTotal(s, dir))
        .orderBy(col("antecedent"), col("consequent"))),

    // ---- Kaplan-Meier survival of user lifetimes ----
    "q_survival_km" -> ((s, dir) =>
      Behavior.kaplanMeier(Tables.load(s, dir, "events"), "user_id", "ts",
          censorDays = 7)
        .orderBy(col("t"))))

  /** The Round8h basket CTEs (distinct (user, hour, item) with
    * oversized baskets dropped), restated for the rule oracle.
    */
  private val basketSql: String =
    """b AS (SELECT DISTINCT user_id AS u, DATE_TRUNC('hour', ts) AS h,
           CAST(json_extract(props, '$.k') AS BIGINT) AS item
         FROM events),
       ok AS (SELECT u, h FROM b GROUP BY u, h HAVING COUNT(*) <= 100),
       kept AS (SELECT b.* FROM b JOIN ok ON b.u = ok.u AND b.h = ok.h)"""

  def oracles: Map[String, String] = Map(

    "q_calibration" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, TRUE AS y FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc', FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 29 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++',
             FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 29 = 0
           UNION ALL
           SELECT doc_id + 3 * off,
             'the item item item item item item item item item item item',
             FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 29 = 0),
         m AS (SELECT y,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS toks,
             CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct
           FROM corpus),
         sc AS (SELECT y,
             ROUND((LEAST(CAST(LEN(toks) AS DOUBLE) / 20.0, 1.0) +
               (1.0 - LEAST(punct * 4.0, 1.0)) +
               LEAST(CAST(LEN(list_filter(
                 ['the','a','of','and','to','in','is','that','it','for'],
                 w -> list_contains(toks, w))) AS DOUBLE) / 3.0, 1.0)) / 3.0, 6) AS s
           FROM m),
         g AS (SELECT y, CAST(ROUND(s * 1000000) AS BIGINT) AS mi
           FROM sc),
         pb AS (SELECT LEAST(CAST(FLOOR(mi / 100000.0) AS BIGINT), 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(mi) AS BIGINT) AS sm
           FROM g GROUP BY 1),
         pb2 AS (SELECT bin, n_docs, n_pos, sm,
             ABS(sm - 1000000 * n_pos) AS gap_micro FROM pb),
         t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nt,
             CAST(SUM(gap_micro) AS BIGINT) AS gt FROM pb2)
         SELECT bin, n_docs, n_pos,
           ROUND(CAST(sm AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000.0, 6)
             AS mean_pred,
           ROUND(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS frac_pos,
           CAST(gap_micro AS BIGINT) AS gap_micro,
           ROUND(CAST(gt AS DOUBLE) / CAST(nt AS DOUBLE) / 1000000.0, 6) AS ece
         FROM pb2 CROSS JOIN t ORDER BY bin""",

    "q_assoc_rules" ->
      s"""WITH $basketSql,
         p AS (SELECT a.item AS ia, b2.item AS ib, COUNT(*) AS support
           FROM kept a JOIN kept b2
             ON a.u = b2.u AND a.h = b2.h AND a.item < b2.item
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         r AS (SELECT ia AS antecedent, ib AS consequent, support FROM p
           UNION ALL
           SELECT ib, ia, support FROM p),
         ic AS (SELECT item, COUNT(*) AS cnt FROM kept GROUP BY 1),
         t AS (SELECT COUNT(*) AS nb FROM (SELECT DISTINCT u, h FROM kept))
         SELECT r.antecedent, r.consequent,
           CAST(r.support AS BIGINT) AS support,
           CAST(ca.cnt AS BIGINT) AS n_ante, CAST(cb.cnt AS BIGINT) AS n_cons,
           ROUND(CAST(r.support AS DOUBLE) / CAST(ca.cnt AS DOUBLE), 6)
             AS confidence,
           ROUND(CAST(r.support AS DOUBLE) * CAST(t.nb AS DOUBLE) /
             (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)), 6) AS lift,
           ROUND(CAST(r.support AS DOUBLE) / CAST(t.nb AS DOUBLE) -
             CAST(ca.cnt AS DOUBLE) / CAST(t.nb AS DOUBLE) *
             (CAST(cb.cnt AS DOUBLE) / CAST(t.nb AS DOUBLE)), 6) AS leverage
         FROM r JOIN ic ca ON r.antecedent = ca.item
                JOIN ic cb ON r.consequent = cb.item
                CROSS JOIN t
         ORDER BY antecedent, consequent""",

    "q_survival_km" ->
      """WITH per AS (SELECT user_id AS u, MIN(CAST(ts AS DATE)) AS d0,
             MAX(CAST(ts AS DATE)) AS d1
           FROM events GROUP BY 1),
         e AS (SELECT MAX(CAST(ts AS DATE)) AS endd FROM events),
         lab AS (SELECT datediff('day', d0, d1) AS t,
             datediff('day', d1, endd) >= 7 AS churned
           FROM per CROSS JOIN e),
         tp AS (SELECT t,
             CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS n_churn,
             CAST(SUM(CASE WHEN NOT churned THEN 1 ELSE 0 END) AS BIGINT) AS n_cens
           FROM lab GROUP BY 1),
         rk AS (SELECT t, n_churn, n_cens,
             CAST(SUM(n_churn + n_cens) OVER (ORDER BY t DESC) AS BIGINT)
               AS n_risk
           FROM tp),
         f AS (SELECT t,
             CAST(1.0 AS DOUBLE) -
               CAST(n_churn AS DOUBLE) / CAST(n_risk AS DOUBLE) AS fct
           FROM rk),
         s AS (SELECT f1.t,
             ROUND(list_reduce(
               list_prepend(CAST(1.0 AS DOUBLE), list(f2.fct ORDER BY f2.t)),
               (a, b) -> a * b), 6) AS survival
           FROM f f1 JOIN f f2 ON f2.t <= f1.t GROUP BY f1.t)
         SELECT rk.t, rk.n_risk, rk.n_churn, rk.n_cens, s.survival
         FROM rk JOIN s ON rk.t = s.t ORDER BY rk.t""")
}
