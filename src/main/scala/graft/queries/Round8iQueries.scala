package graft.queries

import graft.Tables
import graft.ops.{Behavior, Profile, Sketches, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 9: frequency sketches and offline filter evaluation —
  * a count-min sketch materialized as a mergeable counter table (plus
  * its ground-truth audit), exact rank-based ROC-AUC of the quality
  * score against planted-junk ground truth, Cohen's kappa between two
  * filter policies, and the integer-exact time-decayed user value.
  * Every row is deterministic and recomputed end to end by its DuckDB
  * oracle.
  */
object Round8iQueries extends QueryModule {

  /** Planted junk for the filter-evaluation rows: every 23rd doc (23
    * is coprime to the 20-source cycle, so every source gets junk)
    * spawns a too-short, a punctuation, and a BORDERLINE variant
    * carrying the original's source. The borderline text scores
    * quality 0.6444 — inside the organic distribution (which spans
    * 0.50–0.89) — so the AUC is strictly < 1 and the ranking is a real
    * discrimination test, not a planted-ceiling tautology. Ground-truth
    * labels (organic = clean) are independent of the score under
    * evaluation.
    */
  private val borderlineText =
    "the item item item item item item item item item item item"

  private def withJunkLabels(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
    val seed = docs.filter(col("id") % 23 === 0)
    docs.withColumn("clean", lit(true))
      .unionByName(seed.select((col("id") + off).as("id"),
        lit("tiny doc").as("text"), col("source"), lit(false).as("clean")))
      .unionByName(seed.select((col("id") + 2 * off).as("id"),
        lit("!!! ??? *** %%% ((( ))) ;;; ::: === +++").as("text"),
        col("source"), lit(false).as("clean")))
      .unionByName(seed.select((col("id") + 3 * off).as("id"),
        lit(borderlineText).as("text"), col("source"), lit(false).as("clean")))
  }

  /** The q_quality_audit planted corpus (every 50th doc → too-short,
    * punctuation, repetition variants) — reused so the kappa row has
    * non-vacuous disagreement cells: the repetition docs are kept by
    * the three-rule policy but dropped by the four-rule one.
    */
  private def kappaCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
    val seed = docs.filter(col("id") % 50 === 0)
    docs
      .unionByName(seed.select((col("id") + off).as("id"),
        lit("tiny doc").as("text"), col("source")))
      .unionByName(seed.select((col("id") + 2 * off).as("id"),
        lit("!!! ??? *** %%% ((( ))) ;;; ::: === +++").as("text"),
        col("source")))
      .unionByName(seed.select((col("id") + 3 * off).as("id"),
        rtrim(repeat(lit("spark "), 30)).as("text"), col("source")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- count-min sketch table ----
    "q_countmin" -> ((s, dir) =>
      Sketches.countMin(Tables.load(s, dir, "events"), "user_id",
          depth = 4, widthHexChars = 2)
        .orderBy(col("d"), col("bucket"))),

    // ---- count-min point-estimate audit vs ground truth ----
    "q_countmin_audit" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val sketch = Sketches.countMin(ev, "user_id", depth = 4, widthHexChars = 2)
      Sketches.countMinAudit(sketch, ev, "user_id",
          topN = 20, depth = 4, widthHexChars = 2)
        .orderBy(col("true_cnt").desc, col("v"))
    }),

    // ---- exact ROC-AUC of the quality score vs planted ground truth ----
    "q_score_auc" -> ((s, dir) =>
      Profile.rocAuc(withJunkLabels(s, dir), col("source"),
          round(TextAnalysis.qualityScore(col("text")), 6), col("clean"))
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"))),

    // ---- Cohen's kappa between the 4-rule and 3-rule filter policies ----
    "q_kappa" -> ((s, dir) => {
      val q = TextAnalysis.qualityFilterReasons(kappaCorpus(s, dir), "text")
      Profile.raterAgreement(q, col("keep"),
        !(col("too_short") || col("too_long") || col("high_punct")))
    }),

    // ---- integer-exact time-decayed user value ----
    "q_decay_score" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val asOf = ev.agg(max(col("ts"))).head().getTimestamp(0)
      Behavior.decayedValue(ev, "user_id", "ts", "value", lit(asOf),
          halfLifeDays = 4, maxHalfLives = 8)
        .orderBy(col("user_id"))
    }))

  /** Shared oracle fragment: the count-min cell table over user ids
    * (depth 4, 2 hex chars → 256 buckets), as CTEs `vc` (value counts)
    * and `sk` (sketch cells).
    */
  private val cmsSql: String =
    """vc AS (SELECT CAST(user_id AS VARCHAR) AS v, COUNT(*) AS c
         FROM events GROUP BY 1),
       ds AS (SELECT UNNEST(range(0, 4)) AS d),
       sk AS (SELECT d, substr(md5(d || ':' || v), 1, 2) AS bucket,
           CAST(SUM(c) AS BIGINT) AS cnt
         FROM vc CROSS JOIN ds GROUP BY 1, 2)"""

  /** Shared oracle fragment: per-doc quality score (the
    * q_text_lang_quality expression tree, rounded to 6 dp) over a
    * corpus CTE named `corpus(id, text, source, y)`.
    */
  private val qualitySql: String =
    """m AS (SELECT source, y,
           string_split_regex(LOWER(TRIM(text)), '\s+') AS toks,
           CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
             GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct
         FROM corpus),
       sc AS (SELECT source, y,
           ROUND((LEAST(CAST(LEN(toks) AS DOUBLE) / 20.0, 1.0) +
             (1.0 - LEAST(punct * 4.0, 1.0)) +
             LEAST(CAST(LEN(list_filter(
               ['the','a','of','and','to','in','is','that','it','for'],
               w -> list_contains(toks, w))) AS DOUBLE) / 3.0, 1.0)) / 3.0, 6) AS s
         FROM m)"""

  def oracles: Map[String, String] = Map(

    "q_countmin" ->
      s"""WITH $cmsSql
         SELECT CAST(d AS INT) AS d, bucket, cnt FROM sk
         ORDER BY d, bucket""",

    "q_countmin_audit" ->
      s"""WITH $cmsSql,
         top AS (SELECT v, CAST(c AS BIGINT) AS true_cnt FROM vc
           ORDER BY c DESC, v LIMIT 20),
         probe AS (SELECT t.v, t.true_cnt, ds.d,
             substr(md5(ds.d || ':' || t.v), 1, 2) AS bucket
           FROM top t CROSS JOIN ds)
         SELECT p.v, p.true_cnt, MIN(sk.cnt) AS est_cnt,
           MIN(sk.cnt) - p.true_cnt AS overestimate
         FROM probe p JOIN sk ON p.d = sk.d AND p.bucket = sk.bucket
         GROUP BY p.v, p.true_cnt
         ORDER BY p.true_cnt DESC, p.v""",

    "q_score_auc" ->
      s"""WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source, TRUE AS y FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc', source, FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 23 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++',
             source, FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 23 = 0
           UNION ALL
           SELECT doc_id + 3 * off,
             'the item item item item item item item item item item item',
             source, FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 23 = 0),
         $qualitySql,
         bys AS (SELECT source, s,
             SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np,
             SUM(CASE WHEN y THEN 0 ELSE 1 END) AS nn
           FROM sc GROUP BY 1, 2),
         wr AS (SELECT source, np, nn,
             COALESCE(SUM(nn) OVER (PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nnb
           FROM bys)
         SELECT source, CAST(SUM(np + nn) AS BIGINT) AS n,
           CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
           CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
             THEN ROUND(CAST(SUM(np * (2 * nnb + nn)) AS DOUBLE) /
               (2.0 * SUM(np) * SUM(nn)), 6) END AS auc
         FROM wr GROUP BY 1 ORDER BY 1""",

    "q_kappa" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc'
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++'
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 3 * off, rtrim(repeat('spark ', 30))
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0),
         m AS (
           SELECT LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tok,
             CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct,
             list_filter(list_transform(
               range(1, GREATEST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) - 3, 0) + 2),
               i -> array_to_string((string_split_regex(LOWER(TRIM(text)), '\s+'))[i:i+2], ' ')),
               x -> LENGTH(x) > 0) AS s
           FROM corpus),
         r AS (
           SELECT NOT (n_tok < 10 OR n_tok > 5000 OR punct > 0.1 OR
               (CASE WHEN LEN(s) = 0 THEN 0.0
                 ELSE 1.0 - CAST(LEN(list_distinct(s)) AS DOUBLE) / CAST(LEN(s) AS DOUBLE) END)
                 > 0.2) AS a,
             NOT (n_tok < 10 OR n_tok > 5000 OR punct > 0.1) AS b
           FROM m),
         c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop
           FROM r)
         SELECT n, n_both_keep, n_a_only, n_b_only, n_both_drop,
           ROUND(CAST(n_both_keep + n_both_drop AS DOUBLE) / n, 6) AS p_o,
           ROUND((CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
               (CAST(n_both_keep + n_b_only AS DOUBLE) / n) +
             (1.0 - CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
               (1.0 - CAST(n_both_keep + n_b_only AS DOUBLE) / n), 6) AS p_e,
           CASE WHEN (CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
               (CAST(n_both_keep + n_b_only AS DOUBLE) / n) +
             (1.0 - CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
               (1.0 - CAST(n_both_keep + n_b_only AS DOUBLE) / n) < 1.0
             THEN ROUND((CAST(n_both_keep + n_both_drop AS DOUBLE) / n -
               ((CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
                 (CAST(n_both_keep + n_b_only AS DOUBLE) / n) +
               (1.0 - CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
                 (1.0 - CAST(n_both_keep + n_b_only AS DOUBLE) / n))) /
               (1.0 - ((CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
                 (CAST(n_both_keep + n_b_only AS DOUBLE) / n) +
               (1.0 - CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
                 (1.0 - CAST(n_both_keep + n_b_only AS DOUBLE) / n))), 6)
           END AS kappa
         FROM c""",

    "q_decay_score" ->
      """WITH mx AS (SELECT MAX(CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) AS a
           FROM events),
         e AS (SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(FLOOR(CAST(a - CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
               AS DOUBLE) / (86400 * 4)) AS BIGINT) AS b
           FROM events CROSS JOIN mx)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           CAST(SUM(cents * (CASE WHEN b >= 0 AND b < 8
             THEN CAST(POWER(2, 7 - b) AS BIGINT) ELSE 0 END)) AS DOUBLE) / 128.0
             AS decayed_cents
         FROM e GROUP BY 1 ORDER BY user_id""")
}
