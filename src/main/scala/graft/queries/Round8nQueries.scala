package graft.queries

import graft.Tables
import graft.ops.{Classify, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 14: supervised classification and encoding forensics —
  * a nearest-centroid source classifier whose held-out confusion
  * matrix is engine-exact (integer dot products, no log-prob float
  * folds), and the ftfy-style mojibake audit. Both DuckDB-checked
  * row for row.
  */
object Round8nQueries extends QueryModule {

  /** UTF-8-read-as-Latin-1 junk appended to every 35th doc: café,
    * a curly quote, an NBSP and a replacement char, all in their
    * double-decoded form — one hit per marker family.
    */
  private val mojiSfx =
    " caf\u00C3\u00A9 \u00E2\u20AC\u0153quote \u00C2\u00A0pad \uFFFD"

  private def mojiCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
    docs.unionByName(docs.filter(col("id") % 35 === 0)
      .select((col("id") + off).as("id"),
        concat(col("text"), lit(mojiSfx)).as("text"), col("source")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- held-out nearest-centroid source confusion matrix ----
    "q_classify_confusion" -> ((s, dir) =>
      // the centroid model table is staged write-once training state
      // (r13 verdict item 6 — train-once / score-many): the timed work
      // is tokenizing the held-out split, the dot-product join against
      // the stored model, and the confusion rollup. The oracle still
      // recomputes train AND score end to end from the base table.
      Classify.centroidConfusionFromCentroids(
          Tables.load(s, dir, "documents"), "doc_id", "source", "text",
          Tables.storedFixture(s, dir, "cls_centroids_v1")(
            Classify.trainCentroids(
              Tables.loadSpread(s, dir, "documents", "doc_id"),
              "doc_id", "source", "text")))
        .orderBy(col("true_source"), col("pred_source"))),

    // ---- per-source mojibake audit ----
    "q_mojibake" -> ((s, dir) =>
      TextAnalysis.mojibakeAudit(mojiCorpus(s, dir), "source", "text")
        .orderBy(col("source"))))

  def oracles: Map[String, String] = Map(

    "q_classify_confusion" ->
      """WITH d AS (SELECT doc_id AS id, source, COALESCE(text, '') AS text,
             substr(md5('cls:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
               AS is_train
           FROM documents),
         tok AS (SELECT id, source, is_train,
             UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w
           FROM d),
         tw AS (SELECT id, source, is_train, w,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM tok WHERE LENGTH(w) > 0 GROUP BY 1, 2, 3, 4),
         cen AS (SELECT source AS s, w, CAST(SUM(c) AS BIGINT) AS sc
           FROM tw WHERE is_train GROUP BY 1, 2),
         sn AS (SELECT s, CAST(SUM(sc * sc) AS BIGINT) AS n2
           FROM cen GROUP BY 1),
         test AS (SELECT id, w, c FROM tw WHERE NOT is_train),
         dn AS (SELECT id, CAST(SUM(c * c) AS BIGINT) AS d2
           FROM test GROUP BY 1),
         dot AS (SELECT t.id, c2.s, CAST(SUM(t.c * c2.sc) AS BIGINT) AS dp
           FROM test t JOIN cen c2 ON t.w = c2.w GROUP BY 1, 2),
         sim AS (SELECT dot.id, dot.s,
             CAST(dot.dp AS DOUBLE) /
               (sqrt(CAST(dn.d2 AS DOUBLE)) * sqrt(CAST(sn.n2 AS DOUBLE)))
               AS cs
           FROM dot JOIN dn ON dot.id = dn.id JOIN sn ON dot.s = sn.s),
         pred AS (SELECT id, s AS pred_source FROM (
             SELECT id, s,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY cs DESC, s) AS rn
             FROM sim) WHERE rn = 1),
         lab AS (SELECT id, source FROM d WHERE NOT is_train)
         SELECT lab.source AS true_source,
           COALESCE(p.pred_source, 'none') AS pred_source,
           CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM lab LEFT JOIN pred p ON lab.id = p.id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_mojibake" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         sfx AS (SELECT ' caf' || chr(195) || chr(169) || ' ' ||
             chr(226) || chr(8364) || chr(339) || 'quote ' ||
             chr(194) || chr(160) || 'pad ' || chr(65533) AS x),
         corpus AS (
           SELECT doc_id AS id, text, source FROM documents
           UNION ALL
           SELECT doc_id + off, text || x, source
           FROM documents CROSS JOIN o CROSS JOIN sfx
           WHERE doc_id % 35 = 0),
         m AS (SELECT source,
             CAST((LENGTH(text) -
               LENGTH(REPLACE(text, chr(195), ''))) / 1 AS BIGINT) +
             CAST((LENGTH(text) -
               LENGTH(REPLACE(text, chr(226) || chr(8364), ''))) / 2
               AS BIGINT) +
             CAST((LENGTH(text) -
               LENGTH(REPLACE(text, chr(194), ''))) / 1 AS BIGINT) +
             CAST((LENGTH(text) -
               LENGTH(REPLACE(text, chr(65533), ''))) / 1 AS BIGINT)
               AS marks
           FROM corpus)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN marks > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mojibake,
           CAST(SUM(marks) AS BIGINT) AS n_marks,
           ROUND(CAST(SUM(CASE WHEN marks > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS mojibake_rate
         FROM m GROUP BY 1 ORDER BY 1""")
}
