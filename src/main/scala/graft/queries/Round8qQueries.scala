package graft.queries

import graft.Tables
import graft.ops.Classify
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 17: the classifier learning curve — held-out accuracy
  * at nested 25/50/75% train fractions over one fixed test set. The
  * whole curve is exact-integer evaluation of the engine-exact
  * centroid scorer, so DuckDB replays every point.
  */
object Round8qQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_learning_curve" -> ((s, dir) =>
      Classify.learningCurve(Tables.load(s, dir, "documents"),
          "doc_id", "source", "text")
        .orderBy(col("train_frac"))))

  /** One curve point: centroids from hex < '<t>', scored on the shared
    * fixed test CTEs.
    */
  private def pointSql(label: String, t: String): String = {
    val i = label
    s"""cen_$i AS (SELECT source AS s, w, CAST(SUM(c) AS BIGINT) AS sc
         FROM tw WHERE hex < '$t' GROUP BY 1, 2),
       sn_$i AS (SELECT s, CAST(SUM(sc * sc) AS BIGINT) AS n2
         FROM cen_$i GROUP BY 1),
       dot_$i AS (SELECT t2.id, c2.s, CAST(SUM(t2.c * c2.sc) AS BIGINT) AS dp
         FROM test t2 JOIN cen_$i c2 ON t2.w = c2.w GROUP BY 1, 2),
       sim_$i AS (SELECT dot_$i.id, dot_$i.s,
           CAST(dot_$i.dp AS DOUBLE) /
             (sqrt(CAST(dn.d2 AS DOUBLE)) * sqrt(CAST(sn_$i.n2 AS DOUBLE)))
             AS cs
         FROM dot_$i JOIN dn ON dot_$i.id = dn.id
                     JOIN sn_$i ON dot_$i.s = sn_$i.s),
       pred_$i AS (SELECT id, s AS pred_source FROM (
           SELECT id, s,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY cs DESC, s) AS rn
           FROM sim_$i) WHERE rn = 1),
       acc_$i AS (SELECT '$label' AS train_frac,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN p.pred_source IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_predicted,
           CAST(SUM(CASE WHEN p.pred_source IS NOT DISTINCT FROM lab.source
             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         FROM lab LEFT JOIN pred_$i p ON lab.id = p.id)"""
  }

  def oracles: Map[String, String] = Map(

    "q_learning_curve" -> {
      val points = Seq(("train25", "4"), ("train50", "8"), ("train75", "c"))
      val blocks = points.map { case (l, t) => pointSql(l, t) }.mkString(",\n")
      val union = points.map { case (l, _) =>
        s"SELECT * FROM acc_$l" }.mkString("\n         UNION ALL ")
      s"""WITH d AS (SELECT doc_id AS id, source, COALESCE(text, '') AS text,
             substr(md5('cls:' || CAST(doc_id AS VARCHAR)), 1, 1) AS hex
           FROM documents),
         tok AS (SELECT id, source, hex,
             UNNEST(string_split_regex(LOWER(TRIM(text)), '\\s+')) AS w
           FROM d),
         tw AS (SELECT id, source, hex, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok WHERE LENGTH(w) > 0 GROUP BY 1, 2, 3, 4),
         test AS (SELECT id, w, c FROM tw WHERE hex >= 'c'),
         dn AS (SELECT id, CAST(SUM(c * c) AS BIGINT) AS d2
           FROM test GROUP BY 1),
         lab AS (SELECT id, source FROM d WHERE hex >= 'c'),
         $blocks
         SELECT train_frac, n_test, n_predicted, n_correct,
           ROUND(CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
             AS accuracy,
           ROUND(CAST(n_predicted AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
             AS coverage
         FROM ($union)
         ORDER BY train_frac"""
    })
}
