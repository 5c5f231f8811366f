package graft.queries

import graft.Tables
import graft.ops.Urls
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 part 1 (r11 verdict item 8): IDN/punycode host folding as
  * a documented extension of [[Urls.canonical]]'s contract. The
  * generated URLs cycle six host SPELLINGS of three logical
  * authorities — Unicode, UPPERCASE Unicode, and the already-encoded
  * `xn--` ACE form all denote the same site — plus the usual canonical
  * noise (www, :443, tracking params, trailing slash). The oracle
  * predicts each canonical from the generation rule using the KNOWN
  * ACE constants (RFC 3492 forms verified against two independent
  * IDNA encoders), so the engine must actually COMPUTE the encoding:
  * a wrong fold, a missed case-fold, or a non-idempotent re-encoding
  * of an `xn--` host all break the hash check.
  */
object Round12aQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_url_idn" -> ((s, dir) => {
      val id = col("doc_id")
      val spellings = array(
        lit("münchen.de"), lit("MÜNCHEN.DE"), lit("xn--mnchen-3ya.de"),
        lit("日本.jp"), lit("bücher.example"), lit("plain.com"))
      val url = concat(
        lit("https://"),
        when(id % 2 === 0, lit("www.")).otherwise(lit("")),
        element_at(spellings, (id % 6 + 1).cast("int")),
        when(id % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), (id % 37).cast("string"),
        when(id % 5 === 0, lit("/")).otherwise(lit("")),
        when(id % 4 === 0, lit("?utm_source=a&z=9")).otherwise(lit("")))
      // loadSpread: the ~20-regex canonicalization stack (plus the
      // IDNA fold) is per-row CPU work that would serialize on the
      // single-file test table's one split (the q_url_canonical rule)
      Tables.loadSpread(s, dir, "documents", "doc_id")
        .select(id.as("url_id"), Urls.canonicalIdn(url).as("canonical"))
        .orderBy(col("url_id"))
    }))

  def oracles: Map[String, String] = Map(
    "q_url_idn" ->
      """SELECT doc_id AS url_id,
           'https://' ||
           CASE doc_id % 6
             WHEN 0 THEN 'xn--mnchen-3ya.de'
             WHEN 1 THEN 'xn--mnchen-3ya.de'
             WHEN 2 THEN 'xn--mnchen-3ya.de'
             WHEN 3 THEN 'xn--wgv71a.jp'
             WHEN 4 THEN 'xn--bcher-kva.example'
             ELSE 'plain.com' END ||
           '/p/' || CAST(doc_id % 37 AS VARCHAR) ||
           CASE WHEN doc_id % 4 = 0 THEN '?z=9' ELSE '' END AS canonical
         FROM documents ORDER BY url_id""")
}
