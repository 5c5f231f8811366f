package graft.queries

import graft.Tables
import graft.ops.Urls
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 part 3: URL canonicalization — the normalization pass a
  * web-corpus dedup keys on. The synthetic crawl emits, per order, a
  * clean URL and a cosmetic variant (uppercase scheme+host, www,
  * explicit default port, shuffled + tracking query params, trailing
  * slash, fragment); both must collapse onto ONE canonical key the
  * oracle predicts from the generation rule alone — any misread of
  * case, port, param order, or slash handling breaks the hash. Every
  * 13th order's rows are malformed non-URLs and must land in the NULL
  * bucket, not error.
  */
object Round11cQueries extends QueryModule {

  /** The synthetic crawl shared by the whole URL family (q_url_canonical
    * here; q_url_rules / q_url_increment in Round11f — ONE generator, so
    * the engine inputs and the shared full-rebuild oracle cannot drift
    * apart). Per order id: a clean URL and a cosmetic variant; every
    * 13th id's rows are malformed non-URLs. loadSpread: the ~20-regex
    * canonicalization downstream must not serialize into the single
    * task a one-file table otherwise yields (5 s → 1.2 s measured).
    */
  private[queries] def syntheticUrls(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.loadSpread(s, dir, "orders", "o_orderkey")
      .select(col("o_orderkey").cast("long").as("id"))
    val hostBase = concat(lit("shop"), (col("id") % 7).cast("string"),
      lit(".example.com"))
    val pathBase = concat(lit("/item/"), col("id").cast("string"))
    val base = concat(lit("https://"), hostBase, pathBase,
      when(col("id") % 3 === 0, lit("?a=1&b=2")).otherwise(lit("")))
    val variant = concat(lit("HTTPS://WWW."), upper(hostBase),
      lit(":443"), pathBase, lit("/"),
      when(col("id") % 3 === 0, lit("?utm_source=mail&b=2&a=1"))
        .otherwise(lit("?utm_source=mail")),
      lit("#frag"))
    val malformed = concat(lit("not a url "), col("id").cast("string"))
    o.select(explode(array(
        struct((col("id") * 2).as("url_id"),
          when(col("id") % 13 === 0, malformed).otherwise(base).as("url")),
        struct((col("id") * 2 + 1).as("url_id"),
          when(col("id") % 13 === 0, malformed).otherwise(variant)
            .as("url")))).as("_u"))
      .select(col("_u.url_id").as("url_id"), col("_u.url").as("url"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_url_canonical" -> ((s, dir) =>
      syntheticUrls(s, dir)
        .select(col("url_id"), Urls.canonical(col("url")).as("canonical"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_urls"), min(col("url_id")).as("keep_id"))
        .orderBy(col("canonical").asc_nulls_first)))

  def oracles: Map[String, String] = Map(
    "q_url_canonical" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS id FROM orders),
         good AS (
           SELECT 'https://shop' || CAST(id % 7 AS VARCHAR) ||
               '.example.com/item/' || CAST(id AS VARCHAR) ||
               CASE WHEN id % 3 = 0 THEN '?a=1&b=2' ELSE '' END
               AS canonical,
             CAST(2 AS BIGINT) AS n_urls,
             CAST(id * 2 AS BIGINT) AS keep_id
           FROM o WHERE id % 13 <> 0),
         bad AS (
           SELECT CAST(NULL AS VARCHAR) AS canonical,
             CAST(COUNT(*) * 2 AS BIGINT) AS n_urls,
             CAST(MIN(id) * 2 AS BIGINT) AS keep_id
           FROM o WHERE id % 13 = 0 HAVING COUNT(*) > 0)
         SELECT * FROM (SELECT * FROM good UNION ALL SELECT * FROM bad)
         ORDER BY canonical NULLS FIRST""")
}
