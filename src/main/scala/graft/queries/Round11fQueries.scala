package graft.queries

import graft.Tables
import graft.ops.Urls
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 part 6: the rest of the web-corpus URL family —
  * robots-style allow/deny rule application (RFC 9309 longest-prefix
  * semantics over a broadcast rule table) and incremental
  * canonical-set maintenance (the daily-crawl path, same incremental ≡
  * rebuild contract as the dedup/fingerprint/entity increments: the
  * oracle IS the full-rebuild SQL).
  */
object Round11fQueries extends QueryModule {

  /** The shared synthetic crawl lives in [[Round11cQueries.syntheticUrls]]
    * — one generator for the whole URL family, so the q_url_increment
    * oracle (which IS Round11c's full-rebuild SQL) can never diverge
    * from the engine input.
    */
  private def syntheticUrls(s: SparkSession, dir: String): DataFrame =
    Round11cQueries.syntheticUrls(s, dir)

  /** Crawl-governance rules over the synthetic hosts: shop0 denies
    * /item but re-allows /item/1 (longest prefix flips the verdict for
    * item ids starting with 1); shop1 denies everything; shop2 carries
    * an exact-length allow/deny tie on /item (allow must win); other
    * hosts have no rules (REP default allow).
    */
  private def rules(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("shop0.example.com", "/item", false),
      ("shop0.example.com", "/item/1", true),
      ("shop1.example.com", "/", false),
      ("shop2.example.com", "/item", true),
      ("shop2.example.com", "/item", false)
    ).toDF("host", "prefix", "allow")
  }

  private def stored(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixture(s, dir, "url_canon_v1")(
      syntheticUrls(s, dir).filter(col("url_id") % 20 >= 2)
        .select(col("url_id"), Urls.canonical(col("url")).as("canonical"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_urls"), min(col("url_id")).as("keep_id")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_url_rules" -> ((s, dir) =>
      Urls.applyRules(syntheticUrls(s, dir), "url", rules(s))
        .groupBy(col("matched_prefix"), col("allowed"))
        .agg(count(lit(1)).as("n_urls"), min(col("url_id")).as("min_id"))
        .orderBy(col("matched_prefix").asc_nulls_first, col("allowed"))),

    // stored canonical set (urls with id%20 >= 2, i.e. source ids not
    // ≡ 0/1 (mod 10)... the batch is the url_id % 20 in {0, 1} slice =
    // both rows of every 10th source id — the daily crawl delta
    "q_url_increment" -> ((s, dir) =>
      Urls.maintainCanonicalSet(stored(s, dir),
          syntheticUrls(s, dir).filter(col("url_id") % 20 < 2),
          "url", "url_id")
        .orderBy(col("canonical").asc_nulls_first)))

  def oracles: Map[String, String] = Map(

    "q_url_rules" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS id FROM orders),
         u AS (
           SELECT id * 2 AS url_id, id,
             CASE WHEN id % 13 = 0 THEN NULL
               ELSE 'shop' || CAST(id % 7 AS VARCHAR) || '.example.com'
               END AS host,
             '/item/' || CAST(id AS VARCHAR) AS path
           FROM o
           UNION ALL
           SELECT id * 2 + 1, id,
             CASE WHEN id % 13 = 0 THEN NULL
               ELSE 'shop' || CAST(id % 7 AS VARCHAR) || '.example.com'
               END,
             '/item/' || CAST(id AS VARCHAR) || '/'
           FROM o),
         r AS (SELECT * FROM (VALUES
             ('shop0.example.com', '/item', FALSE),
             ('shop0.example.com', '/item/1', TRUE),
             ('shop1.example.com', '/', FALSE),
             ('shop2.example.com', '/item', TRUE),
             ('shop2.example.com', '/item', FALSE))
           AS t(host, prefix, allow)),
         m AS (
           SELECT u.url_id,
             (SELECT prefix FROM r
              WHERE r.host = u.host
                AND substr(u.path, 1, LENGTH(r.prefix)) = r.prefix
              ORDER BY LENGTH(prefix) DESC, allow DESC LIMIT 1)
               AS matched_prefix,
             COALESCE((SELECT allow FROM r
              WHERE r.host = u.host
                AND substr(u.path, 1, LENGTH(r.prefix)) = r.prefix
              ORDER BY LENGTH(prefix) DESC, allow DESC LIMIT 1), TRUE)
               AS allowed
           FROM u)
         SELECT matched_prefix, allowed,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(MIN(url_id) AS BIGINT) AS min_id
         FROM m GROUP BY 1, 2
         ORDER BY matched_prefix NULLS FIRST, allowed""",

    // incremental ≡ rebuild: the oracle is the full q_url_canonical SQL
    "q_url_increment" -> Round11cQueries.oracles("q_url_canonical"))
}
