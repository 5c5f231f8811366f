package graft.queries

import graft.Tables
import graft.ingest.Ingest
import graft.ops.{Layout, Multimodal, Similarity, Sketches, Skew}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 4: scale-infrastructure operators — the layout,
  * planning, and runtime-filtering machinery a 100 TB lake needs
  * around the analytics themselves. Z-order multi-dim clustering,
  * dense id assignment without a global sort, Bloom runtime-filter
  * joins, join-cardinality planning synopses, JL random-projection
  * embedding compression, schema-evolution snapshot merges, media
  * payload dedup, and streaming distribution-drift monitoring. Every
  * query is deterministic and recomputed end to end by its DuckDB
  * oracle.
  */
object Round8dQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- JL random projection (embedding compression) ----
    "q_dim_reduce" -> ((s, dir) =>
      // 64 → 8 dims; the ±1 sign matrix is md5-derived so the oracle
      // rebuilds it and replays every dot product bit-exactly
      Similarity.randomProjection(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", outDims = 8)
        .orderBy(col("id"), col("out_dim"))),

    // ---- Z-order layout locality audit ----
    "q_zorder" -> ((s, dir) =>
      // orders clustered on (customer, order day): each of the 64
      // z-buckets must cover a narrow rectangle of both dimensions —
      // the property parquet min/max pruning exploits after a z-sorted
      // write. All-integer output.
      Layout.zorderStats(Tables.load(s, dir, "orders"),
          col("o_custkey") % 1024,
          datediff(col("o_orderdate"), lit("1995-01-01")) % 1024,
          bits = 10, bucketBits = 6)
        .orderBy(col("bucket"))),

    // ---- dense stable ids without a global sort ----
    "q_stable_ids" -> ((s, dir) =>
      Layout.assignStableIds(Tables.load(s, dir, "documents"), "doc_id")
        .orderBy(col("new_id"))),

    // ---- Bloom runtime-filter join ----
    "q_bloom_join" -> ((s, dir) => {
      // dim side = suppliers of one nation (selective); the Bloom
      // pre-filter cuts the lineitem shuffle to matching suppliers
      // before the join — the result is EXACTLY the plain join, which
      // is what the oracle runs
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
        .filter(col("s_nationkey") === 3)
      Skew.bloomPrunedJoin(li, "l_suppkey", sup, "s_suppkey")
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- join-size planning synopsis ----
    "q_join_cardinality" -> ((s, dir) =>
      // events×orders on user=customer is genuinely many-to-many; the
      // audit row carries the exact pair count (from two per-key
      // aggregates, no join materialized) and the O(buckets) upper
      // bound a stored synopsis would give
      Sketches.joinCardinalityAudit(
        Tables.load(s, dir, "events"), "user_id",
        Tables.load(s, dir, "orders"), "o_custkey", buckets = 256)),

    // ---- streaming distribution drift ----
    "q_stream_drift" -> ((s, dir) =>
      // counts stage is the proven stream-safe windowedCounts; drift is
      // sink-side. L1 numerators are integers, so the distances are
      // engine-exact
      graft.streaming.Streams.windowedDrift(
          Tables.load(s, dir, "events"), "1 hour")
        .orderBy(col("window_start"))),

    // ---- schema-evolution snapshot merge ----
    "q_schema_merge" -> ((s, dir) => {
      // v1 predates the lang column; v2 (shifted ids) added lang and a
      // derived quality column — merged BY NAME with null-fill and
      // per-row provenance
      val docs = Tables.load(s, dir, "documents")
      val off = broadcast(docs.agg((max(col("doc_id")) + 1L).as("_off")))
      val v1 = docs.select(col("doc_id"), col("text"), col("source"))
      val v2 = docs.crossJoin(off)
        .select((col("doc_id") + col("_off")).as("doc_id"), col("text"),
          col("source"), col("lang"), (col("n_chars") % 5).as("quality"))
      Ingest.mergeSnapshots(Seq("v1" -> v1, "v2" -> v2))
        .orderBy(col("_version"), col("doc_id"))
    }),

    // ---- media payload exact dedup ----
    "q_media_dedup" -> ((s, dir) => {
      // payloads synthesized in-plan with planted duplicates: the
      // bytes depend only on id % 50, so each of the 50 groups holds
      // ~n/50 binary-identical copies of varying lengths
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long").as("media_id"))
        .withColumn("payload", expr(
          "unhex(repeat(md5(cast(media_id % 50 as string)), " +
            "cast(media_id % 50 % 8 + 1 as int)))"))
      Multimodal.payloadDedup(media, "media_id", "payload")
        .orderBy(col("keep_id"))
    })
  )

  private val zTermsSql: String =
    (0 until 10).flatMap(b => Seq(
      s"(((x >> $b) & 1) << ${2 * b})",
      s"(((y >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")

  def oracles: Map[String, String] = Map(

    "q_dim_reduce" ->
      """WITH s AS (
           SELECT j, list(CASE WHEN CAST(('0x' || substr(
               md5('rp:42:' || j || ':' || i), 1, 1)) AS INT) % 2 = 0
             THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv
           FROM range(8) r1(j) CROSS JOIN range(64) r2(i) GROUP BY j)
         SELECT vec_id AS id, CAST(j AS BIGINT) AS out_dim,
           ROUND(list_dot_product(sv, CAST(embedding AS DOUBLE[])), 6) AS val
         FROM embeddings CROSS JOIN s ORDER BY id, out_dim""",

    "q_zorder" ->
      s"""WITH b AS (
           SELECT o_custkey % 1024 AS x,
             date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               % 1024 AS y
           FROM orders),
         z AS (SELECT x, y, $zTermsSql AS zv FROM b)
         SELECT CAST(zv >> 14 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y,
           MAX(x) - MIN(x) + 1 AS x_span, MAX(y) - MIN(y) + 1 AS y_span
         FROM z GROUP BY 1 ORDER BY bucket""",

    "q_stable_ids" ->
      """WITH h AS (
           SELECT doc_id AS id,
             CAST(('0x' || substr(md5('sid:' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS ord
           FROM documents)
         SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY ord, id) AS BIGINT) - 1
           AS new_id
         FROM h ORDER BY new_id""",

    "q_bloom_join" ->
      """SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_nationkey = 3
         GROUP BY s_suppkey ORDER BY s_suppkey""",

    "q_join_cardinality" ->
      """WITH ca AS (SELECT user_id AS k, COUNT(*) AS na
                     FROM events GROUP BY 1),
         cb AS (SELECT o_custkey AS k, COUNT(*) AS nb
                FROM orders GROUP BY 1),
         j AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_join_keys,
                 CAST(SUM(na * nb) AS BIGINT) AS exact_pairs
               FROM ca JOIN cb USING (k)),
         ba AS (SELECT CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))
                  AS BIGINT) % 256 AS bk, SUM(na) AS na
                FROM ca GROUP BY 1),
         bb AS (SELECT CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))
                  AS BIGINT) % 256 AS bk, SUM(nb) AS nb
                FROM cb GROUP BY 1),
         u AS (SELECT CAST(SUM(na * nb) AS BIGINT) AS bucket_upper
               FROM ba JOIN bb USING (bk))
         SELECT n_join_keys, exact_pairs, bucket_upper,
           ROUND(CAST(bucket_upper AS DOUBLE) / CAST(exact_pairs AS DOUBLE),
             6) AS overestimate
         FROM j CROSS JOIN u""",

    "q_stream_drift" ->
      """WITH c AS (
           SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         g AS (SELECT event_type, SUM(n) AS nt FROM c GROUP BY 1),
         wt AS (SELECT window_start, SUM(n) AS nw FROM c GROUP BY 1),
         tot AS (SELECT SUM(n) AS n_all FROM c),
         grid AS (SELECT window_start, event_type, nw, nt
                  FROM wt CROSS JOIN g),
         m AS (
           SELECT grid.window_start, grid.event_type, COALESCE(c.n, 0) AS n,
             nw, nt
           FROM grid LEFT JOIN c USING (window_start, event_type))
         SELECT window_start, CAST(nw AS BIGINT) AS n_events,
           ROUND(CAST(SUM(ABS(n * n_all - nt * nw)) AS DOUBLE) /
             CAST(nw * n_all AS DOUBLE), 6) AS l1,
           ROUND(MAX(CAST(ABS(n * n_all - nt * nw) AS DOUBLE) /
             CAST(nw * n_all AS DOUBLE)), 6) AS max_dev
         FROM m CROSS JOIN tot
         GROUP BY window_start, nw, n_all ORDER BY window_start""",

    "q_schema_merge" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents)
         SELECT doc_id, text, source, CAST(NULL AS VARCHAR) AS lang,
           CAST(NULL AS BIGINT) AS quality, 'v1' AS _version
         FROM documents
         UNION ALL
         SELECT doc_id + off, text, source, lang, n_chars % 5, 'v2'
         FROM documents CROSS JOIN o
         ORDER BY _version, doc_id""",

    "q_media_dedup" ->
      // the payload bytes depend only on g = id % 50 (hex string
      // repeat(md5(g), g%8+1)), so the oracle groups by g and derives
      // the byte length arithmetically: 16 md5 bytes × repeats
      """SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(16 * (g % 8 + 1) AS BIGINT) AS payload_bytes,
           CAST((COUNT(*) - 1) * 16 * (g % 8 + 1) AS BIGINT)
             AS reclaimed_bytes
         FROM (SELECT doc_id, doc_id % 50 AS g FROM documents)
         GROUP BY g ORDER BY keep_id"""
  )
}
