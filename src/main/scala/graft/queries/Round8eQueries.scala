package graft.queries

import graft.Tables
import graft.ops.{Dedup, Profile, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 5: curation-analytics operators — per-doc n-gram
  * novelty (what a doc adds to the corpus), the dedup threshold
  * sensitivity sweep, T5-style span-corruption planning, content-
  * defined chunking for storage dedup, and the watermark-lateness
  * audit that sizes streaming state bounds. Every query is
  * deterministic and recomputed end to end by its DuckDB oracle.
  */
object Round8eQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- per-doc n-gram novelty ----
    "q_novelty" -> ((s, dir) => {
      // planted copies (every 25th doc, offset ids) must score novelty
      // 0 — every shingle's first occurrence is the original
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      val off = broadcast(docs.agg((max(col("id")) + 1L).as("_off")))
      val planted = docs.filter(col("id") % 25 === 0).crossJoin(off)
        .select((col("id") + col("_off")).as("id"), col("text"))
      Dedup.noveltyScores(docs.unionByName(planted), "id", "text", n = 3)
        .orderBy(col("id"))
    }),

    // ---- dedup threshold sensitivity sweep ----
    "q_dedup_sweep" -> ((s, dir) => {
      // planted exact copies (J = 1.0) survive every cut; organic
      // J≈0.9 boundary pairs populate the lower thresholds — one
      // verified-pairs run feeds the whole curve; the planted corpus's
      // shingle frame is staged shared state (DedupFixtures)
      Dedup.dedupSweepFromShingles(DedupFixtures.sweepShingles3(s, dir),
          thresholds = Seq(0.9, 0.95, 0.99, 1.0))
        .orderBy(col("threshold"))
    }),

    // ---- T5 span-corruption plan ----
    "q_mask_spans" -> ((s, dir) =>
      TextAnalysis.spanCorrupt(Tables.load(s, dir, "documents"),
          "doc_id", "text", stride = 8, spanLen = 3)
        .orderBy(col("id"))),

    // ---- content-defined chunking (storage dedup synopsis) ----
    "q_cdc_chunks" -> ((s, dir) =>
      // loadSpread (r16): rolling-hash chunking is per-doc CPU on a
      // one-split scan — was a 0.66 s single task
      Profile.cdcChunkStats(Tables.loadSpread(s, dir, "documents", "doc_id"),
        "doc_id", "text", modulus = 16)),

    // ---- watermark-lateness audit ----
    "q_stream_lateness" -> ((s, dir) =>
      // the synthetic feed arrives perfectly ordered, so late arrivals
      // are planted in-plan: every 10th event arrives 37 slots late
      graft.streaming.Streams.latenessProfile(
          Tables.load(s, dir, "events").withColumn("arrival",
            col("event_id") + when(col("event_id") % 10 === 0, 37L)
              .otherwise(0L)),
          "arrival", bucketSeconds = 600, maxBucket = 23,
          blockSize = 1000L)
        .orderBy(col("late_bucket")))
  )

  def oracles: Map[String, String] = Map(

    "q_novelty" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         v AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off, text FROM documents CROSS JOIN o
           WHERE doc_id % 25 = 0),
         toks AS (SELECT id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
                  FROM v),
         sh AS (
           SELECT id, UNNEST(list_filter(list_distinct(list_transform(
             range(1, GREATEST(LEN(t) - 3, 0) + 2),
             i -> array_to_string(t[i:i+2], ' '))), x -> LENGTH(x) > 0)) AS s
           FROM toks),
         f AS (SELECT s, MIN(id) AS first_id FROM sh GROUP BY s)
         SELECT id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN first_id = id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(CAST(SUM(CASE WHEN first_id = id THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS novelty
         FROM sh JOIN f USING (s) GROUP BY id ORDER BY id""",

    "q_dedup_sweep" ->
      // all-pairs exact Jaccard (the q_dedup_verified replay) over the
      // planted corpus, rolled up per threshold
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off, text FROM documents CROSS JOIN o
           WHERE doc_id % 20 = 0),
         toks AS (SELECT id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
                  FROM corpus),
         sh AS (
           SELECT id, UNNEST(list_filter(list_distinct(list_transform(
             range(1, GREATEST(LEN(t) - 3, 0) + 2),
             i -> array_to_string(t[i:i+2], ' '))), x -> LENGTH(x) > 0)) AS s
           FROM toks),
         sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         co AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
           GROUP BY 1, 2),
         pr AS (
           SELECT id_a, id_b, CAST(inter AS DOUBLE) /
             CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS j
           FROM co JOIN sizes sa ON id_a = sa.id
             JOIN sizes sb ON id_b = sb.id),
         t AS (SELECT UNNEST([0.9, 0.95, 0.99, 1.0]) AS threshold)
         SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_docs_dropped
         FROM pr CROSS JOIN t WHERE j >= threshold
         GROUP BY threshold ORDER BY threshold""",

    "q_mask_spans" ->
      """WITH d AS (
           SELECT doc_id AS id,
             list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
               x -> LENGTH(x) > 0) AS t,
             CAST(('0x' || substr(md5('mask:' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) % 8 AS off
           FROM documents),
         c AS (
           SELECT id, t, off, LEN(t) AS n,
             CASE WHEN LEN(t) > off THEN (LEN(t) - 1 - off) // 8 + 1
               ELSE 0 END AS n_spans
           FROM d),
         m AS (
           SELECT id, t, off, n, n_spans,
             CASE WHEN n_spans > 0 THEN (n_spans - 1) * 3 +
               LEAST(3, n - (off + (n_spans - 1) * 8)) ELSE 0 END AS masked
           FROM c)
         SELECT id, CAST(n AS BIGINT) AS n_tokens,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(masked AS BIGINT) AS masked_tokens,
           ROUND(CASE WHEN n > 0 THEN CAST(masked AS DOUBLE) / n
             ELSE 0.0 END, 6) AS corrupt_ratio,
           array_to_string(list_filter(list_transform(range(0, n), i ->
             CASE WHEN i - off >= 0 AND (i - off) % 8 < 3 THEN
               CASE WHEN (i - off) % 8 = 0 THEN
                 '<extra_id_' || CAST((i - off) // 8 AS VARCHAR) || '>'
               ELSE NULL END
             ELSE t[i + 1] END), x -> x IS NOT NULL), ' ') AS corrupted_text
         FROM m ORDER BY id""",

    "q_cdc_chunks" ->
      """WITH toks AS (
           SELECT doc_id AS id,
             list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
               x -> LENGTH(x) > 0) AS t
           FROM documents),
         pos AS (
           SELECT id, UNNEST(range(LEN(t))) AS p, UNNEST(t) AS tok
           FROM toks),
         b AS (
           SELECT id, p, tok,
             CASE WHEN CAST(('0x' || substr(md5('cdc:' || tok), 1, 15))
               AS BIGINT) % 16 = 0 THEN 1 ELSE 0 END AS bd
           FROM pos),
         ch AS (
           SELECT id, p, tok, COALESCE(SUM(bd) OVER (PARTITION BY id
             ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS chunk
           FROM b),
         agg AS (
           SELECT id, chunk, COUNT(*) AS n_toks,
             md5(string_agg(tok, ' ' ORDER BY p)) AS h,
             SUM(LENGTH(tok)) + COUNT(*) - 1 AS n_bytes
           FROM ch GROUP BY 1, 2),
         tot AS (SELECT COUNT(*) AS n_chunks, SUM(n_toks) AS n_tokens,
                 SUM(n_bytes) AS bytes_total FROM agg),
         u AS (SELECT COUNT(*) AS n_distinct_chunks,
                 SUM(n_bytes) AS bytes_unique
               FROM (SELECT h, ANY_VALUE(n_bytes) AS n_bytes
                     FROM agg GROUP BY h))
         SELECT CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(n_distinct_chunks AS BIGINT) AS n_distinct_chunks,
           CAST(n_chunks - n_distinct_chunks AS BIGINT) AS n_dup_chunks,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(bytes_total AS BIGINT) AS bytes_total,
           CAST(bytes_unique AS BIGINT) AS bytes_unique,
           ROUND(1.0 - CAST(bytes_unique AS DOUBLE) /
             CAST(bytes_total AS DOUBLE), 6) AS dedup_saving
         FROM tot CROSS JOIN u""",

    "q_stream_lateness" ->
      """WITH e AS (
           SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
             event_id + CASE WHEN event_id % 10 = 0 THEN 37 ELSE 0 END
               AS arr
           FROM events),
         r AS (
           SELECT event_id, tsu, MAX(tsu) OVER (ORDER BY arr, event_id
             ROWS UNBOUNDED PRECEDING) AS run
           FROM e),
         l AS (SELECT (run - tsu) // 1000000 AS late_s FROM r)
         SELECT LEAST(late_s // 600, 23) AS late_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s,
           CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late
         FROM l GROUP BY 1 ORDER BY late_bucket"""
  )
}
