package graft.queries

import graft.Tables
import graft.ops.{Joins, Pipelines, Sketches}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composed operators: the end-to-end corpus-prep pipeline and sketch
  * aggregates. The pipeline is oracle-checked END TO END (r6 verdict
  * item 2): near-dedup drops on exact Jaccard over LSH candidates, so
  * every stage is a deterministic function DuckDB recomputes; a
  * planted corpus makes every stage non-vacuous. The sketch query
  * ships a bounded-error oracle — DuckDB recomputes the exact counts
  * and the within-bound boolean.
  */
object CompositionQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_corpus" -> ((s, dir) => {
      // planted end-to-end oracle: three planted families, each dying
      // at a different stage, analytically —
      //  (1) exact copies of every 10th doc at id+off: same canonical
      //      fingerprint, larger id → die at the exact-dedup stage;
      //  (2) a periodic "repetitious" pair per 20th doc ("p{id} q{id}"
      //      repeated 8× at 2·off+id and 9× at 3·off+id): different
      //      fingerprints but IDENTICAL distinct 3-gram shingle sets,
      //      so the minhash signatures are equal (every band matches —
      //      candidate with certainty) and the true Jaccard is exactly
      //      1.0 → the larger id dies at the near-dedup stage;
      //  (3) a punctuation-junk doc per 20th doc ("!!!!!!!! z{id}"):
      //      quality ≈ 0.03 → dies at the quality gate.
      // With verification = exact Jaccard at θ=0.9, the organic drop
      // set is the exact ≥0.9 distinct-3-gram-Jaccard pair set over
      // the survivors — DuckDB computes the identical set (an organic
      // qualifying pair escapes candidacy only if all 16 bands miss:
      // P ≤ (1−0.9⁴)¹⁶ ≈ 4e-8 per pair; fixed seeds make the outcome
      // deterministic, and it is verified at all three SFs).
      val docs = Tables.loadSpread(s, dir, "documents", "doc_id")
        .select(col("doc_id"), col("text"))
      // off comes from the PLAIN scan (r17): the max aggregate needs no
      // parallel per-row work, so paying the loadSpread exchange (the
      // full text payload shuffled) just to compute one max was waste
      val off = Tables.load(s, dir, "documents")
        .agg(max(col("doc_id"))).head().getAs[Number](0).longValue + 1L
      val pat = concat(lit("p"), col("doc_id").cast("string"),
        lit(" q"), col("doc_id").cast("string"), lit(" "))
      val planted = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + off).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2 * off).as("doc_id"),
            rtrim(repeat(pat, 8)).as("text")))
        .unionByName(docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 3 * off).as("doc_id"),
            rtrim(repeat(pat, 9)).as("text")))
        .unionByName(docs.filter(col("doc_id") % 20 === 10)
          .select((col("doc_id") + 4 * off).as("doc_id"),
            concat(lit("!!!!!!!! z"), col("doc_id").cast("string")).as("text")))
      Pipelines.prepareCorpus(docs.unionByName(planted), "doc_id", "text",
          Pipelines.CorpusConfig(minQuality = 0.3, nearDupThreshold = 0.9))
        .select(col("doc_id"), col("lang_pred"), round(col("quality"), 4).as("quality"),
          col("n_tokens"), col("n_bpeish_tokens"))
        .orderBy(col("doc_id"))
    }),
    "q_sketch_distinct" -> ((s, dir) => {
      // bounded-error form (r5 verdict item 8): the HLL++ estimate is
      // approximate by design, but the within-5% claim is exact and
      // DuckDB recomputes it — a sketch regression breaks the hash.
      // rsd 0.02 against a 5% audit band: the sketch's one-sigma error
      // is 2%, so the 2.5-sigma claim holds with margin at every SF
      // (the default 5% rsd missed the band in one sf0.01 group).
      Sketches.approxDistinctAudit(
          Tables.load(s, dir, "orders"), "o_orderpriority", "o_custkey",
          rsd = 0.02, relErr = 0.05)
        .orderBy(col("o_orderpriority"))
    }),
    "q_asof_join" -> ((s, dir) => {
      // each purchase gets the user's most recent prior error event;
      // single shuffle on user_id (window composition), verified against
      // DuckDB's native ASOF JOIN.
      val events = Tables.load(s, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val errors = events.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"), col("user_id"))
      Joins.asofJoinBackward(purchases, errors, "user_id", "ts", Seq("event_id"))
        .orderBy(col("event_id"))
    }),
    "q_range_join" -> ((s, dir) => {
      // orders priced within ±500 of each part's retail price; binned
      // equi-join instead of an O(n·m) nested loop.
      val parts = Tables.load(s, dir, "part")
        .select(col("p_partkey"), (col("p_retailprice") - 500).as("lo"),
          (col("p_retailprice") + 500).as("hi"))
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      Joins.pointInRangeJoin(orders, parts, "o_totalprice", "lo", "hi", binWidth = 1000)
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("p_partkey"))
    })
  )

  def oracles: Map[String, String] = Map(
    // full pipeline mirror: planting → quality/lang expressions (the
    // q_text_lang_quality trees) → fingerprint keep-min → exact
    // distinct-3-gram Jaccard ≥ 0.9 drop-larger (the q_dedup_ngram
    // machinery, uncapped) → stats. Engine shingles are 64-bit hashes;
    // parity rests on the same injectivity argument as q_dedup_ngram.
    "q_pipeline_corpus" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + off, text FROM documents CROSS JOIN o WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2 * off,
             rtrim(repeat('p' || CAST(doc_id AS VARCHAR) || ' q' || CAST(doc_id AS VARCHAR) || ' ', 8))
           FROM documents CROSS JOIN o WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 3 * off,
             rtrim(repeat('p' || CAST(doc_id AS VARCHAR) || ' q' || CAST(doc_id AS VARCHAR) || ' ', 9))
           FROM documents CROSS JOIN o WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 4 * off, '!!!!!!!! z' || CAST(doc_id AS VARCHAR)
           FROM documents CROSS JOIN o WHERE doc_id % 20 = 10),
         d AS (SELECT doc_id, text,
                 string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
               FROM corpus),
         m AS (
           SELECT doc_id, text, toks,
             LEN(list_filter(['the','a','of','and','to','in','is','that','it','for'],
               w -> list_contains(toks, w))) AS en_n,
             LEN(list_filter(['der','die','das','und','ist','nicht','ein','eine','zu','mit'],
               w -> list_contains(toks, w))) AS de_n,
             LEN(list_filter(['le','la','les','et','est','une','un','pas','pour','dans'],
               w -> list_contains(toks, w))) AS fr_n,
             LEN(list_filter(['el','los','las','y','es','una','uno','no','por','para'],
               w -> list_contains(toks, w))) AS es_n,
             CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct
           FROM d),
         g AS (
           SELECT doc_id, text, toks,
             (LEAST(CAST(LEN(toks) AS DOUBLE) / 20.0, 1.0) +
              (1.0 - LEAST(punct * 4.0, 1.0)) +
              LEAST(CAST(en_n AS DOUBLE) / 3.0, 1.0)) / 3.0 AS quality,
             CASE WHEN de_n = GREATEST(de_n, en_n, es_n, fr_n) AND de_n > 0 THEN 'de'
                  WHEN en_n = GREATEST(de_n, en_n, es_n, fr_n) AND en_n > 0 THEN 'en'
                  WHEN es_n = GREATEST(de_n, en_n, es_n, fr_n) AND es_n > 0 THEN 'es'
                  WHEN fr_n = GREATEST(de_n, en_n, es_n, fr_n) AND fr_n > 0 THEN 'fr'
                  ELSE 'und' END AS lang_pred
           FROM m),
         gated AS (SELECT * FROM g WHERE quality >= 0.3),
         keep AS (
           SELECT *, MIN(doc_id) OVER (PARTITION BY
             md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))))) AS keep_id
           FROM gated),
         surv AS (SELECT * FROM keep WHERE doc_id = keep_id),
         sh AS (
           SELECT doc_id, UNNEST(list_distinct(list_transform(
             range(1, GREATEST(LEN(toks) - 3, 0) + 2),
             i -> array_to_string(toks[i:i+2], ' ')))) AS s
           FROM surv),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         pairs AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         drops AS (
           SELECT DISTINCT ib AS doc_id
           FROM pairs JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
           WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.9)
         SELECT doc_id, lang_pred, ROUND(quality, 4) AS quality,
           CAST(LEN(toks) AS BIGINT) AS n_tokens,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT)
             AS n_bpeish_tokens
         FROM surv
         WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         ORDER BY doc_id""",
    "q_sketch_distinct" ->
      """SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_distinct,
           COUNT(*) AS n, TRUE AS within_rel_err
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_asof_join" ->
      """SELECT l.event_id, l.ts, l.user_id, l.value, r.event_id AS asof_event_id
         FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
               FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
               FROM events WHERE event_type = 'error') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "q_range_join" ->
      """SELECT p_partkey, COUNT(*) AS n_orders
         FROM part JOIN orders
           ON o_totalprice >= p_retailprice - 500 AND o_totalprice <= p_retailprice + 500
         GROUP BY p_partkey ORDER BY p_partkey"""
  )
}
