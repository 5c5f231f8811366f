package graft.queries

import graft.Tables
import graft.ops.{Dedup, Profile, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 7: corpus-release operators — the leakage-safe
  * train/test split (exact duplicates never straddle the boundary) and
  * its near-dup-cluster generalization with a quality-aware keep rule,
  * MOSS winnowing fingerprints plus the fingerprint match-pair join,
  * line-permutation-invariant dedup, k-anonymity/l-diversity
  * generalization for person-linked metadata, exact-quota stratified
  * sampling, and per-source tokenizer-fertility stats. Every query is
  * deterministic and recomputed end to end by its DuckDB oracle.
  */
object Round8gQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- leakage-safe split ----
    "q_split_leakage" -> ((s, dir) => {
      // planted exact duplicates (same text, new id) make the property
      // non-vacuous: a per-doc split would strand ~2·0.8·0.2 of the
      // pairs across the boundary; here both members provably carry
      // the representative's label
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      val off = broadcast(docs.agg((max(col("id")) + 1L).as("_off")))
      val copies = docs.filter(col("id") % 7 === 0).crossJoin(off)
        .select((col("id") + col("_off")).as("id"), col("text"))
      Dedup.leakageSafeSplit(docs.unionByName(copies), "id", "text", 80)
        .orderBy(col("id"))
    }),

    // ---- winnowing fingerprints (MOSS) ----
    "q_winnow" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val fps = TextAnalysis.winnowFingerprints(col("text"), k = 3, w = 4)
      docs.select(col("doc_id").as("id"), fps.as("_f"))
        .select(col("id"),
          size(col("_f")).cast("long").as("n_fps"),
          array_min(col("_f")).as("min_fp"),
          md5(array_join(col("_f"), ",")).as("fp_digest"))
        .orderBy(col("id"))
    }),

    // ---- line-permutation-invariant dedup ----
    "q_dedup_shuffled" -> ((s, dir) => {
      // the corpus is re-lined (10-token chunks joined with \n) and
      // copies with REVERSED line order are planted: byte-exact dedup
      // misses them, this op must group each with its source
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"),
          TextAnalysis.chunkTokens(col("text"), 10).as("_c"))
      val off = broadcast(docs.agg((max(col("id")) + 1L).as("_off")))
      val lined = docs
        .select(col("id"), array_join(col("_c"), "\n").as("text"))
      val shuffled = docs.filter(col("id") % 9 === 0).crossJoin(off)
        .select((col("id") + col("_off")).as("id"),
          array_join(reverse(col("_c")), "\n").as("text"))
      Dedup.permutationInvariantGroups(
          lined.unionByName(shuffled), "id", "text")
        // serialize the member list: the driver hash-compare is defined
        // on scalar columns
        .select(col("keep_id"), col("n_copies"),
          array_join(col("ids"), ",").as("ids"))
        .orderBy(col("keep_id"))
    }),

    // ---- k-anonymity / l-diversity release gate ----
    "q_k_anonymity" -> ((s, dir) => {
      // QI = (segment, nation); sensitive = coarse balance bucket.
      // Classes thinner than k=10 generalize to the '*' residual.
      val cust = Tables.load(s, dir, "customer")
        .withColumn("bal_bucket",
          floor(col("c_acctbal") / 2000).cast("long"))
      Profile.kAnonymityClasses(cust,
          Seq("c_mktsegment", "c_nationkey"), "bal_bucket", k = 10)
        .orderBy(col("c_mktsegment"), col("c_nationkey"))
    }),

    // ---- winnowing match pairs ----
    "q_winnow_pairs" -> ((s, dir) => {
      // planted prefix-edited copies (2 junk tokens + original text)
      // share every interior token run with their source: the winnow
      // guarantee forces shared fingerprints, so each planted pair MUST
      // appear — alongside any organic passage overlaps
      // the (id, fp) postings frame is staged shared state
      // (DedupFixtures): the timed work is the postings join, the MOSS
      // serving shape over a stored fingerprint index
      Dedup.winnowMatchPairsFromFps(DedupFixtures.winnowFps34(s, dir),
          minShared = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- near-dup-cluster release plan ----
    "q_dedup_plan" -> ((s, dir) =>
      // same pair parameters as q_dedup_cluster, so the oracle reuses
      // that query's proven recursive-CTE component derivation; the
      // PAIR table is staged shared state (DedupFixtures.docPairs02 —
      // the pairing job's written output, priced by q_dedup_ngram), so
      // the timed work is clustering + scoring + split assignment, the
      // release-plan serving shape (r13 verdict item 2)
      Dedup.dedupClusterPlanFromPairs(
          Tables.loadSpread(s, dir, "documents", "doc_id"),
          "doc_id", "text", DedupFixtures.docPairs02(s, dir),
          trainPct = 80)
        .orderBy(col("id"))),

    // ---- exact-quota per-stratum sample ----
    "q_sample_quota" -> ((s, dir) =>
      Sampling.quotaSample(Tables.load(s, dir, "documents"),
          "doc_id", "source", quota = 12)
        .select(col("doc_id"), col("source"), col("_quota_rk").as("rk"))
        .orderBy(col("source"), col("rk"))),

    // ---- tokenizer fertility per source ----
    "q_token_fertility" -> ((s, dir) =>
      // bpe-ish tokens per whitespace token and chars per bpe-ish
      // token: the tokenizer-cost profile that prices a source's
      // token budget before training. One map-combinable aggregate.
      Tables.load(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("ws_tokens"),
          sum(TextAnalysis.bpeishTokenCount(col("text"))).as("bpe_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .withColumn("fertility", round(
          col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"), 6))
        .withColumn("chars_per_token", round(
          col("n_chars").cast("double") / col("bpe_tokens").cast("double"), 6))
        .orderBy(col("source")))
  )

  def oracles: Map[String, String] = Map(

    "q_split_leakage" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         c AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off, text FROM documents CROSS JOIN o
           WHERE doc_id % 7 = 0),
         f AS (SELECT id,
             md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp
           FROM c),
         r AS (SELECT fp, MIN(id) AS rep_id FROM f GROUP BY fp)
         SELECT id, rep_id,
           CASE WHEN SUBSTR(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'cc'
             THEN 'train' ELSE 'test' END AS split
         FROM f JOIN r USING (fp) ORDER BY id""",

    "q_winnow" ->
      """WITH t AS (SELECT doc_id AS id,
             list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
               x -> LENGTH(x) > 0) AS tk
           FROM documents),
         g AS (SELECT id,
             list_transform(
               range(1, GREATEST(LEN(tk) - 2, LEAST(LEN(tk), 1)) + 1),
               i -> SUBSTR(md5(array_to_string(tk[i:i+2], ' ')), 1, 16)) AS h
           FROM t),
         m AS (SELECT id,
             list_sort(list_distinct(
               list_transform(
                 range(1, GREATEST(LEN(h) - 3, LEAST(LEN(h), 1)) + 1),
                 i -> list_min(h[i:i+3])))) AS fps
           FROM g)
         SELECT id, CAST(LEN(fps) AS BIGINT) AS n_fps, fps[1] AS min_fp,
           md5(array_to_string(fps, ',')) AS fp_digest
         FROM m ORDER BY id""",

    "q_dedup_shuffled" ->
      """WITH t AS (SELECT doc_id AS id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS tk
           FROM documents),
         ch AS (SELECT id,
             list_filter(list_transform(
               range(0, CAST(GREATEST(CEIL(LEN(tk) / 10.0), 1) AS BIGINT)),
               i -> array_to_string(tk[i*10+1:i*10+10], ' ')),
               c -> LENGTH(c) > 0) AS c
           FROM t),
         o AS (SELECT MAX(id) + 1 AS off FROM ch),
         corpus AS (
           SELECT id, c FROM ch
           UNION ALL
           SELECT id + off, list_reverse(c) FROM ch CROSS JOIN o
           WHERE id % 9 = 0),
         f AS (SELECT id,
             md5(array_to_string(
               list_sort(list_transform(c, x -> md5(x))), ',')) AS fp
           FROM corpus)
         SELECT MIN(id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies,
           array_to_string(list_sort(list(id)), ',') AS ids
         FROM f GROUP BY fp ORDER BY keep_id""",

    "q_k_anonymity" ->
      """WITH s AS (SELECT CAST(c_mktsegment AS VARCHAR) AS seg,
             CAST(c_nationkey AS VARCHAR) AS nat,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS sv
           FROM customer),
         z AS (SELECT seg, nat, COUNT(*) AS n FROM s GROUP BY 1, 2),
         g AS (SELECT
             CASE WHEN z.n < 10 THEN '*' ELSE s.seg END AS c_mktsegment,
             CASE WHEN z.n < 10 THEN '*' ELSE s.nat END AS c_nationkey,
             sv
           FROM s JOIN z USING (seg, nat))
         SELECT c_mktsegment, c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT sv) AS BIGINT) AS l_diversity,
           (c_mktsegment = '*') AS suppressed
         FROM g GROUP BY 1, 2 ORDER BY c_mktsegment, c_nationkey""",

    "q_winnow_pairs" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off, 'zz yy ' || text
           FROM documents CROSS JOIN o WHERE doc_id % 101 = 0),
         t AS (SELECT id,
             list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
               x -> LENGTH(x) > 0) AS tk
           FROM corpus),
         g AS (SELECT id,
             list_transform(
               range(1, GREATEST(LEN(tk) - 2, LEAST(LEN(tk), 1)) + 1),
               i -> SUBSTR(md5(array_to_string(tk[i:i+2], ' ')), 1, 16)) AS h
           FROM t),
         m AS (SELECT id,
             list_sort(list_distinct(
               list_transform(
                 range(1, GREATEST(LEN(h) - 3, LEAST(LEN(h), 1)) + 1),
                 i -> list_min(h[i:i+3])))) AS fps
           FROM g),
         f AS (SELECT id, UNNEST(fps) AS fp FROM m),
         hot AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) > 1000),
         cold AS (SELECT * FROM f WHERE fp NOT IN (SELECT fp FROM hot))
         SELECT a.id AS id_a, b.id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM cold a JOIN cold b ON a.fp = b.fp AND a.id < b.id
         GROUP BY 1, 2 HAVING COUNT(*) >= 2
         ORDER BY id_a, id_b""",

    "q_dedup_plan" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         sh0 AS (
           SELECT doc_id, UNNEST(list_distinct(list_transform(
             range(1, GREATEST(LEN(t) - 3, 0) + 2),
             i -> array_to_string(t[i:i+2], ' ')))) AS shingle
           FROM toks),
         hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 50),
         sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         co AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT ia, ib
           FROM co JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
           WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.2),
         edges AS (
           SELECT ia AS src, ib AS dst FROM pairs
           UNION SELECT ib, ia FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         cc AS (
           SELECT src AS id, LEAST(src, MIN(dst)) AS cluster_id
           FROM reach GROUP BY src),
         lab AS (
           SELECT d.doc_id AS id,
             COALESCE(cc.cluster_id, d.doc_id) AS rep_id,
             LEN(regexp_extract_all(d.text,
               '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS score
           FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
         best AS (
           SELECT rep_id, id AS keep_id FROM (
             SELECT rep_id, id, ROW_NUMBER() OVER (
               PARTITION BY rep_id ORDER BY score DESC, id) AS rk
             FROM lab) WHERE rk = 1)
         SELECT id, rep_id,
           CASE WHEN SUBSTR(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'cc'
             THEN 'train' ELSE 'test' END AS split,
           keep_id, (id = keep_id) AS is_kept
         FROM lab JOIN best USING (rep_id) ORDER BY id""",

    "q_sample_quota" ->
      """SELECT doc_id, source, rk FROM (
           SELECT doc_id, source, ROW_NUMBER() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 12 ORDER BY source, rk""",

    "q_token_fertility" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
             AS BIGINT) AS ws_tokens,
           CAST(SUM(LEN(regexp_extract_all(text,
             '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))) AS BIGINT) AS bpe_tokens,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(LEN(regexp_extract_all(text,
               '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))) AS DOUBLE) /
             CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
               AS DOUBLE), 6) AS fertility,
           ROUND(CAST(SUM(LENGTH(text)) AS DOUBLE) /
             CAST(SUM(LEN(regexp_extract_all(text,
               '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))) AS DOUBLE), 6)
             AS chars_per_token
         FROM documents GROUP BY source ORDER BY source"""
  )
}
