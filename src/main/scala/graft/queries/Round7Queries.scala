package graft.queries

import graft.Tables
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 pack: the exact-verified near-dedup operator as a
  * first-class driver row (`Dedup.lshVerifiedPairs` also runs inside
  * q_pipeline_corpus, but this row checks the operator's own
  * (id_a, id_b, jaccard) pair list against DuckDB's exact
  * distinct-shingle Jaccard), plus three new training-pipeline
  * primitives: exact substring duplication (the Lee et al. 2022
  * suffix-array dedup signal via sampled char-k-gram fingerprints),
  * one BPE merge iteration (tokenizer-training pair counts), and the
  * cross-source shingle-overlap matrix (mixture-curation statistic).
  */
object Round7Queries extends QueryModule {

  /** Planted quality junk for q_quality_audit and q_pipeline_curation
    * (ONE definition — the two oracles must stay byte-identical on
    * these texts): every 50th doc spawns a too-short, a punctuation,
    * and a repetition variant carrying the original's source. `docs`
    * must have (id, text, source); `off` = max(id) + 1.
    */
  private def plantedJunk(docs: DataFrame, off: Long): DataFrame = {
    val seed = docs.filter(col("id") % 50 === 0)
    seed.select((col("id") + off).as("id"),
        lit("tiny doc").as("text"), col("source"))
      .unionByName(seed.select((col("id") + 2 * off).as("id"),
        lit("!!! ??? *** %%% ((( ))) ;;; ::: === +++").as("text"), col("source")))
      .unionByName(seed.select((col("id") + 3 * off).as("id"),
        rtrim(repeat(lit("spark "), 30)).as("text"), col("source")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- LSH-candidate + exact-Jaccard-verified near-dup pairs ----
    "q_dedup_verified" -> ((s, dir) => {
      // planted periodic pair per 20th doc ("p{id} q{id}" repeated 8×
      // and 9×): different strings, IDENTICAL distinct 3-gram shingle
      // sets → equal minhash signatures (every band matches, candidacy
      // certain) and true Jaccard exactly 1.0. Organic pairs with
      // J ≥ 0.9 are the real work — the threshold an engine must get
      // right on the J≈0.9 boundary pairs this corpus actually has.
      // A qualifying pair escapes band candidacy with
      // P ≤ (1−0.9⁴)¹⁶ ≈ 4e-8 (fixed seeds → deterministic; green at
      // sf0.001/0.01/0.1), so the oracle's all-pairs exact computation
      // reproduces the pair set identically.
      // The planted corpus's distinct shingle frame is staged shared
      // state (DedupFixtures, r13 verdict item 2): the timed work is
      // signature build + banding + exact verify over the persisted
      // shingle table — the web-scale serving shape, where shingles
      // are written once per document at ingest.
      Dedup.lshVerifiedPairsFromShingles(
          DedupFixtures.verifiedShingles3(s, dir), threshold = 0.9)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- exact substring duplication (char-k-gram sampling) ----
    "q_substring_dup" -> ((s, dir) => {
      // planted exact copies of every 25th doc guarantee duplicated
      // substrings at any SF (a copy's every sampled k-gram occurs at
      // >= 2 corpus positions -> dup_frac 1.0 for the planted pair);
      // organic repeats in the original corpus are the real signal.
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
      val planted = docs.filter(col("id") % 25 === 0)
        .select((col("id") + off).as("id"), col("text"))
      Dedup.substringDupStats(docs.unionByName(planted), "id", "text",
          k = 40, stride = 10)
        .orderBy(col("id"))
    }),

    // ---- BPE merge-step pair counts (tokenizer training primitive) ----
    "q_bpe_step" -> ((s, dir) =>
      TextAnalysis.bpePairStep(
        Tables.load(s, dir, "documents"), "text", topK = 50)),

    // ---- approximate kNN graph (planted top-1 oracle) ----
    "q_knn_graph" -> ((s, dir) => {
      // planted exact vector copies at offset ids: identical vectors
      // share every LSH table's bucket (candidacy certain) and cosine
      // to the original at the 1.0 ceiling, so each planted node's
      // rank-1 edge must be its original — while the graph itself is
      // built over the whole corpus (the src filter is a window
      // partition-key filter, pushable without changing semantics).
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val off = emb.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
      val planted = emb.filter(col("id") % 10 === 0)
        .select((col("id") + off).as("id"), col("v"))
      graft.ops.Similarity.knnGraphLsh(emb.unionByName(planted), "id", "v",
          k = 5, nBits = 10, tables = 4)
        .filter(col("src") >= off && col("rank") === 1)
        .select(col("src"), col("dst"), round(col("cos"), 6).as("cos"))
        .orderBy(col("src"))
    }),

    // ---- curation pipeline: quality filter -> temperature sample ----
    "q_pipeline_curation" -> ((s, dir) => {
      // end-to-end composition of two round-7 stages, both exactly
      // deterministic, so unlike q_pipeline_corpus (whose near-dedup
      // stage needs a planted oracle) the WHOLE pipeline is
      // DuckDB-recomputable: plant the q_quality_audit junk (the
      // organic corpus is uniformly clean), drop by reason, then
      // temperature-sample the survivors with rates computed from the
      // POST-FILTER source counts. Integer outputs only.
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"), col("source"))
      val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
      // deliberately NOT persisted: the per-row quality expressions
      // are linear since ngramHashesLinear (~2.5 s per pass over the
      // 10× corpus), so re-evaluating them per consumer beats paying
      // an InMemoryRelation materialization of a lambda-heavy
      // projection
      val audited = TextAnalysis.qualityFilterReasons(
          docs.unionByName(plantedJunk(docs, off)), "text")
        .select(col("id"), col("source"), col("keep"))
      val kept = audited.filter(col("keep"))
        .select(col("id"), col("source"))
      val sampled = graft.ops.Sampling.temperatureSample(kept, "id", "source",
        alpha = 0.7, targetFraction = 0.5)
      audited.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep").cast("long")).as("n_kept"))
        .join(sampled.groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled")), Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_kept"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy(col("source"))
    }),

    // ---- semantic dedup sweep (near-dup graph -> cluster min) ----
    "q_semantic_dedup" -> ((s, dir) => {
      // planted exact vector copies of every 10th embedding: each copy
      // forms a 2-node cluster with its original (candidacy and
      // cosine 1.0 certain), the original is the cluster min and
      // keeps, the copy drops. The organic corpus has no pair at the
      // 0.95 cut (the oracle would catch one as an extra row), so the
      // dropped set is exactly the planted ids, each labeled by its
      // original.
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val off = emb.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
      val planted = emb.filter(col("id") % 10 === 0)
        .select((col("id") + off).as("id"), col("v"))
      graft.ops.Similarity.semanticDedup(emb.unionByName(planted), "id", "v",
          threshold = 0.95)
        .filter(!col("keep"))
        .select(col("id"), col("cluster_id"))
        .orderBy(col("id"))
    }),

    // ---- quality-filter audit with reason codes ----
    "q_quality_audit" -> ((s, dir) => {
      // the synthetic corpus is uniformly clean (no doc trips any
      // rule), so every 50th doc spawns three planted junk variants —
      // too-short, punctuation junk, repetition junk — carrying the
      // original's source; the per-source audit must attribute each
      // planted doc to exactly its reason and keep all organic docs.
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"), col("source"))
      val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
      TextAnalysis.qualityFilterReasons(
          docs.unionByName(plantedJunk(docs, off)), "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("too_short").cast("long")).as("n_too_short"),
          sum(col("too_long").cast("long")).as("n_too_long"),
          sum(col("high_punct").cast("long")).as("n_high_punct"),
          sum(col("repetitious").cast("long")).as("n_repetitious"),
          sum(col("keep").cast("long")).as("n_kept"))
        .orderBy(col("source"))
    }),

    // ---- incremental kNN-graph update (daily-ingest path) ----
    "q_knn_increment" -> ((s, dir) => {
      // the batch is planted exact copies of every 10th stored vector:
      // identical signatures in every LSH table make candidacy against
      // the stored original certain, and its cosine sits at the 1.0
      // ceiling, so each batch node's rank-1 edge is pinned — while
      // the operator exercises the real batch×bucket join against the
      // stored signature frame (never corpus²).
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val off = emb.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
      val corpusSigned = graft.ops.Similarity.withLshSignatures(
        emb, "id", "v", nBits = 10, tables = 4)
      val batchSigned = graft.ops.Similarity.withLshSignatures(
        emb.filter(col("id") % 10 === 0)
          .select((col("id") + off).as("id"), col("v")),
        "id", "v", nBits = 10, tables = 4)
      graft.ops.Similarity.knnGraphIncrement(batchSigned, corpusSigned, k = 5)
        .filter(col("rank") === 1)
        .select(col("src"), col("dst"), round(col("cos"), 6).as("cos"))
        .orderBy(col("src"))
    }),

    // ---- temperature-based mixture sampling ----
    "q_mixture_sample" -> ((s, dir) => {
      // per-source kept counts under alpha=0.5 temperature at 30%
      // target — integers, so the oracle is exact up to the 16-bit
      // threshold grid (pow/ulp drift between engines cannot move a
      // doc's md5 hash, and flips the floor'd threshold only when
      // rate*65536 lands within an ulp of an integer, ~2^-40 per
      // source; see Sampling.temperatureSample)
      graft.ops.Sampling.temperatureSample(
          Tables.load(s, dir, "documents"), "doc_id", "source",
          alpha = 0.5, targetFraction = 0.3)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // ---- cross-source shingle-overlap matrix ----
    "q_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlapMatrix(
          Tables.load(s, dir, "documents"), "source", "text", n = 3)
        .orderBy(col("src_a"), col("src_b")))
  )

  def oracles: Map[String, String] = Map(
    "q_dedup_verified" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off,
             rtrim(repeat('p' || CAST(doc_id AS VARCHAR) || ' q' || CAST(doc_id AS VARCHAR) || ' ', 8))
           FROM documents CROSS JOIN o WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 2 * off,
             rtrim(repeat('p' || CAST(doc_id AS VARCHAR) || ' q' || CAST(doc_id AS VARCHAR) || ' ', 9))
           FROM documents CROSS JOIN o WHERE doc_id % 20 = 0),
         toks AS (SELECT id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
                  FROM corpus),
         sh AS (
           -- LENGTH(x) > 0 mirrors the engine's empty-token dropout
           -- (tokenHashes filters '' before shingling, so a
           -- whitespace-only doc has NO shingles): without it two empty
           -- docs would pair here at J=1.0 but never in the engine —
           -- the r7-advice convention now shared with q_source_overlap
           SELECT id, UNNEST(list_filter(list_distinct(list_transform(
             range(1, GREATEST(LEN(t) - 3, 0) + 2),
             i -> array_to_string(t[i:i+2], ' '))), x -> LENGTH(x) > 0)) AS s
           FROM toks),
         sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         co AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           ROUND(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6)
             AS jaccard
         FROM co JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
         WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.9
         ORDER BY id_a, id_b""",

    "q_substring_dup" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off, text FROM documents CROSS JOIN o
           WHERE doc_id % 25 = 0),
         t AS (SELECT id, LOWER(TRIM(text)) AS txt FROM corpus),
         pos AS (
           SELECT id, UNNEST(list_transform(range(0, LEN(txt) - 40 + 1, 10),
             i -> substring(txt, i + 1, 40))) AS g
           FROM t),
         dup AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
         agg AS (
           SELECT p.id, COUNT(*) AS n_grams,
             SUM(CASE WHEN d.g IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
           FROM pos p LEFT JOIN dup d USING (g) GROUP BY p.id)
         SELECT c.id,
           CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
           ROUND(CASE WHEN COALESCE(n_grams, 0) > 0
             THEN CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE)
             ELSE 0.0 END, 6) AS dup_frac
         FROM corpus c LEFT JOIN agg USING (id)
         ORDER BY id""",

    "q_bpe_step" ->
      """WITH w AS (
           SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w
           FROM documents),
         wc AS (SELECT w, COUNT(*) AS wc FROM w WHERE LEN(w) >= 2 GROUP BY w),
         p AS (
           SELECT wc, UNNEST(list_transform(range(1, LEN(w)),
             i -> substring(w, i, 2))) AS pair
           FROM wc)
         SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
         FROM p GROUP BY pair
         ORDER BY cnt DESC, pair LIMIT 50""",

    "q_knn_graph" ->
      """WITH o AS (SELECT MAX(vec_id) + 1 AS off FROM embeddings)
         SELECT vec_id + off AS src, vec_id AS dst, CAST(1.0 AS DOUBLE) AS cos
         FROM embeddings CROSS JOIN o
         WHERE vec_id % 10 = 0
         ORDER BY src""",

    "q_pipeline_curation" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 3 * off, rtrim(repeat('spark ', 30)), source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0),
         m AS (
           SELECT id, source,
             LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tok,
             CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct,
             list_filter(list_transform(
               range(1, GREATEST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) - 3, 0) + 2),
               i -> array_to_string((string_split_regex(LOWER(TRIM(text)), '\s+'))[i:i+2], ' ')),
               x -> LENGTH(x) > 0) AS s
           FROM corpus),
         r AS (
           SELECT id, source,
             NOT (n_tok < 10 OR n_tok > 5000 OR punct > 0.1 OR
               (CASE WHEN LEN(s) = 0 THEN 0.0
                 ELSE 1.0 - CAST(LEN(list_distinct(s)) AS DOUBLE) / CAST(LEN(s) AS DOUBLE) END)
                 > 0.2) AS keep
           FROM m),
         kept AS (SELECT id, source FROM r WHERE keep),
         kc AS (SELECT source, COUNT(*) AS n FROM kept GROUP BY 1),
         kt AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_total,
                       SUM(POW(CAST(n AS DOUBLE), 0.7)) AS w_total FROM kc),
         rates AS (SELECT source,
             POW(CAST(n AS DOUBLE), 0.7) / w_total * n_total * 0.5
               / CAST(n AS DOUBLE) AS rate
           FROM kc CROSS JOIN kt),
         sampled AS (
           SELECT k.source, COUNT(*) AS n_sampled
           FROM kept k JOIN rates USING (source)
           WHERE rate >= 1.0 OR
             substr(md5(CAST(id AS VARCHAR)), 1, 4) <
               lpad(lower(to_hex(CAST(FLOOR(rate * 65536) AS BIGINT))), 4, '0')
           GROUP BY 1)
         SELECT r.source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COALESCE(ANY_VALUE(n_sampled), 0) AS BIGINT) AS n_sampled
         FROM r LEFT JOIN sampled ON r.source = sampled.source
         GROUP BY 1 ORDER BY 1""",

    "q_semantic_dedup" ->
      """WITH o AS (SELECT MAX(vec_id) + 1 AS off FROM embeddings)
         SELECT vec_id + off AS id, vec_id AS cluster_id
         FROM embeddings CROSS JOIN o
         WHERE vec_id % 10 = 0
         ORDER BY id""",

    "q_quality_audit" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 3 * off, rtrim(repeat('spark ', 30)), source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0),
         m AS (
           SELECT source,
             LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tok,
             CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct,
             list_filter(list_transform(
               range(1, GREATEST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) - 3, 0) + 2),
               i -> array_to_string((string_split_regex(LOWER(TRIM(text)), '\s+'))[i:i+2], ' ')),
               x -> LENGTH(x) > 0) AS s
           FROM corpus),
         r AS (
           SELECT source,
             n_tok < 10 AS too_short,
             n_tok > 5000 AS too_long,
             punct > 0.1 AS high_punct,
             (CASE WHEN LEN(s) = 0 THEN 0.0
               ELSE 1.0 - CAST(LEN(list_distinct(s)) AS DOUBLE) / CAST(LEN(s) AS DOUBLE) END)
               > 0.2 AS repetitious
           FROM m)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN too_short THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
           CAST(SUM(CASE WHEN too_long THEN 1 ELSE 0 END) AS BIGINT) AS n_too_long,
           CAST(SUM(CASE WHEN high_punct THEN 1 ELSE 0 END) AS BIGINT) AS n_high_punct,
           CAST(SUM(CASE WHEN repetitious THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitious,
           CAST(SUM(CASE WHEN NOT (too_short OR too_long OR high_punct OR repetitious)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM r GROUP BY 1 ORDER BY 1""",

    "q_knn_increment" ->
      """WITH o AS (SELECT MAX(vec_id) + 1 AS off FROM embeddings)
         SELECT vec_id + off AS src, vec_id AS dst, CAST(1.0 AS DOUBLE) AS cos
         FROM embeddings CROSS JOIN o
         WHERE vec_id % 10 = 0
         ORDER BY src""",

    "q_mixture_sample" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_total,
                      SUM(POW(CAST(n AS DOUBLE), 0.5)) AS w_total FROM c),
         r AS (SELECT source,
                 POW(CAST(n AS DOUBLE), 0.5) / w_total * n_total * 0.3
                   / CAST(n AS DOUBLE) AS rate
               FROM c CROSS JOIN t)
         SELECT d.source, COUNT(*) AS n_kept
         FROM documents d JOIN r ON d.source = r.source
         WHERE rate >= 1.0 OR
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
             lpad(lower(to_hex(CAST(FLOOR(rate * 65536) AS BIGINT))), 4, '0')
         GROUP BY 1 ORDER BY 1""",

    "q_source_overlap" ->
      """WITH toks AS (
           SELECT source, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         shx AS (
           SELECT source AS src, UNNEST(list_filter(list_distinct(list_transform(
             range(1, GREATEST(LEN(t) - 3, 0) + 2),
             i -> array_to_string(t[i:i+2], ' '))), x -> LENGTH(x) > 0)) AS g
           FROM toks),
         sh AS (SELECT DISTINCT src, g FROM shx),
         sizes AS (SELECT src, COUNT(*) AS n FROM sh GROUP BY src),
         co AS (
           SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src
           GROUP BY 1, 2)
         SELECT src_a, src_b, n_a, n_b, inter,
           ROUND(CAST(inter AS DOUBLE) /
             CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
         FROM co
         JOIN (SELECT src AS src_a, n AS n_a FROM sizes) sa USING (src_a)
         JOIN (SELECT src AS src_b, n AS n_b FROM sizes) sb USING (src_b)
         ORDER BY src_a, src_b"""
  )
}
