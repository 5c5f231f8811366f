package graft.queries

import graft.Tables
import graft.ops.{Dedup, Packing, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 operator pack: the r7 verdict's follow-through items —
  * substring-duplication REMOVAL (the Lee-et-al cut, not just the
  * stats), materialized packed sequences, the iterated BPE training
  * loop, and first-class embedding k-means. Every query here is fully
  * deterministic and recomputed end to end by its DuckDB oracle (no
  * planted-ceiling indirection except where an operator is
  * approximate by design).
  */
object Round8Queries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- substring-duplication removal (Lee et al. 2022 cut) ----
    "q_substring_dedup" -> ((s, dir) => {
      // planted exact copies of every 25th doc (the q_substring_dup
      // plant): a copied doc with >= k tokens is covered end to end by
      // its duplicated k-grams' removal windows, so the copy's
      // dedup_text must be empty while the original keeps everything —
      // and organic repeated spans in the corpus are cut by the same
      // deterministic first-occurrence rule the oracle recomputes.
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      // in-plan offset (broadcast 1-row cross join) — mirrors the
      // oracle's CROSS JOIN o and avoids an eager extra table scan
      val off = broadcast(docs.agg((max(col("id")) + 1L).as("_off")))
      val planted = docs.filter(col("id") % 25 === 0).crossJoin(off)
        .select((col("id") + col("_off")).as("id"), col("text"))
      Dedup.substringDedup(docs.unionByName(planted), "id", "text", k = 10)
        .orderBy(col("id"))
    }),

    // ---- materialized packed sequences (concat-then-chunk) ----
    "q_pack_emit" -> ((s, dir) => {
      // 64-token sequences over the documents corpus: every sequence's
      // exact token window is pinned by its md5, including documents
      // straddling sequence boundaries — DuckDB recomputes the same
      // global positions with a window prefix sum and must reproduce
      // every hash. The multi-level scan (blockSize 1000, levels 2)
      // covers id ranges to 10^6 without a global window.
      Packing.emitPackedSequences(Tables.load(s, dir, "documents"),
          "doc_id", "text", seqTokens = 64, blockSize = 1000, levels = 2)
        .orderBy(col("seq_id"))
    }),

    // ---- iterated BPE training (merge sequence) ----
    "q_bpe_train" -> ((s, dir) =>
      // 5 merge rounds over the documents vocabulary; the merge
      // sequence is exactly deterministic (count desc, pair text
      // tie-break), and the oracle replays the identical loop as a
      // chain of top-1 + REPLACE CTEs — both engines' string replace
      // is greedy left-to-right, which IS the BPE merge order.
      TextAnalysis.bpeTrain(Tables.load(s, dir, "documents"), "text",
          iterations = 5)
        .orderBy(col("iter"))),

    // ---- embedding k-means (planted analytic clusters) ----
    "q_cluster_kmeans" -> ((s, dir) => {
      // planted geometry makes the whole Lloyd run analytic: vector for
      // id = e_g + delta * e_{8+g} with g = id % 8 and delta an exact
      // dyadic (id % 5 + 1)/1024, so cross-group cosines are EXACTLY
      // zero (disjoint support), assignments are certain from the
      // one-hot init, and every per-dim mean is a sum of exact dyadic
      // rationals — bit-identical in any engine / summation order. The
      // operator still runs its full generic machinery (64-dim native
      // cosines, distributed means, argmax) over the planted frame.
      val K = 8
      val ids = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("id"))
      val g = col("id") % K
      val d = ((col("id") % 5) + 1).cast("double") / 1024.0
      val v = array((0 until 64).map { dim =>
        when(g === dim, lit(1.0)).when(g === (dim - 8), d).otherwise(lit(0.0))
      }: _*)
      val planted = ids.select(col("id"), v.as("v"))
      val init = (0 until K).map(gi =>
        Array.tabulate(64)(dd => if (dd == gi) 1.0 else 0.0)).toArray
      Similarity.clusterEmbeddings(planted, "id", "v",
          nClusters = K, lloydIters = 2, init = Some(init))
        .select(col("id"), col("cid"),
          round(col("cos_to_centroid"), 6).as("cos_to_centroid"))
        .orderBy(col("id"))
    }),

    // ---- BPE encode: apply the trained merges back to the corpus ----
    "q_bpe_encode" -> ((s, dir) => {
      // the encode half of tokenizer training, in its serving shape
      // (r12 verdict item 2, the PQ-codebook precedent): the 5-merge
      // sequence is a STORED artifact a training job wrote — staged
      // once via Tables.storedFixture in the untimed warmup — and the
      // timed pass prices encoding the corpus against it: per-source
      // word + BPE-symbol counts, the compression curve. The merge
      // frame is 5 rows (a tokenizer file), so the collect is the
      // adjudicated tiny-frame parameterization; the oracle still
      // replays the full merge chain from base tables.
      val merges = Tables.storedFixture(s, dir, "bpe_merges5_v1")(
          TextAnalysis.bpeTrain(Tables.load(s, dir, "documents"),
            "text", iterations = 5))
        .orderBy(col("iter")).collect()
        .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
      TextAnalysis.bpeEncodeStatsFromMerges(
          Tables.load(s, dir, "documents"), "text", "source", merges)
        .orderBy(col("source"))
    }),

    // ---- packed-sequence doc-span map (attention-mask input) ----
    "q_pack_spans" -> ((s, dir) =>
      Packing.packedDocSpans(Tables.load(s, dir, "documents"),
          "doc_id", "text", seqTokens = 64, blockSize = 1000, levels = 2)
        .orderBy(col("seq_id"), col("doc_id"))),

    // ---- length-bucketed batching stats ----
    "q_length_buckets" -> ((s, dir) =>
      // maxSeq 256 sits inside the synthetic doc-length range, so both
      // padding waste and truncation are exercised
      Packing.lengthBuckets(Tables.load(s, dir, "documents"),
          "doc_id", "text", maxSeq = 256)
        .orderBy(col("bucket"))),

    // ---- cluster-based diversity pruning (planted analytic) ----
    "q_cluster_prune" -> ((s, dir) => {
      // the q_cluster_kmeans planted geometry with FINE dyadic jitter
      // ((id % 251 + 1)/1024 — 251 distinct values per group) so the
      // per-cluster prototypicality ranking has real order to cut;
      // remaining cos ties (ids sharing id%8 and id%251) break by id,
      // which DuckDB replays exactly since the cosines are
      // bit-identical dyadic-rational arithmetic.
      val K = 8
      val ids = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("id"))
      val g = col("id") % K
      val d = ((col("id") % 251) + 1).cast("double") / 1024.0
      val v = array((0 until 64).map { dim =>
        when(g === dim, lit(1.0)).when(g === (dim - 8), d).otherwise(lit(0.0))
      }: _*)
      val planted = ids.select(col("id"), v.as("v"))
      val init = (0 until K).map(gi =>
        Array.tabulate(64)(dd => if (dd == gi) 1.0 else 0.0)).toArray
      Similarity.clusterPrune(planted, "id", "v", nClusters = K,
          keepPerCluster = 40, lloydIters = 2, init = Some(init))
        .select(col("id"), col("cid"),
          round(col("cos_to_centroid"), 6).as("cos_to_centroid"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("id"))
    }),

    // ---- token-budget mixture plan ----
    "q_token_budget" -> ((s, dir) =>
      // integer weights derived from the source name (1 + length % 7)
      // normalize inside the operator: target = budget * w DIV sum(w),
      // all exact integer arithmetic, so the whole plan is engine-
      // independent. Budget is ~half the corpus tokens at every SF via
      // a per-source clamp: small sources land in the multi-epoch
      // regime, big ones downsample.
      Sampling.tokenBudgetPlan(Tables.load(s, dir, "documents"),
          "source", "text",
          weightExpr = lit(1L) + length(col("source")).cast("long") % 7L,
          budgetTokens = 3000000L, maxEpochs = 4.0)
        .orderBy(col("source"))),

    // ---- Unicode text normalization (NFC + strip + collapse) ----
    "q_text_normalize" -> ((s, dir) => {
      // planted denormalized docs: decomposed accents (NFC must
      // compose), zero-width space, BEL control, tab runs, LRM bidi
      // mark, pad spaces — on top of every 10th organic doc. The
      // oracle rebuilds the identical plant with chr() codes and
      // replays the same 4-stage normalization.
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      val off = broadcast(docs.agg((max(col("id")) + 1L).as("_off")))
      val planted = docs.filter(col("id") % 10 === 0).crossJoin(off)
        .select((col("id") + col("_off")).as("id"),
          concat(lit("  Cafe\u0301 du\u200B monde\u0007 \t "),
            col("text"), lit("  tail\u200E  ")).as("text"))
      val corpus = docs.unionByName(planted)
      corpus.select(col("id"),
          TextAnalysis.normalizeText(col("text")).as("norm_text"),
          (TextAnalysis.normalizeText(col("text")) =!=
            coalesce(col("text"), lit(""))).as("changed"))
        .orderBy(col("id"))
    })
  )

  def oracles: Map[String, String] = Map(

    "q_substring_dedup" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off, text FROM documents CROSS JOIN o
           WHERE doc_id % 25 = 0),
         toks AS (
           SELECT id, list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
             x -> LENGTH(x) > 0) AS t
           FROM corpus),
         tok AS (
           SELECT id, UNNEST(t) AS tok, generate_subscripts(t, 1) AS pos
           FROM toks),
         grams AS (
           SELECT id, UNNEST(range(1, LEN(t) - 10 + 2)) AS p,
                  UNNEST(list_transform(range(1, LEN(t) - 10 + 2),
                    i -> array_to_string(t[i:i+9], ' '))) AS g
           FROM toks WHERE LEN(t) >= 10),
         occ AS (
           SELECT id, p,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY id, p) AS rn
           FROM grams),
         removed AS (
           SELECT DISTINCT id, pos FROM (
             SELECT id, UNNEST(range(p, p + 10)) AS pos
             FROM occ WHERE rn > 1)),
         agg AS (
           SELECT t.id, COUNT(*) AS n_tokens,
             SUM(CASE WHEN r.pos IS NULL THEN 1 ELSE 0 END) AS n_kept,
             COALESCE(string_agg(CASE WHEN r.pos IS NULL THEN t.tok END, ' '
               ORDER BY t.pos), '') AS dedup_text
           FROM tok t LEFT JOIN removed r ON t.id = r.id AND t.pos = r.pos
           GROUP BY t.id)
         SELECT c.id,
           CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(dedup_text, '') AS dedup_text
         FROM corpus c LEFT JOIN agg ON c.id = agg.id
         ORDER BY c.id""",

    "q_pack_emit" ->
      """WITH d AS (
           SELECT doc_id AS id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         o AS (
           SELECT id, t,
             COALESCE(SUM(LEN(t)) OVER (ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
           FROM d),
         tok AS (
           SELECT id, off + generate_subscripts(t, 1) - 1 AS gpos,
             UNNEST(t) AS tok
           FROM o)
         SELECT CAST(gpos // 64 AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS seq_len,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
           MIN(id) AS first_doc,
           MAX(id) AS last_doc,
           md5(string_agg(tok, ' ' ORDER BY gpos)) AS content_md5
         FROM tok
         GROUP BY 1 ORDER BY seq_id""",

    "q_bpe_train" -> bpeTrainOracle(5),

    "q_cluster_kmeans" ->
      // the analytic replay: cid = id % 8 (certain assignment), and the
      // learned centroid's only nonzero dims are g (mean of 1.0 = 1.0)
      // and 8+g (mean of the group's exact-dyadic deltas), so the
      // cosine collapses to the same op sequence the fused Spark
      // expression runs: dot / (sqrt(na) * sqrt(nb))
      """WITH d AS (
           SELECT CAST(vec_id AS BIGINT) AS id,
             vec_id % 8 AS g,
             (vec_id % 5 + 1) / 1024.0 AS dlt
           FROM embeddings),
         c AS (SELECT g, AVG(dlt) AS c2 FROM d GROUP BY g)
         SELECT id, CAST(d.g AS INTEGER) AS cid,
           ROUND((1.0 + dlt * c2) /
             (SQRT(1.0 + dlt * dlt) * SQRT(1.0 + c2 * c2)), 6)
             AS cos_to_centroid
         FROM d JOIN c ON d.g = c.g
         ORDER BY id""",

    "q_bpe_encode" -> bpeEncodeOracle(5),

    "q_pack_spans" ->
      """WITH d AS (
           SELECT doc_id AS id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         o AS (
           SELECT id, t,
             COALESCE(SUM(LEN(t)) OVER (ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
           FROM d),
         tok AS (
           SELECT id, CAST(gpos // 64 AS BIGINT) AS seq_id, gpos
           FROM (SELECT id, off + generate_subscripts(t, 1) - 1 AS gpos
                 FROM o))
         SELECT seq_id, id AS doc_id,
           CAST(MIN(gpos) - seq_id * 64 AS BIGINT) AS start_in_seq,
           CAST(COUNT(*) AS BIGINT) AS n_tokens_in_seq
         FROM tok GROUP BY 1, 2 ORDER BY seq_id, doc_id""",

    "q_length_buckets" ->
      """WITH e AS (
           SELECT CAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+'))
               AS BIGINT) AS n_tok,
             CAST(LEAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')),
               256) AS BIGINT) AS n_eff
           FROM documents),
         b AS (
           SELECT n_tok, n_eff,
             CASE WHEN n_eff <= 1 THEN CAST(1 AS BIGINT)
               ELSE CAST(1 AS BIGINT) << LENGTH(bin(n_eff - 1)) END AS bucket
           FROM e)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_eff) AS BIGINT) AS n_tokens,
           CAST(SUM(bucket - n_eff) AS BIGINT) AS n_padding,
           CAST(SUM(n_tok - n_eff) AS BIGINT) AS n_truncated,
           ROUND(CAST(SUM(n_eff) AS DOUBLE) /
             CAST(SUM(n_eff) + SUM(bucket - n_eff) AS DOUBLE), 6)
             AS utilization
         FROM b GROUP BY 1 ORDER BY bucket""",

    "q_cluster_prune" ->
      """WITH d AS (
           SELECT CAST(vec_id AS BIGINT) AS id,
             vec_id % 8 AS g,
             (vec_id % 251 + 1) / 1024.0 AS dlt
           FROM embeddings),
         c AS (SELECT g, AVG(dlt) AS c2 FROM d GROUP BY g),
         cosr AS (
           SELECT id, CAST(d.g AS INTEGER) AS cid,
             (1.0 + dlt * c2) /
               (SQRT(1.0 + dlt * dlt) * SQRT(1.0 + c2 * c2)) AS cos_raw
           FROM d JOIN c ON d.g = c.g),
         rk AS (
           SELECT id, cid, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY cid
               ORDER BY cos_raw DESC, id) AS rk
           FROM cosr)
         SELECT id, cid, ROUND(cos_raw, 6) AS cos_to_centroid,
           CAST(rk AS BIGINT) AS rk
         FROM rk WHERE rk <= 40 ORDER BY id""",

    "q_token_budget" ->
      """WITH per AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
               AS BIGINT) AS avail_tokens,
             CAST(1 + LENGTH(source) % 7 AS BIGINT) AS weight
           FROM documents GROUP BY source),
         tot AS (SELECT SUM(weight) AS w_total FROM per)
         SELECT source, n_docs, avail_tokens, weight,
           CAST(3000000 * weight // w_total AS BIGINT) AS target_tokens,
           ROUND(LEAST(1.0,
             CAST(3000000 * weight // w_total AS DOUBLE) /
             CAST(avail_tokens AS DOUBLE)), 6) AS sample_rate,
           ROUND(LEAST(4.0,
             CAST(3000000 * weight // w_total AS DOUBLE) /
             CAST(avail_tokens AS DOUBLE)), 6) AS epochs,
           GREATEST(CAST(0 AS BIGINT),
             CAST(3000000 * weight // w_total AS BIGINT) -
             CAST(FLOOR(avail_tokens * 4.0) AS BIGINT)) AS deficit_tokens
         FROM per CROSS JOIN tot ORDER BY source""",

    "q_text_normalize" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off,
             '  Cafe' || chr(769) || ' du' || chr(8203) || ' monde' ||
             chr(7) || ' ' || chr(9) || ' ' || text ||
             '  tail' || chr(8206) || '  '
           FROM documents CROSS JOIN o WHERE doc_id % 10 = 0),
         n AS (
           SELECT id, COALESCE(text, '') AS text,
             TRIM(regexp_replace(regexp_replace(
               nfc_normalize(COALESCE(text, '')),
               '[\p{Cc}\p{Cf}]', '', 'g'), '\s+', ' ', 'g')) AS norm_text
           FROM corpus)
         SELECT id, norm_text, (norm_text <> text) AS changed
         FROM n ORDER BY id"""
  )

  private def bpePairCte(src: String): String =
    s"""SELECT a[i] AS lhs, a[i+1] AS rhs, CAST(SUM(wc) AS BIGINT) AS cnt
         FROM (SELECT string_split(trim(s, '<>'), '><') AS a, wc FROM $src) t,
              UNNEST(range(1, len(a))) AS u(i)
         GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 1"""

  /** The q_bpe_train oracle: the same N-round merge loop as
    * [[TextAnalysis.bpeTrain]], unrolled into a chain of (top-1 pair,
    * REPLACE) CTE pairs — iteration i's winning merge is a one-row CTE
    * cross-joined into the next vocabulary frame.
    */
  private def bpeTrainOracle(n: Int): String = {
    def pairCte(src: String): String = bpePairCte(src)
    val ctes = (1 to n).map { i =>
      val src = if (i == 1) "wc" else s"v${i - 1}"
      val p = s"p$i AS (${pairCte(src)})"
      if (i == n) p
      else p + s""",
         v$i AS (SELECT REPLACE(s, '<'||lhs||'><'||rhs||'>',
                   '<'||lhs||rhs||'>') AS s, wc
                 FROM $src CROSS JOIN p$i)"""
    }.mkString(",\n         ")
    val union = (1 to n)
      .map(i => s"SELECT CAST($i AS BIGINT) AS iter, lhs, rhs, cnt FROM p$i")
      .mkString("\n         UNION ALL ")
    s"""WITH w AS (
           SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\\s+')) AS w
           FROM documents),
         wc AS (
           SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS s, COUNT(*) AS wc
           FROM w
           WHERE LEN(w) >= 2 AND w NOT LIKE '%<%' AND w NOT LIKE '%>%'
           GROUP BY 1),
         $ctes
         $union
         ORDER BY iter"""
  }

  /** The q_bpe_encode oracle: the same merge chain as q_bpe_train but
    * carrying the original word through (and APPLYING the final merge),
    * then the per-source (word count × per-word symbol count) join
    * [[TextAnalysis.bpeEncodeStats]] runs.
    */
  private def bpeEncodeOracle(n: Int): String = {
    val ctes = (1 to n).map { i =>
      val src = if (i == 1) "wc" else s"v${i - 1}"
      s"""p$i AS (${bpePairCte(src)}),
         v$i AS (SELECT w, REPLACE(s, '<'||lhs||'><'||rhs||'>',
                   '<'||lhs||rhs||'>') AS s, wc
                 FROM $src CROSS JOIN p$i)"""
    }.mkString(",\n         ")
    s"""WITH wd AS (
           SELECT source,
             UNNEST(string_split_regex(LOWER(TRIM(text)), '\\s+')) AS w
           FROM documents),
         wf AS (
           SELECT source, w FROM wd
           WHERE LEN(w) >= 2 AND w NOT LIKE '%<%' AND w NOT LIKE '%>%'),
         wc AS (
           SELECT w, regexp_replace(w, '(.)', '<\\1>', 'g') AS s,
             COUNT(*) AS wc
           FROM wf GROUP BY 1, 2),
         $ctes,
         nsym AS (
           SELECT w, LEN(string_split(trim(s, '<>'), '><')) AS n_sym
           FROM v$n),
         sw AS (SELECT source, w, COUNT(*) AS c FROM wf GROUP BY 1, 2)
         SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(SUM(c * n_sym) AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(SUM(c * n_sym) AS DOUBLE) /
             CAST(SUM(c) AS DOUBLE), 6) AS avg_symbols
         FROM sw JOIN nsym USING (w)
         GROUP BY source ORDER BY source"""
  }
}
