package graft.queries

import graft.Tables
import graft.ops.{Dedup, Sampling, Search, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 3: corpus-maintenance and retrieval operators — CCNet
  * boilerplate line removal (every occurrence goes, not first-kept),
  * epoch-deterministic shard/order planning, per-source KL drift, the
  * vocab-coverage curve, span-level contamination mapping, HTML
  * stripping, hybrid BM25×cosine retrieval (RRF), the cluster-health
  * audit, per-source dedup impact, O(batch) incremental fingerprint
  * maintenance, and the streaming windowed top-k. Every query is
  * deterministic and recomputed end to end by its DuckDB oracle.
  */
object Round8cQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- line-level boilerplate removal (CCNet / RefinedWeb step) ----
    "q_line_dedup" -> ((s, dir) => {
      // organic docs have no newlines, so each is a single "line";
      // planted copies of every 10th doc wrap the original text in a
      // shared header/footer line pair. The header/footer recur across
      // all planted docs -> removed everywhere; each planted BODY line
      // equals its organic source doc's single line -> both occurrences
      // removed (distinct docs), demonstrating the no-first-kept
      // semantics that separates this from q_dedup_passage
      val v1 = Tables.load(s, dir, "documents")
      val off = broadcast(v1.agg((max(col("doc_id")) + 1L).as("_off")))
      val planted = v1.filter(col("doc_id") % 10 === 0).crossJoin(off)
        .select((col("doc_id") + col("_off")).as("doc_id"),
          concat(lit("shared legal boilerplate header\n"), col("text"),
            lit("\nshared legal boilerplate footer")).as("text"))
      Dedup.lineDedup(
          v1.select(col("doc_id"), col("text")).unionByName(planted),
          "doc_id", "text", minDocs = 2)
        .orderBy(col("id"))
    }),

    // ---- epoch-deterministic shard / training-order plan ----
    "q_shard_plan" -> ((s, dir) =>
      // the full (id, shard, pos) assignment for epoch 3 over 8 shards
      // is oracle-checked — hash bucketing is the shard split (no
      // global sort), the within-shard ordinal is a per-shard sort
      Sampling.epochShards(Tables.load(s, dir, "documents"),
          "doc_id", epoch = 3, nShards = 8)
        .orderBy(col("shard"), col("pos"))),

    // ---- per-source unigram KL drift vs the corpus blend ----
    "q_source_kl" -> ((s, dir) =>
      TextAnalysis.sourceDivergence(Tables.load(s, dir, "documents"),
          "source", "text")
        .orderBy(col("source"))),

    // ---- vocabulary coverage curve (tokenizer sizing) ----
    "q_vocab_coverage" -> ((s, dir) =>
      // sizes straddle the synthetic vocabulary so both the interior
      // of the curve and the least(v, n_types) clamp are exercised
      TextAnalysis.vocabCoverage(Tables.load(s, dir, "documents"),
          "text", sizes = Seq(10, 20, 50, 100))
        .orderBy(col("vocab_size"))),

    // ---- curriculum difficulty buckets (length-based, per source) ----
    "q_curriculum" -> ((s, dir) =>
      Sampling.curriculumBuckets(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", buckets = 4)
        .orderBy(col("id"))),

    // ---- incremental fingerprint maintenance (O(batch) versioning) ----
    "q_fingerprint_update" -> ((s, dir) => {
      // the q_snapshot_diff mutation rules as a delta feed: drops
      // (%31), edits (%17, old text removed + new text added), adds
      // (%41 at offset ids). The incremental result must equal a
      // from-scratch corpusFingerprint of v2 — which is exactly what
      // the oracle computes; XOR self-inverse makes it O(batch)
      val v1 = Tables.load(s, dir, "documents")
      val off = broadcast(v1.agg((max(col("doc_id")) + 1L).as("_off")))
      val dropped = v1.filter(col("doc_id") % 31 === 0)
      val editedOld = v1.filter(col("doc_id") % 17 === 0 &&
        col("doc_id") % 31 =!= 0)
      val editedNew = editedOld.withColumn("text",
        concat(col("text"), lit(" v2")))
      val adds = v1.filter(col("doc_id") % 41 === 0).crossJoin(off)
        .select((col("doc_id") + col("_off")).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val sel = Seq("doc_id", "text", "source").map(col)
      graft.ops.Profile.updateFingerprint(
          graft.ops.Profile.corpusFingerprint(v1, "doc_id", "text", "source"),
          dropped.select(sel: _*).unionByName(editedOld.select(sel: _*)),
          editedNew.select(sel: _*).unionByName(adds.select(sel: _*)),
          "doc_id", "text", "source")
        .orderBy(col("grp"))
    }),

    // ---- per-source dedup impact (within vs cross-source partners) ----
    "q_dedup_impact" -> ((s, dir) => {
      // planted copies pin both partner kinds: every 40th doc copied
      // into a synthetic 'planted' source (cross-source partner for the
      // original), every 50th copied into its OWN source (within-source
      // partner); organic J>=0.9 pairs add the real workload
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"), col("source"))
      val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
      val cross = docs.filter(col("id") % 40 === 0)
        .select((col("id") + off).as("id"), col("text"),
          lit("planted").as("source"))
      val within = docs.filter(col("id") % 50 === 0)
        .select((col("id") + 2 * off).as("id"), col("text"), col("source"))
      Dedup.sourceDedupImpact(
          docs.unionByName(cross).unionByName(within),
          "id", "text", "source", threshold = 0.9)
        .orderBy(col("source"))
    }),

    // ---- cluster-health audit over the Lloyd run ----
    "q_cluster_quality" -> ((s, dir) => {
      // the q_cluster_kmeans planted geometry (disjoint-support groups,
      // exact-dyadic jitter, one-hot init): assignments are certain and
      // every member cosine is the same op sequence in both engines,
      // so the per-cluster mean/min are analytic for the oracle while
      // the operator still runs the full generic Lloyd machinery
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
      graft.ops.Similarity.clusterQuality(planted, "id", "v",
          nClusters = K, lloydIters = 2, init = Some(init))
        .orderBy(col("cid"))
    }),

    // ---- HTML/markup stripping (web-corpus extraction) ----
    "q_strip_markup" -> ((s, dir) => {
      // every 5th doc is wrapped in a realistic page shell (style +
      // script blocks, tags, entities) IN-PLAN; the stripper must
      // recover prose — title, body text, decoded entities — and leave
      // unwrapped docs untouched (idempotent on plain text)
      val docs = Tables.load(s, dir, "documents")
      val wrapped = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(
          lit("<html><head><style>p { color: #333; }</style></head>" +
            "<body><h1>Title &amp; Intro</h1><p>"),
          col("text"),
          lit("</p><script>var x = 1 &lt; 2;</script>" +
            "<p>42&nbsp;&quot;quoted&#39;</p></body></html>")))
          .otherwise(col("text")).as("text"))
      wrapped.select(col("doc_id"),
          TextAnalysis.stripMarkup(col("text")).as("clean_text"))
        .withColumn("n_chars_clean", length(col("clean_text")))
        .orderBy(col("doc_id"))
    }),

    // ---- span-level contamination map (GPT-3/Pile decontamination) ----
    "q_contamination_spans" -> ((s, dir) => {
      // eval = every 10th doc, train = the rest (the q_decontaminate
      // split); planted eval docs (every 30th, at offset ids) append
      // train doc 1's full text, so the span map must find one long
      // contaminated span there while organic eval docs stay sparse
      val docs = Tables.load(s, dir, "documents")
      val evalBase = docs.filter(col("doc_id") % 10 === 0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val off = broadcast(docs.agg((max(col("doc_id")) + 1L).as("_off")))
      val t1 = broadcast(docs.filter(col("doc_id") === 1L)
        .select(col("text").as("_t1")))
      val planted = evalBase.filter(col("doc_id") % 30 === 0)
        .crossJoin(off).crossJoin(t1)
        .select((col("doc_id") + col("_off")).as("doc_id"),
          concat(col("text"), lit(" "), col("_t1")).as("text"))
      Dedup.contaminationSpans(
          evalBase.select(col("doc_id"), col("text")).unionByName(planted),
          train, "doc_id", "text", n = 5)
        .orderBy(col("id"))
    }),

    // ---- hybrid retrieval: BM25 top-n x cosine top-n, RRF fusion ----
    "q_search_hybrid" -> ((s, dir) =>
      // both candidate lists use their proven cross-engine rankings
      // (q_text_search scoring, q_ann_topk cosines); the integer ranks
      // make the fused score the same two-term double expression in
      // both engines — no score normalization to diverge
      Search.hybridSearch(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "query", "join", "filter"),
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        PipelineQueries.queryVec(s, dir), n = 50, k = 20)
        .orderBy(col("rrf").desc, col("doc_id"))),

    // ---- streaming windowed top-k heavy hitters (batch form) ----
    "q_stream_topk" -> ((s, dir) =>
      // the counts stage is the watermark-bounded streaming aggregate
      // (StreamingSpec runs it as a real stream); the top-k cut runs on
      // the finalized window counts, as it would on the sink
      graft.streaming.Streams.windowedTopK(
          Tables.load(s, dir, "events"), "1 hour", k = 3)
        .orderBy(col("window_start"), col("rk")))
  )

  def oracles: Map[String, String] = Map(

    "q_line_dedup" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         v AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + off,
             'shared legal boilerplate header' || chr(10) || text ||
               chr(10) || 'shared legal boilerplate footer'
           FROM documents CROSS JOIN o WHERE doc_id % 10 = 0),
         ls AS (
           SELECT doc_id, list_filter(
             list_transform(string_split(text, chr(10)), l -> TRIM(l)),
             l -> LENGTH(l) > 0) AS lines
           FROM v),
         ln AS (
           SELECT doc_id, UNNEST(range(LEN(lines))) AS l_idx,
             UNNEST(lines) AS line
           FROM ls),
         b AS (
           SELECT line FROM ln GROUP BY line
           HAVING COUNT(DISTINCT doc_id) >= 2),
         m AS (
           SELECT ln.doc_id, ln.l_idx, ln.line,
             (b.line IS NOT NULL) AS boiler
           FROM ln LEFT JOIN b USING (line))
         SELECT doc_id AS id, COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN NOT boiler THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           COALESCE(string_agg(CASE WHEN NOT boiler THEN line END,
             chr(10) ORDER BY l_idx), '') AS clean_text
         FROM m GROUP BY doc_id ORDER BY id""",

    "q_shard_plan" ->
      """WITH h AS (
           SELECT doc_id AS id,
             CAST(('0x' || substr(md5('epoch3:' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS ord
           FROM documents),
         sh AS (
           SELECT id, ord, CAST(ord % 8 AS INT) AS shard FROM h)
         SELECT id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, id)
             AS BIGINT) - 1 AS pos
         FROM sh ORDER BY shard, pos""",

    "q_source_kl" ->
      """WITH tok AS (
           SELECT source, UNNEST(string_split_regex(LOWER(TRIM(text)),
             '\s+')) AS w
           FROM documents),
         cnt AS (
           SELECT source, w, COUNT(*) AS c FROM tok
           WHERE LENGTH(w) > 0 GROUP BY source, w),
         g AS (SELECT w, SUM(c) AS gc FROM cnt GROUP BY w),
         st AS (SELECT source, SUM(c) AS n_src FROM cnt GROUP BY source),
         gt AS (SELECT SUM(gc) AS n_all FROM g)
         SELECT cnt.source, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_vocab,
           ROUND(SUM((CAST(c AS DOUBLE) / n_src) *
             LN((CAST(c AS DOUBLE) / n_src) /
                (CAST(gc AS DOUBLE) / n_all))), 6) + 0.0 AS kl
         FROM cnt
         JOIN g USING (w) JOIN st USING (source) CROSS JOIN gt
         GROUP BY cnt.source ORDER BY cnt.source""",

    "q_vocab_coverage" ->
      """WITH tok AS (
           SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w
           FROM documents),
         wc AS (
           SELECT w, COUNT(*) AS c FROM tok
           WHERE LENGTH(w) > 0 GROUP BY w),
         r AS (
           SELECT w, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk,
             SUM(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS cum
           FROM wc),
         t AS (SELECT MAX(cum) AS n_total, MAX(rk) AS n_types FROM r)
         SELECT CAST(v AS BIGINT) AS vocab_size,
           CAST(LEAST(v, n_types) AS BIGINT) AS n_types_used,
           CAST(cum AS BIGINT) AS covered_tokens,
           ROUND(CAST(cum AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS coverage
         FROM (SELECT UNNEST([10, 20, 50, 100]) AS v) CROSS JOIN t
         JOIN r ON r.rk = LEAST(v, n_types)
         ORDER BY vocab_size""",

    "q_curriculum" ->
      """SELECT doc_id AS id, source,
           CAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+'))
             AS BIGINT) AS n_tokens,
           CAST(NTILE(4) OVER (PARTITION BY source
             ORDER BY LEN(string_split_regex(LOWER(TRIM(text)), '\s+')),
               doc_id) AS BIGINT) AS bucket
         FROM documents ORDER BY id""",

    "q_fingerprint_update" ->
      // from-scratch rebuild of the v2 fingerprint (the q_fingerprint
      // formula over the mutated corpus) — the incremental path must
      // reproduce it exactly
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END
               AS text,
             source
           FROM documents WHERE doc_id % 31 <> 0
           UNION ALL
           SELECT doc_id + off, text, source
           FROM documents CROSS JOIN o WHERE doc_id % 41 = 0)
         SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
             AS BIGINT) AS n_tokens,
           bit_xor(CAST(('0x' || substr(md5(
             CAST(doc_id AS VARCHAR) || ':' || COALESCE(text, '')), 1, 15))
             AS BIGINT)) AS fingerprint
         FROM v2 GROUP BY source ORDER BY grp""",

    "q_dedup_impact" ->
      // all-pairs exact Jaccard at the threshold (the q_dedup_verified
      // replay) over the planted corpus, rolled up per source
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source FROM documents
           UNION ALL
           SELECT doc_id + off, text, 'planted'
           FROM documents CROSS JOIN o WHERE doc_id % 40 = 0
           UNION ALL
           SELECT doc_id + 2 * off, text, source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0),
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
           SELECT id_a, id_b
           FROM co JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
           WHERE CAST(inter AS DOUBLE) /
             CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.9),
         ps AS (
           SELECT id_a, id_b, ca.source AS src_a, cb.source AS src_b
           FROM pr JOIN corpus ca ON id_a = ca.id
             JOIN corpus cb ON id_b = cb.id),
         mem AS (
           SELECT id_a AS id, (src_a = src_b) AS same FROM ps
           UNION ALL
           SELECT id_b, (src_a = src_b) FROM ps),
         pd AS (
           SELECT id, MAX(CASE WHEN same THEN 1 ELSE 0 END) AS hw,
             MAX(CASE WHEN NOT same THEN 1 ELSE 0 END) AS hc
           FROM mem GROUP BY 1)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN hw IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(SUM(COALESCE(hw, 0)) AS BIGINT) AS n_dup_within,
           CAST(SUM(COALESCE(hc, 0)) AS BIGINT) AS n_dup_cross
         FROM corpus LEFT JOIN pd USING (id)
         GROUP BY source ORDER BY source""",

    "q_cluster_quality" ->
      // analytic replay of the planted Lloyd run (q_cluster_kmeans
      // oracle), aggregated per cluster
      """WITH d AS (
           SELECT CAST(vec_id AS BIGINT) AS id,
             vec_id % 8 AS g,
             (vec_id % 5 + 1) / 1024.0 AS dlt
           FROM embeddings),
         c AS (SELECT g, AVG(dlt) AS c2 FROM d GROUP BY g),
         m AS (
           SELECT id, CAST(d.g AS INTEGER) AS cid,
             (1.0 + dlt * c2) /
               (SQRT(1.0 + dlt * dlt) * SQRT(1.0 + c2 * c2)) AS cosr
           FROM d JOIN c ON d.g = c.g)
         SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(AVG(cosr), 6) AS mean_cos,
           ROUND(MIN(cosr), 6) AS min_cos
         FROM m GROUP BY cid ORDER BY cid""",

    "q_strip_markup" ->
      """WITH w AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               '<html><head><style>p { color: #333; }</style></head>' ||
               '<body><h1>Title &amp; Intro</h1><p>' || text ||
               '</p><script>var x = 1 &lt; 2;</script>' ||
               '<p>42&nbsp;&quot;quoted&#39;</p></body></html>'
             ELSE text END AS text
           FROM documents),
         s AS (
           SELECT doc_id, TRIM(REGEXP_REPLACE(
             REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
             REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
             REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
               text,
               '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
               '<[^>]+>', ' ', 'g'),
               '&nbsp;', ' ', 'g'),
               '&lt;', '<', 'g'),
               '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
               '&#39;', CHR(39), 'g'),
               '&amp;', '&', 'g'),
               '\s+', ' ', 'g')) AS clean_text
           FROM w)
         SELECT doc_id, clean_text,
           CAST(LENGTH(clean_text) AS INT) AS n_chars_clean
         FROM s ORDER BY doc_id""",

    "q_contamination_spans" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         t1 AS (SELECT text AS t1txt FROM documents WHERE doc_id = 1),
         ev AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + off, text || ' ' || t1txt
           FROM documents CROSS JOIN o CROSS JOIN t1
           WHERE doc_id % 10 = 0 AND doc_id % 30 = 0),
         evt AS (
           SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM ev),
         evsh AS (
           SELECT doc_id,
             UNNEST(range(1, GREATEST(LEN(t) - 5, 0) + 2)) AS i,
             UNNEST(list_transform(range(1, GREATEST(LEN(t) - 5, 0) + 2),
               i -> array_to_string(t[i:i+4], ' '))) AS s
           FROM evt),
         trsh AS (
           SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS s
           FROM (SELECT string_split_regex(LOWER(TRIM(text)), '\s+') AS t
                 FROM documents WHERE doc_id % 10 <> 0),
             UNNEST(range(1, GREATEST(LEN(t) - 5, 0) + 2)) AS u(i)),
         hits AS (
           SELECT doc_id, i - 1 AS pos FROM evsh
           WHERE s IN (SELECT s FROM trsh)),
         isl AS (
           SELECT doc_id, pos,
             CASE WHEN LAG(pos) OVER w IS NULL
                    OR pos > LAG(pos) OVER w + 5 THEN 1 ELSE 0 END AS ns
           FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         sids AS (
           SELECT doc_id, pos,
             SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
           FROM isl),
         sp AS (
           SELECT doc_id, sid, COUNT(*) AS nh,
             MAX(pos) + 5 - MIN(pos) AS len
           FROM sids GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(SUM(nh) AS BIGINT) AS n_hits,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(len) AS BIGINT) AS covered_tokens,
             CAST(MAX(len) AS BIGINT) AS max_span
           FROM sp GROUP BY 1)
         SELECT ev.doc_id AS id,
           COALESCE(n_hits, 0) AS n_hits,
           COALESCE(n_spans, 0) AS n_spans,
           COALESCE(covered_tokens, 0) AS covered_tokens,
           COALESCE(max_span, 0) AS max_span
         FROM ev LEFT JOIN agg USING (doc_id) ORDER BY id""",

    "q_search_hybrid" -> {
      val terms = Seq("spark", "query", "join", "filter")
      val tf = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(t, x -> x = '$t')) AS BIGINT) AS tf_$i"
      }.mkString(", ")
      val dfAgg = terms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
        .mkString(", ")
      val contrib = terms.indices.map(i =>
        s"""(CASE WHEN tf_$i > 0 AND df_$i > 0
            THEN (CAST(tf_$i AS DOUBLE) / (CAST(tf_$i AS DOUBLE) + 1.5)) *
                 (CAST(n_corpus AS DOUBLE) / CAST(df_$i AS DOUBLE))
            ELSE 0.0 END)""").mkString(" + ")
      val nHit = terms.indices.map(i =>
        s"(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH d AS (
           SELECT doc_id,
             list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
               x -> LENGTH(x) > 0) AS t
           FROM documents),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM documents),
         tfs AS (SELECT doc_id, $tf FROM d),
         dfr AS (SELECT $dfAgg FROM tfs),
         s AS (
           SELECT doc_id, CAST($nHit AS BIGINT) AS n_hit,
             0.0 + $contrib AS score_raw
           FROM tfs CROSS JOIN dfr CROSS JOIN n),
         tl AS (
           SELECT doc_id, ROUND(score_raw, 6) AS score FROM s
           WHERE n_hit > 0 ORDER BY score_raw DESC, doc_id LIMIT 50),
         tr AS (
           SELECT doc_id, CAST(ROW_NUMBER() OVER
             (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_text
           FROM tl),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
         vl AS (
           SELECT vec_id AS doc_id,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv),
               6) AS simr
           FROM embeddings CROSS JOIN q
           ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv)
             DESC, vec_id LIMIT 50),
         vr AS (
           SELECT doc_id, CAST(ROW_NUMBER() OVER
             (ORDER BY simr DESC, doc_id) AS BIGINT) AS rank_vec
           FROM vl)
         SELECT doc_id, rank_text, rank_vec, rrf FROM (
           SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id,
             rank_text, rank_vec,
             ROUND(COALESCE(1.0 / (60 + rank_text), 0.0) +
                   COALESCE(1.0 / (60 + rank_vec), 0.0), 6) AS rrf
           FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
           ORDER BY rrf DESC, doc_id LIMIT 20)
         ORDER BY rrf DESC, doc_id"""
    },

    "q_stream_topk" ->
      """WITH c AS (
           SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT window_start, event_type, n,
             CAST(ROW_NUMBER() OVER (PARTITION BY window_start
               ORDER BY n DESC, event_type) AS BIGINT) AS rk
           FROM c)
         SELECT window_start, event_type, n, rk FROM r
         WHERE rk <= 3 ORDER BY window_start, rk"""
  )
}
