package graft.queries

import graft.Tables
import graft.ops.{Pipelines, Profile, Sampling, Search}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 2: catalog-grade operators the pipeline layer was still
  * missing — full-text relevance search over an inverted index, one-
  * pass whole-table column profiling, order-independent corpus
  * fingerprinting, and snapshot diffing. Every query is deterministic
  * and recomputed end to end by its DuckDB oracle.
  */
object Round8bQueries extends QueryModule {

  private val searchTerms = Seq("spark", "query", "join", "filter")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- inverted-index relevance search (BM25-style, rational idf) ----
    "q_text_search" -> ((s, dir) => {
      // scoring is exact-integer tf/df/N combined with IEEE-exact
      // double ops in a fixed fold order, so both engines produce
      // bit-identical scores; ties (docs with identical tf vectors)
      // break by doc_id. The presentation orderBy uses the ROUNDED
      // score on purpose: the oracle's outer ORDER BY must see the
      // same key, or two raw scores that collide only after rounding
      // would order differently across engines (top-20 SELECTION
      // happens on raw scores inside searchDocs, same as the oracle's
      // LIMIT)
      Search.searchDocs(Tables.load(s, dir, "documents"),
          "doc_id", "text", searchTerms, k = 20)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // ---- one-pass column profile (orders: 3 dtypes, 6 columns) ----
    "q_profile" -> ((s, dir) =>
      Profile.profile(Tables.load(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
        .orderBy(col("col_name"))),

    // ---- order-independent corpus fingerprint per source ----
    "q_fingerprint" -> ((s, dir) =>
      Profile.corpusFingerprint(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source")
        .orderBy(col("grp"))),

    // ---- the inverted index itself, as a queryable artifact ----
    "q_postings" -> ((s, dir) =>
      // postings of the four standing query terms: the index structure
      // (term, doc_id, tf) is itself the oracle-checked output here —
      // q_text_search checks the ranking computed FROM it
      Search.invertedIndex(Tables.load(s, dir, "documents"), "doc_id", "text")
        .filter(col("term").isin(searchTerms: _*))
        .orderBy(col("term"), col("doc_id"))),

    // ---- exact-phrase search over the positional index ----
    "q_phrase_search" -> ((s, dir) =>
      Search.phraseSearch(
        Search.positionalIndex(Tables.load(s, dir, "documents"), "doc_id", "text"),
        Seq("query", "join"), k = 20)
        .orderBy(col("n_matches").desc, col("doc_id"))),

    // ---- containment / quote search (asymmetric shingle coverage) ----
    "q_quote_search" -> ((s, dir) => {
      // query passage = doc 0's text, selected IN-PLAN: doc 0 itself
      // must come back at containment 1.0, everything else ranks by
      // how much of the passage's 3-gram set it carries
      val docs = Tables.load(s, dir, "documents")
      Search.containmentSearchDoc(docs, "doc_id", "text",
          docs.filter(col("doc_id") === 0L).select(col("text")), n = 3, k = 20)
        .orderBy(col("n_contained").desc, col("doc_id"))
    }),

    // ---- per-source data card (fingerprint × importance rollup) ----
    "q_pipeline_catalog" -> ((s, dir) =>
      Pipelines.sourceCatalog(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", isTarget = col("source") === "src0")
        .orderBy(col("grp"))),

    // ---- incremental index maintenance (≡ rebuild, oracle-proven) ----
    "q_index_update" -> ((s, dir) => {
      // planted delta against the v1 corpus: every 17th doc edited,
      // every 41st re-added as a new id, every 31st deleted. The
      // output is the UPDATED index (restricted to the standing terms);
      // the oracle builds the v2 corpus from scratch and indexes it —
      // the incremental path must reproduce the rebuild exactly
      // the id offset stays IN-PLAN (broadcast 1-row cross join, like
      // the oracle's CROSS JOIN o) — an eager agg().head() here would
      // add a full extra table scan inside the benched region
      val v1 = Tables.load(s, dir, "documents")
      val off = broadcast(v1.agg((max(col("doc_id")) + 1L).as("_off")))
      val edits = v1.filter(col("doc_id") % 17 === 0 && col("doc_id") % 31 =!= 0)
        .select(col("doc_id"), concat(col("text"), lit(" updated spark query")).as("text"))
      val adds = v1.filter(col("doc_id") % 41 === 0).crossJoin(off)
        .select((col("doc_id") + col("_off")).as("doc_id"), col("text"))
      val deletes = v1.filter(col("doc_id") % 31 === 0).select(col("doc_id"))
      Search.updateIndex(
          Search.invertedIndex(v1, "doc_id", "text"),
          edits.unionByName(adds), deletes, "doc_id", "text")
        .filter(col("term").isin(searchTerms: _*))
        .orderBy(col("term"), col("doc_id"))
    }),

    // ---- proximity search (terms within a slop window) ----
    "q_near_search" -> ((s, dir) =>
      Search.proximitySearch(
        Search.positionalIndex(Tables.load(s, dir, "documents"), "doc_id", "text"),
        "query", "join", slop = 3, k = 20)
        .orderBy(col("n_pairs").desc, col("doc_id"))),

    // ---- snippet extraction around the first hit ----
    "q_search_snippets" -> ((s, dir) =>
      Search.searchSnippets(Tables.load(s, dir, "documents"),
          "doc_id", "text", "spark", k = 20)
        .orderBy(col("tf").desc, col("doc_id"))),

    // ---- streaming windowed content fingerprint (batch form) ----
    "q_stream_fingerprint" -> ((s, dir) =>
      // identical plan serves readStream (StreamingSpec proves
      // stream/batch equality); the oracle recomputes each hour's
      // xor-combined event hashes from scratch
      Streams.windowedFingerprint(Tables.load(s, dir, "events"), "1 hour")
        .orderBy(col("window_start"))),

    // ---- DSIR-flavored hashed-n-gram importance scoring ----
    "q_importance" -> ((s, dir) =>
      // target distribution = the 'src0' slice; every doc scored by
      // integer-quantized target/background bucket ratios — exact
      // integer sums, so the full frame is hash-comparable
      Sampling.importanceWeights(Tables.load(s, dir, "documents"),
          "doc_id", "text", isTarget = col("source") === "src0")
        .orderBy(col("id"))),

    // ---- snapshot diff (planted v2: drops, edits, adds) ----
    "q_snapshot_diff" -> ((s, dir) => {
      // v2 derived from v1 by exact integer rules: every 31st doc
      // dropped, every 17th surviving doc edited (text + ' v2'),
      // every 41st doc re-added as a new id past the v1 range — the
      // diff must classify all four ways via content hashes alone
      val v1 = Tables.load(s, dir, "documents")
      val off = broadcast(v1.agg((max(col("doc_id")) + 1L).as("_off")))
      val kept = v1.filter(col("doc_id") % 31 =!= 0)
      val edited = kept.withColumn("text",
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      val added = v1.filter(col("doc_id") % 41 === 0).crossJoin(off)
        .select((col("doc_id") + col("_off")).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val v2 = edited.unionByName(added)
      Profile.snapshotDiff(v1, v2, "doc_id", "text", "source")
        .orderBy(col("grp"), col("status"))
    })
  )

  def oracles: Map[String, String] = Map(

    "q_text_search" -> {
      val tf = searchTerms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(t, x -> x = '$t')) AS BIGINT) AS tf_$i"
      }.mkString(", ")
      val df = searchTerms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
        .mkString(", ")
      val contrib = searchTerms.indices.map(i =>
        s"""(CASE WHEN tf_$i > 0 AND df_$i > 0
            THEN (CAST(tf_$i AS DOUBLE) / (CAST(tf_$i AS DOUBLE) + 1.5)) *
                 (CAST(n_corpus AS DOUBLE) / CAST(df_$i AS DOUBLE))
            ELSE 0.0 END)""").mkString(" + ")
      val nHit = searchTerms.indices.map(i =>
        s"(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH d AS (
           SELECT doc_id,
             list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
               x -> LENGTH(x) > 0) AS t
           FROM documents),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM documents),
         tf AS (SELECT doc_id, $tf FROM d),
         dfr AS (SELECT $df FROM tf),
         s AS (
           SELECT doc_id,
             CAST($nHit AS BIGINT) AS n_hit,
             0.0 + $contrib AS score_raw
           FROM tf CROSS JOIN dfr CROSS JOIN n)
         SELECT doc_id, n_hit, score FROM (
           SELECT doc_id, n_hit, ROUND(score_raw, 6) AS score
           FROM s WHERE n_hit > 0 ORDER BY score_raw DESC, doc_id LIMIT 20)
         ORDER BY score DESC, doc_id"""
    },

    "q_profile" -> {
      val cols = Seq(
        ("o_orderkey", "bigint", "num"), ("o_custkey", "bigint", "num"),
        ("o_orderstatus", "string", "str"), ("o_totalprice", "double", "num"),
        ("o_orderdate", "timestamp_ntz", "ts"), ("o_orderpriority", "string", "str"))
      cols.map { case (c, dt, kind) =>
        val (mn, mx) = kind match {
          case "num" => (s"CAST(MIN($c) AS DOUBLE)", s"CAST(MAX($c) AS DOUBLE)")
          case "ts" => (s"CAST(epoch_us(MIN($c)) AS DOUBLE)",
            s"CAST(epoch_us(MAX($c)) AS DOUBLE)")
          case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
        }
        val (ms, xs) =
          if (kind == "str") (s"MIN($c)", s"MAX($c)")
          else ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        s"""SELECT '$c' AS col_name, '$dt' AS dtype,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
             CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             $mn AS min_num, $mx AS max_num,
             $ms AS min_str, $xs AS max_str
           FROM orders"""
      }.mkString("", "\n         UNION ALL ", "\n         ORDER BY col_name")
    },

    "q_importance" ->
      """WITH tok AS (
           SELECT doc_id AS id, (source = 'src0') AS is_t,
             UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
               x -> LENGTH(x) > 0)) AS w
           FROM documents),
         bk AS (
           SELECT id, is_t,
             CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b
           FROM tok),
         bs AS (
           SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tcnt,
             COUNT(*) AS bcnt
           FROM bk GROUP BY b),
         tot AS (SELECT SUM(tcnt) AS ttot, SUM(bcnt) AS btot FROM bs),
         r AS (
           SELECT b, CAST(FLOOR(
             (CAST(tcnt + 1 AS DOUBLE) / (CAST(ttot AS DOUBLE) + 256.0)) /
             (CAST(bcnt + 1 AS DOUBLE) / (CAST(btot AS DOUBLE) + 256.0)) *
             1000.0) AS BIGINT) AS r
           FROM bs CROSS JOIN tot),
         db AS (SELECT id, b, COUNT(*) AS c FROM bk GROUP BY id, b),
         s AS (
           SELECT id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(SUM(c * r) AS BIGINT) AS score
           FROM db JOIN r USING (b) GROUP BY id)
         SELECT d.doc_id AS id,
           COALESCE(n_tokens, 0) AS n_tokens,
           COALESCE(score, 0) AS score
         FROM documents d LEFT JOIN s ON d.doc_id = s.id
         ORDER BY id""",

    "q_postings" -> {
      val inList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (
           SELECT doc_id,
             list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
               x -> LENGTH(x) > 0) AS t
           FROM documents),
         p AS (SELECT doc_id, UNNEST(t) AS term FROM d)
         SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         FROM p WHERE term IN ($inList)
         GROUP BY term, doc_id ORDER BY term, doc_id"""
    },

    "q_phrase_search" ->
      """WITH d AS (
           SELECT doc_id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         p AS (
           SELECT doc_id, UNNEST(t) AS term,
             generate_subscripts(t, 1) AS pos
           FROM d),
         a AS (SELECT doc_id, pos FROM p WHERE term = 'query'),
         b AS (SELECT doc_id, pos FROM p WHERE term = 'join')
         SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(a.pos) - 1 AS BIGINT) AS first_pos
         FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         GROUP BY a.doc_id
         ORDER BY n_matches DESC, a.doc_id LIMIT 20""",

    "q_quote_search" ->
      """WITH qt AS (
           SELECT string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents WHERE doc_id = 0),
         qs AS (
           SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS sh
           FROM qt, UNNEST(range(1, GREATEST(LEN(t) - 3, 0) + 2)) AS u(i)
           WHERE LENGTH(array_to_string(t[i:i+2], ' ')) > 0),
         nq AS (SELECT COUNT(*) AS nq FROM qs),
         dt AS (
           SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         ds AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
           FROM dt, UNNEST(range(1, GREATEST(LEN(t) - 3, 0) + 2)) AS u(i)
           WHERE LENGTH(array_to_string(t[i:i+2], ' ')) > 0)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contained,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(nq) AS DOUBLE), 6)
             AS containment
         FROM ds JOIN qs USING (sh) CROSS JOIN nq
         GROUP BY doc_id
         ORDER BY n_contained DESC, doc_id LIMIT 20""",

    "q_pipeline_catalog" ->
      """WITH tok AS (
           SELECT doc_id AS id, (source = 'src0') AS is_t,
             UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
               x -> LENGTH(x) > 0)) AS w
           FROM documents),
         bk AS (
           SELECT id, is_t,
             CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b
           FROM tok),
         bs AS (
           SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tcnt,
             COUNT(*) AS bcnt
           FROM bk GROUP BY b),
         tot AS (SELECT SUM(tcnt) AS ttot, SUM(bcnt) AS btot FROM bs),
         r AS (
           SELECT b, CAST(FLOOR(
             (CAST(tcnt + 1 AS DOUBLE) / (CAST(ttot AS DOUBLE) + 256.0)) /
             (CAST(bcnt + 1 AS DOUBLE) / (CAST(btot AS DOUBLE) + 256.0)) *
             1000.0) AS BIGINT) AS r
           FROM bs CROSS JOIN tot),
         db AS (SELECT id, b, COUNT(*) AS c FROM bk GROUP BY id, b),
         s AS (
           SELECT id, SUM(c) AS n_tokens, SUM(c * r) AS score
           FROM db JOIN r USING (b) GROUP BY id),
         imp AS (
           SELECT d.source AS grp,
             SUM(COALESCE(s.score, 0)) AS sc,
             SUM(COALESCE(s.n_tokens, 0)) AS tk
           FROM documents d LEFT JOIN s ON d.doc_id = s.id
           GROUP BY 1),
         fp AS (
           SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
               AS BIGINT) AS n_tokens,
             bit_xor(CAST(('0x' || substr(md5(
               CAST(doc_id AS VARCHAR) || ':' || COALESCE(text, '')), 1, 15))
               AS BIGINT)) AS fingerprint
           FROM documents GROUP BY source)
         SELECT fp.grp, n_docs, n_tokens, fingerprint,
           CASE WHEN tk > 0
             THEN ROUND(CAST(sc AS DOUBLE) / CAST(tk AS DOUBLE), 6)
             ELSE 0.0 END AS affinity_per_token
         FROM fp JOIN imp ON fp.grp = imp.grp
         ORDER BY fp.grp""",

    "q_index_update" -> {
      val inList = searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 17 = 0
               THEN text || ' updated spark query' ELSE text END AS text
           FROM documents WHERE doc_id % 31 <> 0
           UNION ALL
           SELECT doc_id + off, text
           FROM documents CROSS JOIN o WHERE doc_id % 41 = 0),
         d AS (
           SELECT doc_id,
             list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
               x -> LENGTH(x) > 0) AS t
           FROM v2),
         p AS (SELECT doc_id, UNNEST(t) AS term FROM d)
         SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         FROM p WHERE term IN ($inList)
         GROUP BY term, doc_id ORDER BY term, doc_id"""
    },

    "q_near_search" ->
      """WITH d AS (
           SELECT doc_id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         p AS (
           SELECT doc_id, UNNEST(t) AS term,
             generate_subscripts(t, 1) AS pos
           FROM d),
         a AS (SELECT doc_id, pos FROM p WHERE term = 'query'),
         b AS (SELECT doc_id, pos FROM p WHERE term = 'join')
         SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
         FROM a JOIN b ON a.doc_id = b.doc_id AND ABS(b.pos - a.pos) <= 3
         GROUP BY a.doc_id
         ORDER BY n_pairs DESC, a.doc_id LIMIT 20""",

    "q_search_snippets" ->
      """WITH d AS (
           SELECT doc_id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         m AS (
           SELECT doc_id, t,
             COALESCE(list_position(t, 'spark'), 0) AS p,
             CAST(LEN(list_filter(t, x -> x = 'spark')) AS BIGINT) AS tf
           FROM d)
         SELECT doc_id, tf,
           CAST(p - 1 AS BIGINT) AS first_pos,
           array_to_string(t[GREATEST(p - 4, 1) : GREATEST(p - 4, 1) + 8], ' ')
             AS snippet
         FROM m WHERE p > 0
         ORDER BY tf DESC, doc_id LIMIT 20""",

    "q_stream_fingerprint" ->
      """SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           bit_xor(CAST(('0x' || substr(md5(
             CAST(event_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR) ||
             ':' || COALESCE(event_type, '') || ':' || COALESCE(props, '')),
             1, 15)) AS BIGINT)) AS fingerprint
         FROM events GROUP BY 1 ORDER BY window_start""",

    "q_fingerprint" ->
      """SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
             AS BIGINT) AS n_tokens,
           bit_xor(CAST(('0x' || substr(md5(
             CAST(doc_id AS VARCHAR) || ':' || COALESCE(text, '')), 1, 15))
             AS BIGINT)) AS fingerprint
         FROM documents GROUP BY source ORDER BY grp""",

    "q_snapshot_diff" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         v1 AS (
           SELECT doc_id AS id, source AS grp,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
               COALESCE(text, '')), 1, 15)) AS BIGINT) AS h
           FROM documents),
         v2raw AS (
           SELECT doc_id AS id, source AS grp,
             CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 31 <> 0
           UNION ALL
           SELECT doc_id + off, source, text
           FROM documents CROSS JOIN o WHERE doc_id % 41 = 0),
         v2 AS (
           SELECT id, grp,
             CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':' ||
               COALESCE(text, '')), 1, 15)) AS BIGINT) AS h
           FROM v2raw),
         j AS (
           SELECT COALESCE(b.grp, a.grp) AS grp,
             CASE WHEN a.id IS NULL THEN 'added'
               WHEN b.id IS NULL THEN 'removed'
               WHEN a.h = b.h THEN 'unchanged'
               ELSE 'changed' END AS status
           FROM v1 a FULL OUTER JOIN v2 b ON a.id = b.id)
         SELECT grp, status, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM j GROUP BY grp, status ORDER BY grp, status"""
  )
}
