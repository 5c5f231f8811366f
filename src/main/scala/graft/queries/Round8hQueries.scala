package graft.queries

import graft.Tables
import graft.ops.{Behavior, Graphs, SeqData, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 8: graph analytics over the events click graph —
  * fixed-point integer PageRank (engine-exact by construction: integer
  * division and commutative integer sums) and the degree-distribution
  * synopsis — plus the per-source n-gram diversity audit. Every query
  * is deterministic and recomputed end to end by its DuckDB oracle.
  */
object Round8hQueries extends QueryModule {

  /** The item key inside events.props JSON. */
  private val itemOf: Column =
    get_json_object(col("props"), "$.k").cast("long")

  /** user ↔ item edges from events (item = props.k offset into its own
    * id space; symmetrized so rank flows both ways through the
    * bipartite graph), read as STORED state via [[GraphFixtures]] —
    * see that object's doc for the staging rationale.
    */
  private def clickEdges(s: SparkSession, dir: String): DataFrame =
    GraphFixtures.clickEdges(s, dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- fixed-point PageRank ----
    "q_pagerank" -> ((s, dir) =>
      Graphs.pageRankFixedPoint(clickEdges(s, dir), iters = 3)
        .orderBy(col("id"))),

    // ---- degree distribution ----
    "q_graph_degrees" -> ((s, dir) =>
      Graphs.degreeHistogram(clickEdges(s, dir))
        .orderBy(col("side"), col("deg"))),

    // ---- multi-source BFS hops ----
    "q_bfs_hops" -> ((s, dir) => {
      // seeds = users who made a purchase; distances over the
      // symmetrized click graph tell how far each item/user sits from
      // the purchasing cohort
      val seeds = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("id")).distinct()
      Graphs.bfsHops(clickEdges(s, dir), seeds, maxHops = 3)
        .orderBy(col("id"))
    }),

    // ---- novel-edge drift per day ----
    // loadSpread (r17): the props-JSON item extraction is per-row CPU
    // that otherwise runs inside the single-split events scan's one
    // map task before the first exchange (measured as a 0.38 s 1-task
    // stage on 32 cores in the cooccur family); conditional — a
    // multi-split scan at scale spreads for free (Tables.loadSpread)
    "q_edge_novelty" -> ((s, dir) =>
      Graphs.edgeNovelty(Tables.loadSpread(s, dir, "events", "event_id"),
          col("user_id"), itemOf, date_trunc("day", col("ts")))
        .orderBy(col("bucket"))),

    // ---- event-type Markov transitions ----
    "q_event_transitions" -> ((s, dir) =>
      Graphs.typeTransitions(Tables.load(s, dir, "events"),
          "user_id", "ts", "event_type", "event_id")
        .orderBy(col("from_type"), col("to_type"))),

    // ---- market-basket item co-occurrence ----
    // loadSpread: see q_edge_novelty — same pre-exchange JSON parse
    "q_item_cooccur" -> ((s, dir) =>
      Graphs.itemCooccurrence(Tables.loadSpread(s, dir, "events", "event_id"),
          "user_id", date_trunc("hour", col("ts")), itemOf, minSupport = 2)
        .orderBy(col("item_a"), col("item_b"))),

    // ---- per-node triangle counts over the co-click graph ----
    // (pair table read as stored state — GraphFixtures)
    "q_triangles" -> ((s, dir) =>
      Graphs.triangleCounts(GraphFixtures.hourCoclickPairs1(s, dir))
        .orderBy(col("item"))),

    // ---- incremental co-occurrence maintenance ----
    "q_cooccur_update" -> ((s, dir) => {
      // stored = first 20 days (unthresholded pair table an earlier job
      // wrote); batch = the rest. The oracle REBUILDS from all events:
      // the query passing proves incremental ≡ rebuild exactly.
      // The stored table really IS a table a prior job wrote: it lands
      // in parquet on first use (the bench warmup pass), so the timed
      // passes price the MAINTENANCE op — read stored + merge batch,
      // the daily-ingest shape — not a rebuild of the fixture (r8
      // verdict: the row benched the rebuild it exists to avoid).
      // loadSpread: see q_edge_novelty — the BATCH side's JSON parse is
      // the timed per-row work (the stored side is a fixture)
      val ev = Tables.loadSpread(s, dir, "events", "event_id")
      val cut = lit("2024-01-21 00:00:00").cast("timestamp")
      val stored = Tables.storedFixture(s, dir, "cooccur_stored_v1") {
        Graphs.itemCooccurrence(ev.filter(col("ts") < cut),
          "user_id", date_trunc("hour", col("ts")), itemOf, minSupport = 1)
      }
      Graphs.updateCooccurrence(stored, ev.filter(col("ts") >= cut),
          "user_id", date_trunc("hour", col("ts")), itemOf)
        .orderBy(col("item_a"), col("item_b"))
    }),

    // ---- offline recommender evaluation (hit-rate@k) ----
    // (plain load, not loadSpread: the spread was A/B-measured slower
    // here — recHitRate persists its projected events frame right away,
    // so the parse cost amortizes across its many consumers)
    "q_rec_eval" -> ((s, dir) =>
      Graphs.recHitRate(Tables.load(s, dir, "events"), "user_id", "ts",
          "event_id", itemOf, date_trunc("hour", col("ts")),
          lit("2024-01-26 00:00:00").cast("timestamp"), k = 5)
        .orderBy(col("user_id"))),

    // ---- last-touch revenue attribution ----
    "q_attribution" -> ((s, dir) =>
      Behavior.lastTouchAttribution(Tables.load(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", "value",
          touchType = "click", convType = "purchase")
        .orderBy(col("event_id"))),

    // ---- RFM segmentation ----
    "q_rfm" -> ((s, dir) =>
      Behavior.rfmSegments(Tables.load(s, dir, "events"),
          "user_id", "ts", "value")
        .orderBy(col("user_id"))),

    // ---- sequence-model training examples ----
    "q_seq_examples" -> ((s, dir) =>
      SeqData.seqExamples(Tables.load(s, dir, "events"), "user_id", "ts",
          "event_id", itemOf, gapSec = 1800, maxHistory = 8,
          negK = 3, nItems = 100)
        .orderBy(col("user_id"), col("session_id"), col("pos"))),

    // ---- per-source n-gram diversity ----
    "q_source_diversity" -> ((s, dir) =>
      TextAnalysis.sourceDiversity(Tables.load(s, dir, "documents"),
          "doc_id", "source", "text")
        .orderBy(col("source")))
  )

  /** Shared oracle CTEs: the symmetrized click graph + one PageRank
    * iteration template (rank mass moves by integer division, so every
    * engine reproduces the exact values).
    */
  private val graphSql: String =
    """ue AS (SELECT DISTINCT user_id AS src,
           1000000 + CAST(json_extract(props, '$.k') AS BIGINT) AS dst
         FROM events),
       e AS (SELECT src, dst FROM ue UNION SELECT dst, src FROM ue),
       deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)"""

  /** (user, hour, item) baskets with the oversized-basket guard
    * mirrored from Graphs.itemCooccurrence (cap 100).
    */
  private[queries] val basketSql: String =
    """b AS (SELECT DISTINCT user_id AS u, DATE_TRUNC('hour', ts) AS h,
           CAST(json_extract(props, '$.k') AS BIGINT) AS item
         FROM events),
       ok AS (SELECT u, h FROM b GROUP BY u, h HAVING COUNT(*) <= 100),
       kept AS (SELECT b.* FROM b JOIN ok ON b.u = ok.u AND b.h = ok.h)"""

  private def prIter(prev: String, cur: String): String =
    s"""$cur AS (SELECT n.id,
           CAST(150000 + COALESCE(c.s, 0) AS BIGINT) AS rank
         FROM nodes n LEFT JOIN (
           SELECT e.dst AS id, SUM((r.rank * 85) // (100 * d.deg)) AS s
           FROM e JOIN deg d ON e.src = d.src
                  JOIN $prev r ON e.src = r.id
           GROUP BY e.dst) c ON n.id = c.id)"""

  def oracles: Map[String, String] = Map(

    "q_pagerank" ->
      s"""WITH $graphSql,
         nodes AS (SELECT DISTINCT src AS id FROM e
                   UNION SELECT DISTINCT dst FROM e),
         r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         ${prIter("r0", "r1")},
         ${prIter("r1", "r2")},
         ${prIter("r2", "r3")}
         SELECT id, rank FROM r3 ORDER BY id""",

    "q_graph_degrees" ->
      s"""WITH $graphSql
         SELECT 'out' AS side, deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
         FROM deg GROUP BY deg
         UNION ALL
         SELECT 'in', deg, CAST(COUNT(*) AS BIGINT) FROM (
           SELECT dst, COUNT(*) AS deg FROM e GROUP BY dst)
         GROUP BY deg
         ORDER BY side, deg""",

    "q_bfs_hops" ->
      s"""WITH RECURSIVE $graphSql,
         seeds AS (SELECT DISTINCT user_id AS id FROM events
           WHERE event_type = 'purchase'),
         reach(id, h) AS (
           SELECT id, 0 FROM seeds
           UNION
           SELECT e.dst, r.h + 1 FROM reach r JOIN e ON r.id = e.src
           WHERE r.h < 3)
         SELECT id, CAST(MIN(h) AS INT) AS hops
         FROM reach GROUP BY id ORDER BY id""",

    "q_edge_novelty" ->
      """WITH eb AS (SELECT DISTINCT user_id AS src,
             CAST(json_extract(props, '$.k') AS BIGINT) AS dst,
             DATE_TRUNC('day', ts) AS bucket
           FROM events),
         f AS (SELECT src, dst, MIN(bucket) AS fb FROM eb GROUP BY 1, 2)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN bucket = fb THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           ROUND(CAST(SUM(CASE WHEN bucket = fb THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
         FROM eb JOIN f USING (src, dst)
         GROUP BY bucket ORDER BY bucket""",

    "q_event_transitions" ->
      """SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
           SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events)
         WHERE to_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY from_type, to_type""",

    "q_item_cooccur" ->
      s"""WITH $basketSql
         SELECT a.item AS item_a, b2.item AS item_b,
           CAST(COUNT(*) AS BIGINT) AS support
         FROM kept a JOIN kept b2
           ON a.u = b2.u AND a.h = b2.h AND a.item < b2.item
         GROUP BY 1, 2 HAVING COUNT(*) >= 2
         ORDER BY item_a, item_b""",

    "q_triangles" ->
      s"""WITH $basketSql,
         p AS (SELECT a.item AS ia, b2.item AS ib
           FROM kept a JOIN kept b2
             ON a.u = b2.u AND a.h = b2.h AND a.item < b2.item
           GROUP BY 1, 2 HAVING COUNT(*) >= 1),
         tri AS (SELECT e1.ia AS a, e1.ib AS b, e2.ib AS c
           FROM p e1 JOIN p e2 ON e1.ib = e2.ia
                     JOIN p e3 ON e3.ia = e1.ia AND e3.ib = e2.ib),
         m AS (SELECT UNNEST([a, b, c]) AS item FROM tri)
         SELECT item, CAST(COUNT(*) AS BIGINT) AS n_triangles
         FROM m GROUP BY item ORDER BY item""",

    "q_cooccur_update" ->
      s"""WITH $basketSql
         SELECT a.item AS item_a, b2.item AS item_b,
           CAST(COUNT(*) AS BIGINT) AS support
         FROM kept a JOIN kept b2
           ON a.u = b2.u AND a.h = b2.h AND a.item < b2.item
         GROUP BY 1, 2 ORDER BY item_a, item_b""",

    "q_rec_eval" ->
      """WITH b AS (SELECT DISTINCT user_id AS u,
             DATE_TRUNC('hour', ts) AS h,
             CAST(json_extract(props, '$.k') AS BIGINT) AS item
           FROM events WHERE ts < TIMESTAMP '2024-01-26'),
         ok AS (SELECT u, h FROM b GROUP BY u, h HAVING COUNT(*) <= 100),
         kept AS (SELECT b.* FROM b JOIN ok ON b.u = ok.u AND b.h = ok.h),
         p AS (SELECT a.item AS ia, b2.item AS ib, COUNT(*) AS sup
           FROM kept a JOIN kept b2
             ON a.u = b2.u AND a.h = b2.h AND a.item < b2.item
           GROUP BY 1, 2),
         hist AS (SELECT DISTINCT user_id AS u,
             CAST(json_extract(props, '$.k') AS BIGINT) AS item
           FROM events WHERE ts < TIMESTAMP '2024-01-26'),
         ho AS (SELECT u, item AS heldout FROM (
             SELECT e.user_id AS u,
               CAST(json_extract(e.props, '$.k') AS BIGINT) AS item,
               ROW_NUMBER() OVER (PARTITION BY e.user_id
                 ORDER BY e.ts, e.event_id) AS rk
             FROM events e LEFT JOIN hist h ON e.user_id = h.u
               AND CAST(json_extract(e.props, '$.k') AS BIGINT) = h.item
             WHERE e.ts >= TIMESTAMP '2024-01-26' AND h.u IS NULL)
           WHERE rk = 1),
         sym AS (SELECT ia AS i, ib AS j, sup FROM p
           UNION ALL SELECT ib, ia, sup FROM p),
         sc AS (SELECT h.u, s.j AS cand, SUM(s.sup) AS score
           FROM hist h JOIN sym s ON h.item = s.i
           LEFT JOIN hist h2 ON h.u = h2.u AND s.j = h2.item
           WHERE h2.u IS NULL GROUP BY 1, 2),
         tk AS (SELECT u, cand, rk FROM (
             SELECT u, cand, ROW_NUMBER() OVER (PARTITION BY u
               ORDER BY score DESC, cand) AS rk
             FROM sc) WHERE rk <= 5)
         SELECT ho.u AS user_id, ho.heldout,
           CAST(tk.rk AS INT) AS hit_rank, (tk.rk IS NOT NULL) AS hit
         FROM ho LEFT JOIN tk ON ho.u = tk.u AND ho.heldout = tk.cand
         ORDER BY user_id""",

    "q_attribution" ->
      """WITH e AS (SELECT user_id AS u,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
             event_id AS eid, event_type AS ty, value AS v
           FROM events),
         t AS (SELECT *,
             MAX(CASE WHEN ty = 'click' THEN es * 100000000 + eid END)
               OVER (PARTITION BY u ORDER BY es
                 RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING) AS touch
           FROM e)
         SELECT eid AS event_id, u AS user_id, es, v AS value,
           touch % 100000000 AS touch_event_id,
           (touch IS NOT NULL) AS attributed
         FROM t WHERE ty = 'purchase' ORDER BY event_id""",

    "q_rfm" ->
      """SELECT user_id, last_es, n_events, cents, r, f, m,
           concat_ws('-', r, f, m) AS segment
         FROM (
           SELECT user_id, last_es, n_events, cents,
             CAST(NTILE(5) OVER (ORDER BY last_es, user_id) AS INT) AS r,
             CAST(NTILE(5) OVER (ORDER BY n_events, user_id) AS INT) AS f,
             CAST(NTILE(5) OVER (ORDER BY cents, user_id) AS INT) AS m
           FROM (
             SELECT user_id,
               MAX(CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT))
                 AS last_es,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
             FROM events GROUP BY user_id))
         ORDER BY user_id""",

    "q_seq_examples" ->
      """WITH e AS (SELECT user_id AS u,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
             event_id AS tie,
             CAST(json_extract(props, '$.k') AS BIGINT) AS item
           FROM events),
         f AS (SELECT u, es, tie, item,
             CASE WHEN LAG(es) OVER (PARTITION BY u ORDER BY es, tie)
                 IS NULL OR
               es - LAG(es) OVER (PARTITION BY u ORDER BY es, tie) > 1800
               THEN 1 ELSE 0 END AS new_s
           FROM e),
         s AS (SELECT u, es, tie, item,
             SUM(new_s) OVER (PARTITION BY u ORDER BY es, tie
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
           FROM f),
         x AS (SELECT u AS user_id, CAST(session_id AS BIGINT) AS session_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY u, session_id
               ORDER BY es, tie) AS INT) AS pos,
             array_to_string(list(item) OVER (PARTITION BY u, session_id
               ORDER BY es, tie
               ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING), ',') AS history,
             item AS label
           FROM s)
         SELECT user_id, session_id, pos, history, label,
           array_to_string(list_transform(range(1, 4), i ->
             CAST(('0x' || SUBSTR(md5(concat_ws(':', user_id, session_id,
               pos, i)), 1, 8)) AS BIGINT) % 100), ',') AS negatives
         FROM x WHERE pos >= 2
         ORDER BY user_id, session_id, pos""",

    "q_source_diversity" ->
      """WITH t AS (SELECT doc_id, source,
             list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
               x -> LENGTH(x) > 0) AS tk
           FROM documents),
         g AS (SELECT doc_id, source,
             UNNEST(CASE WHEN LEN(tk) = 0 THEN []
               ELSE list_transform(range(1, GREATEST(LEN(tk) - 3, 0) + 2),
                 i -> array_to_string(tk[i:i+2], ' ')) END) AS gram
           FROM t)
         SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
           ROUND(CAST(COUNT(DISTINCT gram) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS diversity
         FROM g GROUP BY source ORDER BY source"""
  )
}
