package graft.queries

import graft.ops.MasterData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 part 1 (r9 verdict items 2 and 9): the no-silent-caps
  * audits around blocked entity resolution, and a second blocking-key
  * family over the same corpus proving the operator is not
  * shape-coupled to its fixture.
  *
  * The audit corpus extends the round-9b digit-word corpus with
  * HEAD-edit variants ('z' + chars 2..35, every 40th key, offset
  * 2·off): a head edit is reachable only through the REVERSE-prefix
  * pass, and with an 18-char reverse prefix those blocks are the
  * ~1000-row `id div 1000` groups the 64-cap drops — so the planted
  * head pairs are provably UNREACHABLE and must be reported as such
  * ([[MasterData.pairReachability]]), while the audit
  * ([[MasterData.linkageAudit]]) counts exactly the dropped blocks
  * and the rows inside them.
  *
  * The second key family is the residue-class character subsequence:
  * pass "odd" blocks on chars 1,3,5,… and pass "even" on chars
  * 2,4,6,… — a single SUBSTITUTION at position p changes exactly one
  * of the two keys, so the other pass always presents the pair (exact
  * recall for substitution-distance-1, the fixture's planted edit
  * class), with near-singleton blocks because each key still encodes
  * every word of the name.
  */
object Round10aQueries extends QueryModule {

  private val auditKeys =
    MasterData.prefixKeys(col("nm"), prefixLen = 18, revPrefixLen = 18)

  private def residueKeys = Seq(
    "even" -> regexp_replace(substring(col("nm"), 2, 34), "(.).", "$1"),
    "odd" -> regexp_replace(col("nm"), "(.).", "$1"))

  /** Round-9b corpus (tail variants at +off) plus head variants at
    * +2·off for every 40th original key — staged as stored state like
    * the round-9b corpus (r10 verdict item 3).
    */
  private def headCorpus(s: SparkSession, dir: String): DataFrame =
    graft.Tables.storedFixture(s, dir, "head_corpus_v1") {
      val base = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"))
      val off = broadcast(base.agg((max(col("id")) + 1L).as("_off")))
      val named = Round9bQueries.namedCorpus(s, dir)
      named.unionByName(
        named.filter(col("id") % 40 === 0).crossJoin(off)
          .filter(col("id") < col("_off")) // originals only, not tail variants
          .select((col("id") + col("_off") * 2L).as("id"),
            concat(lit("z"), substring(col("nm"), 2, 34)).as("nm")))
    }

  /** The residue-key blocked index as stored state (r10 verdict item
    * 3): members and per-block dfs for the second key family, staged
    * once so q_entities_keys pays only candidate generation +
    * verification + clustering — the same daily-run shape as
    * q_entities.
    */
  private def residueMembers(s: SparkSession, dir: String): DataFrame =
    graft.Tables.storedFixture(s, dir, "residue_members_v1")(
      MasterData.linkageMembers(Round9bQueries.corpusFixture(s, dir),
        "id", "nm", residueKeys))

  private def residueDfs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.storedFixture(s, dir, "residue_dfs_v1")(
      MasterData.linkageBlockDfs(residueMembers(s, dir)))

  /** The planted probe pairs: every tail pair (id, id+off) and every
    * head pair (id, id+2·off).
    */
  private def probePairs(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.load(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("id"))
    val off = broadcast(base.agg((max(col("id")) + 1L).as("_off")))
    base.filter(col("id") % 25 === 0).crossJoin(off)
      .select(col("id").as("id_a"), (col("id") + col("_off")).as("id_b"))
      .unionByName(base.filter(col("id") % 40 === 0).crossJoin(off)
        .select(col("id").as("id_a"),
          (col("id") + col("_off") * 2L).as("id_b")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- dropped-hot-block audit (r9 verdict item 2) ----
    "q_linkage_audit" -> ((s, dir) =>
      MasterData.linkageAudit(headCorpus(s, dir), "id", "nm",
          auditKeys, maxBlockDf = 64)
        .orderBy(col("pass"))),

    // ---- probe-pair reachability: dropped blocks are not silent ----
    "q_linkage_reach" -> ((s, dir) =>
      MasterData.pairReachability(headCorpus(s, dir), "id", "nm",
          auditKeys, maxBlockDf = 64, probePairs(s, dir))
        .orderBy(col("id_a"), col("id_b"))),

    // ---- second blocking-key family (r9 verdict item 9) ----
    "q_entities_keys" -> ((s, dir) =>
      MasterData.resolveEntitiesFromMembers(
          Round9bQueries.corpusFixture(s, dir), "id",
          residueMembers(s, dir), residueDfs(s, dir),
          maxDist = 1, maxBlockDf = 64)
        .orderBy(col("id"))))

  /** Shared DuckDB scaffolding: the head-extended corpus. */
  private val corpusSql: String =
    s"""w AS (SELECT ['alpha','bravo','charl','delta','echox',
           'foxtr','golfx','hotel','india','julie'] AS ws),
         base AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
         o AS (SELECT MAX(id) + 1 AS off FROM base),
         named0 AS (SELECT id, ${Round9bQueries.nameSql} AS nm
           FROM base CROSS JOIN w),
         named AS (SELECT * FROM named0
           UNION ALL
           SELECT id + off, substr(nm, 1, 34) || 'z'
           FROM named0 CROSS JOIN o WHERE id % 25 = 0),
         corpus AS (SELECT * FROM named
           UNION ALL
           SELECT id + 2 * off, 'z' || substr(nm, 2, 34)
           FROM named0 CROSS JOIN o WHERE id % 40 = 0),
         m AS (
           SELECT 'fwd' AS pass, substr(nm, 1, 18) AS blk, id, nm
           FROM corpus
           UNION ALL
           SELECT 'rev', substr(reverse(nm), 1, 18), id, nm FROM corpus),
         hot AS (SELECT pass, blk FROM m GROUP BY pass, blk
           HAVING COUNT(*) > 64),
         kept AS (SELECT m.* FROM m
           WHERE NOT EXISTS (SELECT 1 FROM hot h
             WHERE h.pass = m.pass AND h.blk = m.blk))"""

  def oracles: Map[String, String] = Map(

    "q_linkage_audit" ->
      s"""WITH $corpusSql,
         dfs AS (SELECT pass, blk, CAST(COUNT(*) AS BIGINT) AS df
           FROM m GROUP BY pass, blk)
         SELECT pass,
           CAST(COALESCE(SUM(CASE WHEN df > 64 THEN 1 END), 0) AS BIGINT)
             AS n_blocks_dropped,
           CAST(COALESCE(SUM(CASE WHEN df > 64 THEN df END), 0) AS BIGINT)
             AS n_rows_in_dropped,
           CAST(COALESCE(SUM(CASE WHEN df <= 64 THEN 1 END), 0) AS BIGINT)
             AS n_blocks_kept
         FROM dfs GROUP BY pass ORDER BY pass""",

    "q_linkage_reach" ->
      s"""WITH $corpusSql,
         probes AS (
           SELECT id AS id_a, id + off AS id_b
           FROM base CROSS JOIN o WHERE id % 25 = 0
           UNION ALL
           SELECT id, id + 2 * off FROM base CROSS JOIN o
           WHERE id % 40 = 0)
         SELECT p.id_a, p.id_b,
           COALESCE(BOOL_OR(kb.id IS NOT NULL), FALSE) AS reachable
         FROM probes p
         LEFT JOIN kept ka ON ka.id = p.id_a
         LEFT JOIN kept kb ON kb.id = p.id_b
           AND kb.pass = ka.pass AND kb.blk = ka.blk
         GROUP BY p.id_a, p.id_b
         ORDER BY id_a, id_b""",

    "q_entities_keys" ->
      s"""WITH RECURSIVE
         w AS (SELECT ['alpha','bravo','charl','delta','echox',
           'foxtr','golfx','hotel','india','julie'] AS ws),
         base AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
         o AS (SELECT MAX(id) + 1 AS off FROM base),
         named0 AS (SELECT id, ${Round9bQueries.nameSql} AS nm
           FROM base CROSS JOIN w),
         named AS (SELECT * FROM named0
           UNION ALL
           SELECT id + off, substr(nm, 1, 34) || 'z'
           FROM named0 CROSS JOIN o WHERE id % 25 = 0),
         m AS (
           SELECT 'even' AS pass,
             regexp_replace(substr(nm, 2, 34), '(.).', '\\1', 'g') AS blk,
             id, nm
           FROM named
           UNION ALL
           SELECT 'odd', regexp_replace(nm, '(.).', '\\1', 'g'), id, nm
           FROM named),
         hot AS (SELECT pass, blk FROM m GROUP BY pass, blk
           HAVING COUNT(*) > 64),
         kept AS (SELECT m.* FROM m
           WHERE NOT EXISTS (SELECT 1 FROM hot h
             WHERE h.pass = m.pass AND h.blk = m.blk)),
         pairs AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM kept a JOIN kept b
             ON a.pass = b.pass AND a.blk = b.blk AND a.id < b.id
           WHERE levenshtein(a.nm, b.nm) <= 1),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         cc AS (SELECT src AS id, LEAST(src, MIN(dst)) AS cluster_id
           FROM reach GROUP BY src),
         lab AS (SELECT n.id, COALESCE(cc.cluster_id, n.id) AS entity_id
           FROM named n LEFT JOIN cc ON n.id = cc.id),
         sz AS (SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members
           FROM lab GROUP BY 1)
         SELECT id, entity_id, n_members, (id = entity_id) AS is_canonical
         FROM lab JOIN sz USING (entity_id) ORDER BY id""")
}
