package graft.queries

import graft.Tables
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 23: near-dup explanation — the longest common token
  * run per candidate pair, the evidence a removal decision is reviewed
  * on. Planted mid-document copies (junk prefix + 20-token slice +
  * junk suffix) make every pair's best span analytic; the oracle
  * replays the string-gram diagonal-island reduction exactly.
  */
object Round8wQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_match_spans" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      val off = docs.agg(max(col("id"))).head().getAs[Number](0)
        .longValue + 1L
      val toks = split(lower(trim(col("text"))), "\\s+")
      val seed = docs.filter(col("id") % 45 === 0 && size(toks) >= 25)
      val vtext = concat_ws(" ", concat(
        array(lit("zz1"), lit("zz2"), lit("zz3")),
        slice(toks, 6, 20), array(lit("qq1"), lit("qq2"))))
      val corpus = docs.unionByName(
        seed.select((col("id") + off).as("id"), vtext.as("text")))
      val pairs = seed.select(col("id").as("id_a"),
        (col("id") + off).as("id_b"))
      Dedup.matchSpans(corpus, "id", "text", pairs, n = 8)
        .orderBy(col("id_a"))
    }))

  def oracles: Map[String, String] = Map(

    "q_match_spans" ->
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         base AS (SELECT doc_id AS id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         seed AS (SELECT id, t FROM base WHERE id % 45 = 0
           AND LEN(t) >= 25),
         vb AS (SELECT id + off AS id,
             list_concat(list_concat(['zz1', 'zz2', 'zz3'], t[6:25]),
               ['qq1', 'qq2']) AS t
           FROM seed CROSS JOIN o),
         corpus AS (SELECT id, t FROM base
           UNION ALL SELECT id, t FROM vb),
         pairs AS (SELECT s.id AS id_a, s.id + off AS id_b
           FROM seed s CROSS JOIN o),
         g AS (SELECT id, i AS p, array_to_string(t[i:i+7], ' ') AS gram
           FROM (SELECT id, t,
               UNNEST(range(1, GREATEST(LEN(t) - 7, 0) + 1)) AS i
             FROM corpus)),
         m AS (SELECT p2.id_a, p2.id_b, ga.p AS pos_a, gb.p AS pos_b
           FROM pairs p2 JOIN g ga ON ga.id = p2.id_a
                         JOIN g gb ON gb.id = p2.id_b
                           AND gb.gram = ga.gram),
         isl AS (SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a, pos_b,
             pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b,
               pos_a - pos_b ORDER BY pos_a) AS isl
           FROM m),
         runs AS (SELECT id_a, id_b, diag, isl,
             MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
             CAST(COUNT(*) AS BIGINT) AS len_ngrams
           FROM isl GROUP BY 1, 2, 3, 4),
         best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a, id_b
             ORDER BY len_ngrams DESC, start_a, start_b) AS rn
           FROM runs)
         SELECT id_a, id_b, CAST(start_a AS BIGINT) AS start_a,
           CAST(start_b AS BIGINT) AS start_b, len_ngrams,
           len_ngrams + 7 AS len_tokens
         FROM best WHERE rn = 1 ORDER BY id_a""")
}
