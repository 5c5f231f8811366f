package graft.queries

import graft.Tables
import graft.ops.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 part 4: mixed-language span segmentation — the pass a
  * multilingual training-data pipeline runs to slice mixed-language
  * documents into monolingual spans before per-language filtering
  * (doc-level language ID mislabels a document that switches language
  * midway; span grain keeps both halves). Pure composition of the
  * engine's existing pieces: the token chunker (8-token windows,
  * stride 8), the stopword-heuristic language ID applied per chunk,
  * and gaps-and-islands coalescing of ADJACENT same-language chunks —
  * every window partitioned by doc_id, so the post-chunk cost carries
  * the doc key's parallelism. Planted French heads (every 5th doc) and
  * German tails (every 3rd) make multi-span docs certain; the oracle
  * replays chunking, per-chunk language ID, and the island arithmetic
  * end to end.
  */
object Round11dQueries extends QueryModule {

  private val FrHead = "le la les et est une un pas pour dans "
  private val DeTail = " der die das und ist nicht ein eine zu mit"
  private val ChunkSize = 8

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_lang_spans" -> ((s, dir) => {
      val text2 = concat(
        when(col("doc_id") % 5 === 0, lit(FrHead)).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 3 === 0, lit(DeTail)).otherwise(lit("")))
      // loadSpread: the chunk explode + per-chunk language ID must not
      // serialize into the single task a one-file table otherwise
      // yields (see Tables.loadSpread)
      val chunks = Tables.loadSpread(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkTokens(text2, ChunkSize, 0)))
        .select(col("doc_id"), col("pos").cast("long").as("idx"),
          TextAnalysis.langId(col("col")).as("lang"))
      val w = Window.partitionBy(col("doc_id"), col("lang"))
        .orderBy(col("idx"))
      chunks
        .withColumn("_isl", col("idx") - row_number().over(w))
        .groupBy(col("doc_id"), col("lang"), col("_isl"))
        .agg(min(col("idx")).as("start_chunk"),
          max(col("idx")).as("end_chunk"),
          count(lit(1)).as("n_chunks"))
        .select(col("doc_id"), col("lang"), col("start_chunk"),
          col("end_chunk"), col("n_chunks"))
        .orderBy(col("doc_id"), col("start_chunk"), col("lang"))
    }))

  private val langCaseSql: String =
    """CASE WHEN s_de = best AND s_de > 0 THEN 'de'
          WHEN s_en = best AND s_en > 0 THEN 'en'
          WHEN s_es = best AND s_es > 0 THEN 'es'
          WHEN s_fr = best AND s_fr > 0 THEN 'fr'
          ELSE 'und' END"""

  def oracles: Map[String, String] = Map(
    "q_lang_spans" ->
      s"""WITH base AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN '$FrHead' ELSE '' END || text ||
             CASE WHEN doc_id % 3 = 0 THEN '$DeTail' ELSE '' END AS text
           FROM documents),
         toks AS (
           SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\\s+') AS t
           FROM base),
         ch AS (
           SELECT doc_id, list_filter(list_transform(
             range(0, GREATEST(CAST(CEIL(LEN(t) / $ChunkSize.0) AS BIGINT), 1)),
             i -> array_to_string(
               t[i*$ChunkSize+1 : i*$ChunkSize+$ChunkSize], ' ')),
             c -> LENGTH(c) > 0) AS chunks
           FROM toks),
         cl AS (
           SELECT doc_id, UNNEST(range(LEN(chunks))) AS idx,
             UNNEST(chunks) AS chunk
           FROM ch),
         sc AS (
           SELECT doc_id, idx,
             len(list_intersect(list_distinct(string_split_regex(chunk, '\\s+')),
               ['der','die','das','und','ist','nicht','ein','eine','zu','mit'])) AS s_de,
             len(list_intersect(list_distinct(string_split_regex(chunk, '\\s+')),
               ['the','a','of','and','to','in','is','that','it','for'])) AS s_en,
             len(list_intersect(list_distinct(string_split_regex(chunk, '\\s+')),
               ['el','los','las','y','es','una','uno','no','por','para'])) AS s_es,
             len(list_intersect(list_distinct(string_split_regex(chunk, '\\s+')),
               ['le','la','les','et','est','une','un','pas','pour','dans'])) AS s_fr
           FROM cl),
         g AS (SELECT *, GREATEST(s_de, s_en, s_es, s_fr) AS best FROM sc),
         lid AS (SELECT doc_id, idx, $langCaseSql AS lang FROM g),
         isl AS (
           SELECT doc_id, idx, lang,
             idx - ROW_NUMBER() OVER (PARTITION BY doc_id, lang
               ORDER BY idx) AS grp
           FROM lid)
         SELECT doc_id, lang,
           CAST(MIN(idx) AS BIGINT) AS start_chunk,
           CAST(MAX(idx) AS BIGINT) AS end_chunk,
           CAST(COUNT(*) AS BIGINT) AS n_chunks
         FROM isl GROUP BY doc_id, lang, grp
         ORDER BY doc_id, start_chunk, lang""")
}
