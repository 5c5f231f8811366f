package graft.queries

import graft.Tables
import graft.ops.{Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-14 pack: the baseline-grayscale JPEG decode as a first-class
  * driver row (r13 verdict item 3 — the first extension in the
  * reference's IMAGE resolver list, `pkg/handlers/insert.go:199`, and
  * the last real-corpus format that was still header-only).
  */
object Round14Queries extends QueryModule {

  /** SQ8 bounds staged as a [[Tables.storedFixture]] (r14 verdict item
    * 2): a 64-row (dim, mn, mx) parquet frame written once, collected
    * as the |dims|-row parameterization of the scoring expression.
    */
  private[queries] def storedSq8Bounds(s: SparkSession, dir: String): (Array[Double], Array[Double]) = {
    val b = Tables.storedFixture(s, dir, "sq8_bounds_v1")(
        Similarity.sq8Bounds(Tables.load(s, dir, "embeddings"), "embedding"))
      .orderBy(col("dim")).collect()
    (b.map(_.getAs[Double]("mn")), b.map(_.getAs[Double]("mx")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- real baseline JPEG decode + feature extraction ----
    "q_media_jpeg" -> ((s, dir) => {
      // genuine baseline JFIF payloads (standard Annex K Huffman
      // tables, all-ones quant) built from 8x8-constant blocks, which
      // are DC-only and round-trip bit-exactly — so the oracle
      // recomputes the DECODED pixel statistics from the generation
      // rule alone and a decoder bug anywhere (marker walk, Huffman,
      // dequant, zigzag, IDCT, level shift) breaks the hash. Every
      // 97th payload is corrupted and must flag, not crash.
      // JpegCodecSpec cross-checks the decoder against ImageIO on
      // NON-constant images and on ImageIO-encoded streams.
      // loadSpread (r16): the decode is real per-image CPU and the
      // driver testdata scan is one split — single-task without it
      Multimodal.extractFeatures(Multimodal.decodableJpeg(
          Tables.loadSpread(s, dir, "documents", "doc_id"), "doc_id"))
        .select(col("media_id"), col("n_units"), col("unit_sum"),
          col("unit_min"), col("unit_max"), col("decode_ok"))
        .orderBy(col("media_id"))
    }),

    // ---- JPEG thumbnail round trip (both codec directions timed) ----
    "q_media_jpeg_thumbs" -> ((s, dir) =>
      // decode(16x16-constant blocks) -> 2x2 box-average (exact DIV 4,
      // which preserves the constants) -> RE-ENCODE as a real baseline
      // JPEG (8x8-constant thumb = DC-only = bit-exact) -> RE-DECODE
      // and report the thumbnail's pixel stats. A defect in the
      // Huffman WRITER, bit stuffing, or FDCT breaks this oracle, not
      // just the decoder. thumb_bytes is real but Huffman-sized, so
      // it stays out of the oracle projection.
      // loadSpread (r16): decode+re-encode was a 1.7 s single task
      Multimodal.thumbnailsJpeg(Multimodal.decodableJpegThumbSource(
          Tables.loadSpread(s, dir, "documents", "doc_id"), "doc_id"))
        .toDF()
        .select(col("media_id"), col("src_w"), col("src_h"),
          col("thumb_w"), col("thumb_h"), col("px_sum"), col("px_min"),
          col("px_max"), col("thumb_ok"))
        .orderBy(col("media_id"))),

    // ---- scalar int8 quantization top-k (embedding storage at scale) ----
    "q_sq8_topk" -> ((s, dir) => {
      // per-dimension global bounds -> int8 codes -> DEQUANTIZED cosine
      // top-10 for the id-0 probe (raw code dots are biased under the
      // affine map; real SQ8 retrieval reconstructs before scoring).
      // floor(u + 0.5) instead of round(): IEEE double arithmetic is
      // bit-defined across engines, round-half tie policies are not,
      // so DuckDB replays the codes exactly. Bounds are STAGED
      // training-time state (r14 verdict item 2, the PQ-codebook
      // precedent): written once via storedFixture, so the timed path
      // prices the serving scan + TakeOrdered only. Doubles round-trip
      // parquet bit-exactly, so the staged bounds are the identical
      // values the aggregate produced and the oracle (which replays
      // the full bounds build from the base table) is unchanged.
      val (mn, mx) = storedSq8Bounds(s, dir)
      Similarity.sq8TopKFromBounds(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", mn, mx, queryId = 0L, k = 10)
    }),

    // ---- SQ8 recall@10 vs the exact float-cosine ranking ----
    "q_sq8_recall" -> ((s, dir) => {
      // the family-completeness row (r14 verdict item 3): every ANN
      // member publishes its accuracy against the exact ranking
      // (q_ann_recall, q_pq_recall, q_ivf_sweep) — this is SQ8's.
      val (mn, mx) = storedSq8Bounds(s, dir)
      Similarity.sq8Recall(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", mn, mx, queryId = 0L, k = 10)
    }),

    // ---- caption-table skew audit (cross-modal pairing guard) ----
    "q_caption_audit" -> ((s, dir) => {
      // the hubAudit discipline applied to q_video_captions' caption
      // side: the media_id equi-join fans |frames| x |captions| per
      // media, so caption-count skew must surface in an audit row, not
      // silently inflate a join. Cap 2 so the synthetic corpus's
      // 3-caption media (doc_id % 3 == 2) land over it — the audit has
      // something real to count at every SF.
      val caps = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id").as("media_id"),
          explode(sequence(lit(0L), col("doc_id") % 3)).as("cj"))
      Multimodal.captionAudit(caps, "media_id", maxCapsPerMedia = 2)
    }))

  def oracles: Map[String, String] = Map(

    "q_media_jpeg" ->
      // generation rule: bw = id%4+1, bh = id%3+1 blocks of 8x8, block
      // (bi, bj) filled with (id + 7*bi + 13*bj) % 256; every 97th
      // payload corrupted -> flagged with zeroed stats
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 4 + 1 AS bw,
             doc_id % 3 + 1 AS bh, doc_id % 97 = 0 AS corrupted
           FROM documents),
         u AS (
           SELECT media_id, bw, bh, corrupted,
             flatten(list_transform(range(0, bh), bi ->
               list_transform(range(0, bw), bj ->
                 (media_id + 7 * bi + 13 * bj) % 256))) AS blocks
           FROM m)
         SELECT media_id,
           CASE WHEN corrupted THEN 0
             ELSE CAST(64 * bw * bh AS BIGINT) END AS n_units,
           CASE WHEN corrupted THEN 0
             ELSE CAST(64 * list_sum(blocks) AS BIGINT) END AS unit_sum,
           CASE WHEN corrupted THEN 0
             ELSE CAST(list_min(blocks) AS BIGINT) END AS unit_min,
           CASE WHEN corrupted THEN 0
             ELSE CAST(list_max(blocks) AS BIGINT) END AS unit_max,
           NOT corrupted AS decode_ok
         FROM u ORDER BY media_id""",

    "q_sq8_topk" ->
      // the corpus is fixed 64-dim; range(1, 65) indexes the list 1-based
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         d AS (
           SELECT vec_id, r.dim, v[r.dim] AS x
           FROM e CROSS JOIN range(1, 65) r(dim)),
         b AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY dim),
         bb AS (SELECT list(mn ORDER BY dim) AS mns,
                       list(mx ORDER BY dim) AS mxs FROM b),
         rec AS (
           SELECT vec_id, list_transform(range(1, 65), i ->
             CASE WHEN mxs[i] > mns[i] THEN
               mns[i] + LEAST(GREATEST(FLOOR(
                 (v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]) + 0.5),
                 0), 255) * (mxs[i] - mns[i]) / 255.0
             ELSE mns[i] END) AS vhat
           FROM e CROSS JOIN bb),
         q AS (SELECT vhat AS qh FROM rec WHERE vec_id = 0)
         SELECT vec_id,
           ROUND(list_cosine_similarity(vhat, qh), 6) AS sim
         FROM rec CROSS JOIN q
         ORDER BY list_cosine_similarity(vhat, qh) DESC, vec_id LIMIT 10""",

    "q_sq8_recall" ->
      // exact ranking: cosine of the raw double-cast vectors against
      // the raw vec-0 probe; approx ranking: the q_sq8_topk rec CTE.
      // Both tie-break by vec_id; the overlap count is the row.
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         d AS (
           SELECT vec_id, r.dim, v[r.dim] AS x
           FROM e CROSS JOIN range(1, 65) r(dim)),
         b AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY dim),
         bb AS (SELECT list(mn ORDER BY dim) AS mns,
                       list(mx ORDER BY dim) AS mxs FROM b),
         rec AS (
           SELECT vec_id, list_transform(range(1, 65), i ->
             CASE WHEN mxs[i] > mns[i] THEN
               mns[i] + LEAST(GREATEST(FLOOR(
                 (v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]) + 0.5),
                 0), 255) * (mxs[i] - mns[i]) / 255.0
             ELSE mns[i] END) AS vhat
           FROM e CROSS JOIN bb),
         q AS (SELECT vhat AS qh FROM rec WHERE vec_id = 0),
         qe AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         approx AS (SELECT vec_id FROM rec CROSS JOIN q
           ORDER BY list_cosine_similarity(vhat, qh) DESC, vec_id LIMIT 10),
         exact AS (SELECT vec_id FROM e CROSS JOIN qe
           ORDER BY list_cosine_similarity(v, qv) DESC, vec_id LIMIT 10)
         SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hits,
           ROUND(CAST(COUNT(*) AS DOUBLE) / 10.0, 6) AS recall
         FROM exact JOIN approx USING (vec_id)""",

    "q_media_jpeg_thumbs" ->
      // thumb pixel (r, c) inherits block (r/8, c/8)'s constant value:
      // box-averaging a 16x16-constant block is the identity on its
      // value, so stats replay from the generation rule exactly as in
      // q_media_jpeg — but the engine earned them through decode ->
      // downsample -> encode -> decode
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 4 + 1 AS bw,
             doc_id % 3 + 1 AS bh, doc_id % 97 = 0 AS corrupted
           FROM documents),
         u AS (
           SELECT media_id, bw, bh, corrupted,
             flatten(list_transform(range(0, bh), bi ->
               list_transform(range(0, bw), bj ->
                 (media_id + 7 * bi + 13 * bj) % 256))) AS blocks
           FROM m)
         SELECT media_id,
           CASE WHEN corrupted THEN 0 ELSE 16 * bw END AS src_w,
           CASE WHEN corrupted THEN 0 ELSE 16 * bh END AS src_h,
           CASE WHEN corrupted THEN 0 ELSE 8 * bw END AS thumb_w,
           CASE WHEN corrupted THEN 0 ELSE 8 * bh END AS thumb_h,
           CASE WHEN corrupted THEN 0
             ELSE CAST(64 * list_sum(blocks) AS BIGINT) END AS px_sum,
           CASE WHEN corrupted THEN 0
             ELSE CAST(list_min(blocks) AS BIGINT) END AS px_min,
           CASE WHEN corrupted THEN 0
             ELSE CAST(list_max(blocks) AS BIGINT) END AS px_max,
           NOT corrupted AS thumb_ok
         FROM u ORDER BY media_id""",

    "q_caption_audit" ->
      """WITH c AS (
           SELECT doc_id % 3 + 1 AS n FROM documents WHERE doc_id % 97 <> 0)
         SELECT
           CAST(SUM(CASE WHEN n > 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_media_over_cap,
           CAST(SUM(CASE WHEN n > 2 THEN n ELSE 0 END) AS BIGINT)
             AS n_caption_rows_over,
           CAST(SUM(CASE WHEN n <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_media_ok,
           CAST(MAX(n) AS BIGINT) AS max_caps
         FROM c""")
}
