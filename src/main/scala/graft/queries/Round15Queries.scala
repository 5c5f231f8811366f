package graft.queries

import graft.Tables
import graft.functions.VectorExpressions
import graft.ops.{Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 pack: the baseline 4:2:0 COLOR JPEG path as a first-class
  * driver row (r14 verdict item 6 — the last media-family boundary
  * that was grayscale-only; real corpora are 3-component YCbCr).
  */
object Round15Queries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- real 4:2:0 color JPEG decode + RGB stats ----
    "q_media_jpeg_color" -> ((s, dir) => {
      // genuine interleaved 3-component 4:2:0 baseline payloads: Y
      // constant per 8x8 luma block, chroma constant per 16x16 MCU —
      // all DC-only, so the decoded YCbCr is generation-rule exact and
      // the RGB stats replay through the floor(x+0.5) JFIF convert
      // (IEEE-double bit-defined in both engines). A bug anywhere in
      // the color path — MCU interleave order, per-component DC
      // prediction, chroma upsample, the convert — breaks the hash.
      // Every 97th payload is corrupted and must flag, not crash.
      // JpegCodecSpec cross-checks the color pair against ImageIO in
      // BOTH directions.
      // loadSpread (r16): per-image color decode CPU, one split
      Multimodal.rgbStats(Multimodal.decodableJpegColor(
          Tables.loadSpread(s, dir, "documents", "doc_id"), "doc_id"))
        .toDF()
        .select(col("media_id"), col("w"), col("h"), col("n_px"),
          col("r_sum"), col("g_sum"), col("b_sum"), col("rgb_min"),
          col("rgb_max"), col("decode_ok"))
        .orderBy(col("media_id"))
    }),

    // ---- SQ8 top-k served from the stored int8 CODE TABLE ----
    "q_sq8_codes" -> ((s, dir) => {
      // the compressed-serving variant of q_sq8_topk: scan the stored
      // 64-byte-per-vector BINARY code table (written once at ingest
      // next to the bounds — the 4x storage win SQ8 exists for) and
      // rank with the fused dequantize+cosine codegen kernel. The
      // arithmetic order is bit-identical to the float path, so the
      // q_sq8_topk oracle covers this path too; the 1-row probe lookup
      // against the base table is the queryVec precedent.
      val (mn, mx) = Round14Queries.storedSq8Bounds(s, dir)
      val e = Tables.load(s, dir, "embeddings")
      val codes = Tables.storedFixture(s, dir, "sq8_codes_v1")(
        Similarity.sq8Encode(e, "vec_id", "embedding", mn, mx))
      val qhat = Similarity.sq8DequantizedProbe(
        e, "vec_id", "embedding", mn, mx, queryId = 0L)
      Similarity.sq8TopKFromCodes(codes, "vec_id", "codes",
        mn, mx, qhat, k = 10)
    }),

    // ---- IVF cell pruning OVER the SQ8 code table ----
    "q_ivf_sq8" -> ((s, dir) => ivfSq8TopK(s, dir, k = 10)))

  /** The composed IVF+SQ8 ranking — the production ANN layout with
    * BOTH index structures: a coarse IVF cell for pruning (scan
    * ~nProbe/nCells of the corpus) and int8 codes for the in-cell
    * scan (4x less IO) — IVFADC's coarse+fine shape with a scalar
    * quantizer. Cells use the Round9d axis-centroid geometry: one-hot
    * centroids make cosine argmax equal raw-component argmax,
    * computed WITHOUT the |v| division (IEEE division can map close
    * neighbors to the same double, flipping first-index tie-breaks),
    * so DuckDB replays the assignment exactly. The fixture is written
    * PARTITIONED BY ivf_cid — the declared 100 TB layout itself,
    * matching the buildIvfIndex/probeIvfIndex precedent — so the
    * cell IN-filter prunes at the DIRECTORY level (PartitionFilters
    * in the scan, asserted in Round16Spec), not merely per row
    * group: non-probed cells are never listed, let alone read.
    * Shared by q_ivf_sq8 (the ranking row) and q_ivf_sq8_recall (its
    * accuracy row).
    */
  private[graft] def ivfSq8TopK(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    val (mn, mx) = Round14Queries.storedSq8Bounds(s, dir)
    val e = Tables.load(s, dir, "embeddings")
    val codes = ivfSq8CodeTable(s, dir, mn, mx)
    val qhat = Similarity.sq8DequantizedProbe(
      e, "vec_id", "embedding", mn, mx, queryId = 0L)
    // top-2 cells by the probe's own leading components (one-hot
    // centroid cosine order), index tie-break — the driver-side
    // mirror of the oracle's ORDER BY qh[i] DESC, i LIMIT 2
    val probed = qhat.take(8).zipWithIndex
      .sortBy { case (x, i) => (-x, i) }.take(2).map(_._2)
    Similarity.sq8TopKFromCodes(
      codes.filter(col("ivf_cid").isin(probed.map(Int.box).toIndexedSeq: _*)),
      "vec_id", "codes", mn, mx, qhat, k)
  }

  /** The (vec_id, codes, ivf_cid)-partitioned stored code table behind
    * [[ivfSq8TopK]] — built once, read directory-pruned ever after.
    */
  private[graft] def ivfSq8CodeTable(s: SparkSession, dir: String,
      mn: Array[Double], mx: Array[Double]): DataFrame =
    Tables.storedFixturePartitioned(
        s, dir, "ivf_sq8_codes_v2", Seq("ivf_cid")) {
      val e = Tables.load(s, dir, "embeddings")
      val v = col("embedding").cast("array<double>")
      val comps = array((0 until 8).map(j => element_at(v, j + 1)): _*)
      val best = array_max(zip_with(comps, sequence(lit(0), lit(7)),
        (x, i) => struct(x.as("sim"), (-i).as("negidx"))))
      e.select(col("vec_id"),
        (-best.getField("negidx")).cast("int").as("ivf_cid"),
        VectorExpressions.sq8_encode(col("embedding"), mn, mx).as("codes"))
    }

  def oracles: Map[String, String] = Map(

    // the code-table path returns bit-identical rows to the float
    // path (same IEEE arithmetic order through stored int8 codes),
    // so q_sq8_topk's oracle text covers it verbatim
    "q_sq8_codes" -> Round14Queries.oracles("q_sq8_topk"),

    "q_ivf_sq8" ->
      // cell = argmax of the first 8 raw components (one-hot axis
      // centroids; first index on ties == the engine's (sim, -idx)
      // struct-max); probed = top-2 cells by the reconstructed
      // probe's leading components; ranking = the q_sq8_topk rec CTE
      // restricted to the probed cells
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
         cid AS (
           SELECT vec_id,
             CAST(list_position(v8, list_max(v8)) - 1 AS INT) AS cell
           FROM (SELECT vec_id,
                   list_transform(range(1, 9), i -> v[i]) AS v8 FROM e)),
         probed AS (
           SELECT CAST(r.i - 1 AS INT) AS cell
           FROM range(1, 9) r(i) CROSS JOIN q
           ORDER BY qh[r.i] DESC, r.i LIMIT 2)
         SELECT rec.vec_id,
           ROUND(list_cosine_similarity(vhat, qh), 6) AS sim
         FROM rec
         JOIN cid ON rec.vec_id = cid.vec_id
         JOIN probed ON cid.cell = probed.cell
         CROSS JOIN q
         ORDER BY list_cosine_similarity(vhat, qh) DESC, rec.vec_id
         LIMIT 10""",

    "q_media_jpeg_color" ->
      // generation rule: mw = id%3+1, mh = id%2+1 MCUs of 16x16;
      // luma block (bi, bj) = (id + 11 bi + 17 bj) % 256 with
      // bi = 2 mi + dd/2, bj = 2 mj + dd%2; chroma per MCU
      // cb = (3 id + 29 mi + 31 mj) % 256, cr = (5 id + 37 mi + 41 mj)
      // % 256; RGB = JFIF inverse convert, FLOOR(x + 0.5), clamped —
      // the decoder's exact arithmetic (Multimodal.decodeJpegRgbDims)
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 3 + 1 AS mw,
             doc_id % 2 + 1 AS mh, doc_id % 97 = 0 AS corrupted
           FROM documents),
         u AS (
           SELECT media_id, mw, mh, corrupted,
             flatten(flatten(list_transform(range(0, mh), mi ->
               list_transform(range(0, mw), mj ->
                 list_transform(range(0, 4), dd -> {
                   'y': (media_id + 11 * (2 * mi + dd // 2)
                         + 17 * (2 * mj + dd % 2)) % 256,
                   'cb': (3 * media_id + 29 * mi + 31 * mj) % 256,
                   'cr': (5 * media_id + 37 * mi + 41 * mj) % 256
                 }))))) AS blocks
           FROM m),
         v AS (
           SELECT media_id, mw, mh, corrupted,
             list_transform(blocks, s -> {
               'r': LEAST(255, GREATEST(0,
                 FLOOR(s.y + 1.402 * (s.cr - 128) + 0.5))),
               'g': LEAST(255, GREATEST(0,
                 FLOOR(s.y - 0.344136 * (s.cb - 128)
                   - 0.714136 * (s.cr - 128) + 0.5))),
               'b': LEAST(255, GREATEST(0,
                 FLOOR(s.y + 1.772 * (s.cb - 128) + 0.5)))
             }) AS px
           FROM u)
         SELECT media_id,
           CASE WHEN corrupted THEN 0 ELSE 16 * mw END AS w,
           CASE WHEN corrupted THEN 0 ELSE 16 * mh END AS h,
           CASE WHEN corrupted THEN 0
             ELSE CAST(256 * mw * mh AS BIGINT) END AS n_px,
           CASE WHEN corrupted THEN 0 ELSE CAST(
             64 * list_sum(list_transform(px, s -> s.r)) AS BIGINT)
             END AS r_sum,
           CASE WHEN corrupted THEN 0 ELSE CAST(
             64 * list_sum(list_transform(px, s -> s.g)) AS BIGINT)
             END AS g_sum,
           CASE WHEN corrupted THEN 0 ELSE CAST(
             64 * list_sum(list_transform(px, s -> s.b)) AS BIGINT)
             END AS b_sum,
           CASE WHEN corrupted THEN 0 ELSE CAST(list_min(
             list_transform(px, s -> LEAST(s.r, s.g, s.b))) AS BIGINT)
             END AS rgb_min,
           CASE WHEN corrupted THEN 0 ELSE CAST(list_max(
             list_transform(px, s -> GREATEST(s.r, s.g, s.b))) AS BIGINT)
             END AS rgb_max,
           NOT corrupted AS decode_ok
         FROM v ORDER BY media_id""")
}
