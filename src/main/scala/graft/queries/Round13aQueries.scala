package graft.queries

import graft.Tables
import graft.ops.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 part 1: the REAL video frame-sampling path — the last
  * multimodal stub closed. Payloads are genuine animated GIF89a
  * streams (4-gray global color table, per-frame graphic-control
  * extensions, real GIF LZW with code-width growth) synthesized from
  * the id; [[Multimodal.sampleFrames]] decodes them with a from-scratch
  * JDK-only GIF/LZW decoder and keeps every 2nd frame. The oracle
  * recomputes each sampled frame's pixel statistics from the
  * generation rule alone — it never sees the bytes, so a defect in the
  * LZW encoder, the sub-block framing, the decoder, or the palette
  * mapping breaks the hash. VideoFramesSpec cross-checks the decoder
  * frame-for-frame against the JDK's independent ImageIO GIF reader.
  */
object Round13aQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- every-2nd-frame sampling over real animated GIFs ----
    // frame f pixel k has gray ((id + 7f + k) % 4) * 85 on a
    // (id%6+2) x (id%4+2) canvas with id%3+2 frames; every 97th
    // payload is corrupted and must come back as one flagged row
    "q_video_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.decodableVideo(
          Tables.load(s, dir, "documents"), "doc_id"), everyK = 2)
        .toDF().orderBy(col("media_id"), col("frame_idx"))),

    // ---- scene-change detection over decoded frame pairs ----
    // the scene payloads' frame-offset deltas cycle 1,2,3,0 (mod 4):
    // delta-0 pairs are identical (no cut), delta-2 pairs shift every
    // pixel two palette steps (mean 170 — a hard cut), delta-1/3 pairs
    // sit near 127 — threshold 100 separates them exactly, and the cut
    // decision is an integer compare (sum > 100 * n_px), never a float
    "q_video_scenes" -> ((s, dir) =>
      Multimodal.sceneChanges(Multimodal.decodableVideoScenes(
          Tables.load(s, dir, "documents"), "doc_id"), thresholdPerPx = 100)
        .toDF().orderBy(col("media_id"), col("frame_idx"))),

    // ---- keyframe selection: the argmax-difference frame ----
    // per decoded video, the frame whose difference from its
    // predecessor is largest (ties broken by the earlier frame) — the
    // cut-aware sampling primitive; one window over the tiny per-pair
    // stats frame, never over pixels
    "q_video_keyframe" -> ((s, dir) => {
      val sc = Multimodal.sceneChanges(Multimodal.decodableVideoScenes(
          Tables.load(s, dir, "documents"), "doc_id"), thresholdPerPx = 100)
        .toDF().filter(col("decode_ok"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id"))
        .orderBy(col("sum_abs_diff").desc, col("frame_idx"))
      sc.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("media_id"), col("frame_idx"), col("sum_abs_diff"))
        .orderBy(col("media_id"))
    }),

    // ---- frame-caption alignment (cross-modal pairing) ----
    // the clip-caption pairing op a multimodal training pipeline runs:
    // sampled frames (REAL decode, t = frame_idx*100 ms) LEFT-join the
    // caption whose [start, end) window covers t — captions are
    // id%3+1 segments of 150 ms, deliberately misaligned with the
    // 100 ms frame grid so covered, boundary, and UNCAPTIONED frames
    // all occur (a lost caption must surface as a null row, not
    // silently drop the frame). The join is an equality key on
    // media_id plus an interval filter; per-media caption counts are
    // <= 3, so at 100 TB this is one bounded equi-join, never a range
    // cross product
    "q_video_captions" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val frames = Multimodal.sampleFrames(
          Multimodal.decodableVideoScenes(docs, "doc_id"), everyK = 2)
        .toDF().filter(col("decode_ok"))
        .select(col("media_id"), col("frame_idx"),
          (col("frame_idx") * 100).as("t_ms"))
      val caps = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id").as("media_id"),
          explode(sequence(lit(0L), col("doc_id") % 3)).as("cj"))
        .select(col("media_id"), col("cj"),
          (col("cj") * 150).as("cs"), (col("cj") * 150 + 150).as("ce"),
          ((col("media_id") + col("cj")) % 5 + 1).as("cap_tokens"))
      frames.join(caps, frames("media_id") === caps("media_id") &&
          col("t_ms") >= col("cs") && col("t_ms") < col("ce"), "left")
        .select(frames("media_id"), col("frame_idx"), col("t_ms"),
          col("cj").as("cap_idx"), col("cap_tokens"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ---- audio screening over decoded PCM samples ----
    // the quality pass a speech corpus runs before transcription:
    // clipping / silence counts, BIGINT-exact energy (sum of squares),
    // peak amplitude — all from the REAL WAV decode; the odd ids of
    // decodableMedia are the audio class, every 97th corrupted
    "q_audio_quality" -> ((s, dir) => {
      // pre-filter to the odd-id audio class BEFORE synthesis — the
      // even ids would otherwise build full PNG payloads only to be
      // dropped (half the per-row work wasted in the hot path)
      Multimodal.audioQuality(
          Multimodal.decodableMedia(
            Tables.load(s, dir, "documents").filter(col("doc_id") % 2 === 1),
            "doc_id"),
          clipAbs = 32000, silentAbs = 1000)
        .toDF().orderBy(col("media_id"))
    })
  )

  def oracles: Map[String, String] = Map(

    "q_video_frames" ->
      // the sampled frames replayed from the generation rule: frames
      // 0, 2, 4 (f % 2 = 0, f < nf), pixels ((id + 7f + k) % 4) * 85
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 6 + 2 AS w,
             doc_id % 4 + 2 AS h, doc_id % 3 + 2 AS nf,
             doc_id % 97 = 0 AS corrupted
           FROM documents),
         f AS (
           SELECT media_id, w, h, nf, UNNEST(range(0, nf)) AS fi
           FROM m WHERE NOT corrupted),
         s AS (
           SELECT media_id, fi, nf, w, h,
             list_transform(range(0, w * h),
               k -> ((media_id + 7 * fi + k) % 4) * 85) AS px
           FROM f WHERE fi % 2 = 0)
         SELECT media_id, CAST(fi AS BIGINT) AS frame_idx,
           CAST(nf AS BIGINT) AS n_frames, CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height, CAST(w * h AS BIGINT) AS n_px,
           CAST(((media_id + 7 * fi) % 4) * 85 AS BIGINT) AS px_first,
           CAST(list_sum(px) AS BIGINT) AS px_sum,
           CAST(list_min(px) AS BIGINT) AS px_min,
           CAST(list_max(px) AS BIGINT) AS px_max,
           TRUE AS decode_ok
         FROM s
         UNION ALL
         SELECT media_id, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), FALSE
         FROM m WHERE corrupted
         ORDER BY media_id, frame_idx""",

    "q_video_scenes" ->
      // consecutive-frame absolute differences replayed from the
      // triangle-offset rule: frame f's offset is f(f+1)/2, so the
      // pair (f-1, f) differs by delta f (mod 4) at every pixel
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 6 + 2 AS w,
             doc_id % 4 + 2 AS h, doc_id % 3 + 3 AS nf,
             doc_id % 97 = 0 AS corrupted
           FROM documents),
         f AS (
           SELECT media_id, w, h, UNNEST(range(1, nf)) AS fi
           FROM m WHERE NOT corrupted),
         s AS (
           SELECT media_id, fi, w, h,
             list_sum(list_transform(range(0, w * h), k ->
               ABS((media_id + (fi * (fi + 1)) // 2 + k) % 4
                 - (media_id + ((fi - 1) * fi) // 2 + k) % 4) * 85))
               AS sad
           FROM f)
         SELECT media_id, CAST(fi AS BIGINT) AS frame_idx,
           CAST(w * h AS BIGINT) AS n_px,
           CAST(COALESCE(sad, 0) AS BIGINT) AS sum_abs_diff,
           COALESCE(sad, 0) > 100 * w * h AS is_cut,
           TRUE AS decode_ok
         FROM s
         UNION ALL
         SELECT media_id, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), FALSE, FALSE
         FROM m WHERE corrupted
         ORDER BY media_id, frame_idx""",

    "q_video_keyframe" ->
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 6 + 2 AS w,
             doc_id % 4 + 2 AS h, doc_id % 3 + 3 AS nf
           FROM documents WHERE doc_id % 97 <> 0),
         f AS (
           SELECT media_id, w, h, UNNEST(range(1, nf)) AS fi
           FROM m),
         s AS (
           SELECT media_id, fi,
             CAST(COALESCE(list_sum(list_transform(range(0, w * h), k ->
               ABS((media_id + (fi * (fi + 1)) // 2 + k) % 4
                 - (media_id + ((fi - 1) * fi) // 2 + k) % 4) * 85)), 0)
               AS BIGINT) AS sad
           FROM f),
         r AS (
           SELECT media_id, fi, sad, ROW_NUMBER() OVER (
             PARTITION BY media_id ORDER BY sad DESC, fi) AS rn
           FROM s)
         SELECT media_id, CAST(fi AS BIGINT) AS frame_idx,
           sad AS sum_abs_diff
         FROM r WHERE rn = 1 ORDER BY media_id""",

    "q_video_captions" ->
      // the alignment replayed from both generation rules: sampled
      // frames at t = 2k*100 ms, captions [150j, 150j+150) for
      // j in 0..id%3; a frame lands in caption floor(t/150) when that
      // index exists, else null
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 3 + 3 AS nf,
             doc_id % 3 + 1 AS nc
           FROM documents WHERE doc_id % 97 <> 0),
         fr AS (
           SELECT media_id, UNNEST(range(0, nf)) AS fi, nc FROM m),
         sf AS (
           SELECT media_id, fi, fi * 100 AS t_ms, nc
           FROM fr WHERE fi % 2 = 0),
         c AS (
           SELECT media_id, UNNEST(range(0, nc)) AS cj FROM m)
         SELECT sf.media_id, CAST(sf.fi AS BIGINT) AS frame_idx,
           CAST(sf.t_ms AS BIGINT) AS t_ms,
           CAST(c.cj AS BIGINT) AS cap_idx,
           CAST((c.media_id + c.cj) % 5 + 1 AS BIGINT) AS cap_tokens
         FROM sf LEFT JOIN c ON sf.media_id = c.media_id
           AND sf.t_ms >= c.cj * 150 AND sf.t_ms < c.cj * 150 + 150
         ORDER BY sf.media_id, frame_idx""",

    "q_audio_quality" ->
      // the decoded-sample screening replayed from the generation
      // rule: sample k = (id*31 + k*7) % 65536 - 32768 over
      // n = id%50+10 samples (the odd-id audio class)
      """WITH m AS (
           SELECT doc_id AS media_id, doc_id % 50 + 10 AS ns,
             doc_id % 97 = 0 AS corrupted
           FROM documents WHERE doc_id % 2 = 1),
         u AS (
           SELECT media_id, list_transform(range(0, ns),
             k -> (media_id * 31 + k * 7) % 65536 - 32768) AS s
           FROM m WHERE NOT corrupted)
         SELECT media_id, CAST(LEN(s) AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(s,
             v -> CASE WHEN ABS(v) >= 32000 THEN 1 ELSE 0 END))
             AS BIGINT) AS n_clipped,
           CAST(list_sum(list_transform(s,
             v -> CASE WHEN ABS(v) < 1000 THEN 1 ELSE 0 END))
             AS BIGINT) AS n_silent,
           CAST(list_sum(list_transform(s, v -> v * v)) AS BIGINT)
             AS sum_sq,
           CAST(list_max(list_transform(s, v -> ABS(v))) AS BIGINT)
             AS peak_abs,
           TRUE AS decode_ok
         FROM u
         UNION ALL
         SELECT media_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), FALSE
         FROM m WHERE corrupted
         ORDER BY media_id""")
}
