package graft.queries

import graft.Tables
import graft.functions.VectorExpressions
import graft.ops.{Multimodal, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 pack: the accuracy row for the composed IVF+SQ8 path
  * (r15 verdict item 2 — cell pruning CAN drop true neighbors, so the
  * composition must publish recall like every other ANN family member:
  * q_ann_recall, q_pq_recall, q_sq8_recall), plus the per-cell (LOCAL)
  * scalar-quantization family (r15 verdict item 7 — true IVFADC
  * quantizes within the coarse cell: global bounds waste code range in
  * tight cells, so the A/B row prices exactly what local bounds buy).
  */
object Round16Queries extends QueryModule {

  /** (vec_id, embedding, ivf_cid) under the q_ivf_sq8 axis-centroid
    * geometry: cell = argmax of the first 8 raw components, first
    * index on ties — the struct-max form DuckDB replays exactly.
    */
  private def withCell(e: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val comps = array((0 until 8).map(j => element_at(v, j + 1)): _*)
    val best = array_max(zip_with(comps, sequence(lit(0), lit(7)),
      (x, i) => struct(x.as("sim"), (-i).as("negidx"))))
    e.select(col("vec_id"), col("embedding"),
      (-best.getField("negidx")).cast("int").as("ivf_cid"))
  }

  /** Squared reconstruction error of SQ8 under (mns, mxs) bound
    * arrays, in integer units: floor(1e9 * Σ_dims (x - xhat)² + 0.5)
    * as BIGINT. The per-vector inner sum is a dim-ordered left fold
    * (DuckDB's list_reduce replays it term for term — the Round8j
    * precedent); the integer units make the CORPUS-level sum
    * commutative, so any engine in any partition order produces the
    * identical total where a raw double sum would be
    * summation-order-dependent and unverifiable.
    */
  private def sq8ErrUnits(v: Column, mns: Column, mxs: Column): Column = {
    val vhat = transform(v, (x, i) => {
      val m = element_at(mns, i + 1); val big = element_at(mxs, i + 1)
      when(big > m,
        m + least(greatest(floor((x - m) * 255.0 / (big - m) + 0.5),
            lit(0L)), lit(255L)).cast("double") * (big - m) / 255.0)
        .otherwise(m)
    })
    floor(aggregate(zip_with(v, vhat, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, d) => acc + d) * 1e9 + 0.5).cast("long")
  }

  /** The stored per-cell bounds fixture — nCells x dims rows of
    * (ivf_cid, dim, mn, mx), written once at training (the
    * sq8_bounds_v1 precedent).
    */
  private[graft] def localBounds(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixture(s, dir, "ivf_sq8_local_bounds_v1")(
      Similarity.sq8BoundsPerCell(
        withCell(Tables.load(s, dir, "embeddings")), "ivf_cid", "embedding"))

  /** The per-cell-quantized code table, PARTITIONED BY ivf_cid like
    * its globally-quantized sibling: each cell's vectors encoded
    * against that cell's own bounds (driver-side nCells-entry bound
    * map — the PQ-codebook gather), so all 256 codes span the cell's
    * actual range.
    */
  private[graft] def localCodeTable(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixturePartitioned(
        s, dir, "ivf_sq8_local_v1", Seq("ivf_cid")) {
      val assigned = withCell(Tables.load(s, dir, "embeddings"))
      val byCell = localBounds(s, dir).orderBy(col("ivf_cid"), col("dim"))
        .collect()
        .groupBy(_.getAs[Int]("ivf_cid"))
        .view.mapValues { rows =>
          (rows.map(_.getAs[Double]("mn")), rows.map(_.getAs[Double]("mx")))
        }.toMap
      byCell.keys.toSeq.sorted.map { c =>
        val (mnC, mxC) = byCell(c)
        assigned.filter(col("ivf_cid") === c)
          .select(col("vec_id"), col("ivf_cid"),
            VectorExpressions.sq8_encode(col("embedding"), mnC, mxC)
              .as("codes"))
      }.reduce(_ unionByName _)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- recall@10 of the pruned IVF+SQ8 ranking vs exact float ----
    "q_ivf_sq8_recall" -> ((s, dir) => {
      // exact side: brute-force float cosine against the RAW vec-0
      // probe (one scan + TakeOrdered, the q_sq8_recall shape);
      // approx side: the q_ivf_sq8 composition itself — top-2 of 8
      // coarse cells, int8 codes, fused dequantize+cosine. The
      // overlap count is the row; pruning losses (a true neighbor
      // living in a non-probed cell) show up here and nowhere else.
      val e = Tables.load(s, dir, "embeddings")
      val qRaw = e.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toArray
      val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        qRaw, k = 10).select(col("vec_id"))
      val approx = Round15Queries.ivfSq8TopK(s, dir, k = 10)
        .select(col("vec_id"))
      exact.join(approx, Seq("vec_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10).as("k"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(10.0), 6).as("recall"))
    }),

    // ---- what per-cell bounds buy: the reconstruction-error A/B ----
    "q_sq8_local_gain" -> ((s, dir) => {
      // corpus-total squared reconstruction error under GLOBAL bounds
      // vs PER-CELL bounds, in exact integer units (see sq8ErrUnits).
      // Local bounds provably never lose (each cell's span is a subset
      // of the global span), and the gain ratio is the honest price of
      // the extra nCells x dims training state. Recall cannot show
      // this win here — the global quantizer already ranks exactly
      // (q_sq8_recall = 1.0) — so error is the metric, the same way
      // PQ publishes q_pq_gain. One scan + one broadcast join of the
      // nCells-row bound arrays; the output is a single audit row.
      val (mn, mx) = Round14Queries.storedSq8Bounds(s, dir)
      val cellArrays = Similarity.sq8CellBoundArrays(
        localBounds(s, dir), "ivf_cid")
      val assigned = withCell(Tables.load(s, dir, "embeddings"))
      val v = col("embedding").cast("array<double>")
      assigned.join(broadcast(cellArrays), Seq("ivf_cid"))
        .select(
          sq8ErrUnits(v, typedlit(mn), typedlit(mx)).as("gu"),
          sq8ErrUnits(v, col("mns"), col("mxs")).as("lu"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("gu")).as("global_err_units"),
          sum(col("lu")).as("local_err_units"))
        .select(col("n_vectors"), col("global_err_units"),
          col("local_err_units"),
          round(col("global_err_units").cast("double") /
            col("local_err_units"), 6).as("gain"))
    }),

    // ---- serving from the per-cell-quantized code table ----
    "q_ivf_sq8_local" -> ((s, dir) => {
      // the locally-quantized sibling of q_ivf_sq8: same coarse
      // pruning (top-2 of 8 cells, picked by the RAW probe's leading
      // components — no reconstruction needed on the query side), but
      // the in-cell scan dequantizes per the cell's own bounds and
      // scores ASYMMETRICALLY against the raw full-precision query
      // (ADC — quantizing the query against any one cell's bounds
      // would bias every other cell). The fused column-bounds kernel
      // keeps the scan codegen'd; the bound arrays ride a broadcast
      // join of nCells rows.
      val e = Tables.load(s, dir, "embeddings")
      val qRaw = e.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toArray
      val probed = qRaw.take(8).zipWithIndex
        .sortBy { case (x, i) => (-x, i) }.take(2).map(_._2)
      val cellArrays = Similarity.sq8CellBoundArrays(
        localBounds(s, dir), "ivf_cid")
      Similarity.sq8LocalTopKFromCodes(
        localCodeTable(s, dir)
          .filter(col("ivf_cid").isin(probed.map(Int.box).toIndexedSeq: _*)),
        "vec_id", "codes", "ivf_cid", cellArrays, qRaw, k = 10)
    }),

    // ---- PROGRESSIVE (SOF2) JPEG decode + feature extraction ----
    "q_media_jpeg_prog" -> ((s, dir) => {
      // q_media_jpeg's generation rule emitted as REAL multi-scan
      // progressive streams (DC first with successive approximation
      // Al=1, DC refinement, spectral-selection AC band with EOB
      // runs) — the Annex G path the r15 verdict flagged as the last
      // undocumented media boundary. DC-only constant blocks
      // reconstruct exactly through the three-scan reassembly, so the
      // SAME oracle covers it; a bug anywhere in band splitting,
      // refinement, or EOB-run decode breaks the hash. Every 97th
      // payload corrupted -> flagged, never crashed (JpegHostileSpec
      // fuzzes the progressive surfaces; JpegCodecSpec cross-checks
      // against ImageIO's libjpeg scan scripts incl. AC refinement).
      // loadSpread (r16): three-scan progressive decode CPU, one split
      Multimodal.extractFeatures(Multimodal.decodableJpegProg(
          Tables.loadSpread(s, dir, "documents", "doc_id"), "doc_id"))
        .select(col("media_id"), col("n_units"), col("unit_sum"),
          col("unit_min"), col("unit_max"), col("decode_ok"))
        .orderBy(col("media_id"))
    }))

  def oracles: Map[String, String] = Map(

    // same pixels as the baseline payloads (the generation rule is the
    // contract, the scan structure is the engine's concern), so
    // q_media_jpeg's oracle text covers the progressive path verbatim
    "q_media_jpeg_prog" -> Round14Queries.oracles("q_media_jpeg"),

    "q_ivf_sq8_recall" ->
      // approx = the q_ivf_sq8 oracle's pruned ranking (cell argmax of
      // the first 8 raw components, top-2 cells by the reconstructed
      // probe's leading components, SQ8-reconstructed cosine); exact =
      // raw float cosine vs the raw vec-0 probe. Both tie-break by
      // vec_id; the overlap count is the row.
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
           ORDER BY qh[r.i] DESC, r.i LIMIT 2),
         approx AS (
           SELECT rec.vec_id
           FROM rec
           JOIN cid ON rec.vec_id = cid.vec_id
           JOIN probed ON cid.cell = probed.cell
           CROSS JOIN q
           ORDER BY list_cosine_similarity(vhat, qh) DESC, rec.vec_id
           LIMIT 10),
         qe AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         exact AS (SELECT vec_id FROM e CROSS JOIN qe
           ORDER BY list_cosine_similarity(v, qv) DESC, vec_id LIMIT 10)
         SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hits,
           ROUND(CAST(COUNT(*) AS DOUBLE) / 10.0, 6) AS recall
         FROM exact JOIN approx USING (vec_id)""",

    "q_sq8_local_gain" ->
      // global and per-cell bounds both replayed from the base table;
      // reconstruction via the floor(u + 0.5) SQ8 formula; per-vector
      // squared error summed dim-ordered (list_reduce — the Round8j
      // precedent), then floored to 1e-9 integer units so the corpus
      // sum is commutative-exact in both engines
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cid AS (
           SELECT vec_id,
             CAST(list_position(v8, list_max(v8)) - 1 AS INT) AS cell
           FROM (SELECT vec_id,
                   list_transform(range(1, 9), i -> v[i]) AS v8 FROM e)),
         d AS (
           SELECT e.vec_id, cid.cell, r.dim, v[r.dim] AS x
           FROM e JOIN cid ON e.vec_id = cid.vec_id
           CROSS JOIN range(1, 65) r(dim)),
         b AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY dim),
         bb AS (SELECT list(mn ORDER BY dim) AS mns,
                       list(mx ORDER BY dim) AS mxs FROM b),
         lb AS (SELECT cell, dim, MIN(x) AS mn, MAX(x) AS mx
                FROM d GROUP BY cell, dim),
         lbb AS (SELECT cell, list(mn ORDER BY dim) AS lmns,
                        list(mx ORDER BY dim) AS lmxs FROM lb GROUP BY cell),
         errv AS (
           SELECT e.vec_id, v,
             list_transform(range(1, 65), i ->
               CASE WHEN mxs[i] > mns[i] THEN
                 mns[i] + LEAST(GREATEST(FLOOR(
                   (v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]) + 0.5),
                   0), 255) * (mxs[i] - mns[i]) / 255.0
               ELSE mns[i] END) AS gvhat,
             list_transform(range(1, 65), i ->
               CASE WHEN lmxs[i] > lmns[i] THEN
                 lmns[i] + LEAST(GREATEST(FLOOR(
                   (v[i] - lmns[i]) * 255.0 / (lmxs[i] - lmns[i]) + 0.5),
                   0), 255) * (lmxs[i] - lmns[i]) / 255.0
               ELSE lmns[i] END) AS lvhat
           FROM e JOIN cid ON e.vec_id = cid.vec_id
           JOIN lbb ON cid.cell = lbb.cell
           CROSS JOIN bb),
         err AS (
           SELECT vec_id,
             CAST(FLOOR(list_reduce(list_transform(range(1, 65), i ->
               (v[i] - gvhat[i]) * (v[i] - gvhat[i])), (x, y) -> x + y)
               * 1e9 + 0.5) AS BIGINT) AS gu,
             CAST(FLOOR(list_reduce(list_transform(range(1, 65), i ->
               (v[i] - lvhat[i]) * (v[i] - lvhat[i])), (x, y) -> x + y)
               * 1e9 + 0.5) AS BIGINT) AS lu
           FROM errv)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(gu) AS BIGINT) AS global_err_units,
           CAST(SUM(lu) AS BIGINT) AS local_err_units,
           ROUND(CAST(SUM(gu) AS DOUBLE) / SUM(lu), 6) AS gain
         FROM err""",

    "q_ivf_sq8_local" ->
      // per-cell bounds, per-cell reconstruction, ASYMMETRIC cosine
      // against the raw vec-0 probe; cells picked by the raw probe's
      // leading components (no query-side reconstruction)
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cid AS (
           SELECT vec_id,
             CAST(list_position(v8, list_max(v8)) - 1 AS INT) AS cell
           FROM (SELECT vec_id,
                   list_transform(range(1, 9), i -> v[i]) AS v8 FROM e)),
         d AS (
           SELECT e.vec_id, cid.cell, r.dim, v[r.dim] AS x
           FROM e JOIN cid ON e.vec_id = cid.vec_id
           CROSS JOIN range(1, 65) r(dim)),
         lb AS (SELECT cell, dim, MIN(x) AS mn, MAX(x) AS mx
                FROM d GROUP BY cell, dim),
         lbb AS (SELECT cell, list(mn ORDER BY dim) AS lmns,
                        list(mx ORDER BY dim) AS lmxs FROM lb GROUP BY cell),
         lrec AS (
           SELECT e.vec_id, cid.cell,
             list_transform(range(1, 65), i ->
               CASE WHEN lmxs[i] > lmns[i] THEN
                 lmns[i] + LEAST(GREATEST(FLOOR(
                   (v[i] - lmns[i]) * 255.0 / (lmxs[i] - lmns[i]) + 0.5),
                   0), 255) * (lmxs[i] - lmns[i]) / 255.0
               ELSE lmns[i] END) AS vhat
           FROM e JOIN cid ON e.vec_id = cid.vec_id
           JOIN lbb ON cid.cell = lbb.cell),
         qe AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         probed AS (
           SELECT CAST(r.i - 1 AS INT) AS cell
           FROM range(1, 9) r(i) CROSS JOIN qe
           ORDER BY qv[r.i] DESC, r.i LIMIT 2)
         SELECT lrec.vec_id,
           ROUND(list_cosine_similarity(vhat, qv), 6) AS sim
         FROM lrec
         JOIN probed ON lrec.cell = probed.cell
         CROSS JOIN qe
         ORDER BY list_cosine_similarity(vhat, qv) DESC, lrec.vec_id
         LIMIT 10""")
}
