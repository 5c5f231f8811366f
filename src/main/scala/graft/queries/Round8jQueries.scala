package graft.queries

import graft.Tables
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 10: product quantization (Jégou et al., TPAMI 2011) —
  * the compressed-domain ANN path: deterministic sampled codebooks,
  * PQ encoding (64 doubles → 8 nibble codes), asymmetric-distance
  * top-k, and the recall audit against the exact ranking. Codebooks
  * are (md5(id), id)-sampled, so every stage — including the
  * approximate ranking — is engine-exact and recomputed end to end by
  * its DuckDB oracle.
  */
object Round8jQueries extends QueryModule {

  private val M = 8  // subspaces (64 dims / 8 = 8 dims each)
  private val K = 16 // codewords per subspace (4-bit codes)

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Codebooks staged as a [[Tables.storedFixture]] (r11 verdict item
    * 1, the q_entities precedent): a PQ deployment trains its codebooks
    * ONCE and serves encode/ADC/recall against the stored M×K×dsub
    * table — rebuilding the 4-iteration Lloyd run inside every query
    * priced the training, not the serving. The fixture is a tiny
    * (M·K)-row parquet frame (j, code, cw); doubles round-trip
    * bit-exactly, so the staged codebooks are the identical arrays the
    * build produced and every downstream number is unchanged (oracles
    * still replay the full training from base tables).
    */
  private def storedCodebooks(s: SparkSession, dir: String, name: String)(
      build: => Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("j", IntegerType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("cw", ArrayType(DoubleType, containsNull = false))))
    val df = Tables.storedFixture(s, dir, name) {
      val cbs = build
      val rows: Seq[Row] = for {
        (sub, j) <- cbs.zipWithIndex.toSeq
        (cw, c) <- sub.zipWithIndex
      } yield Row(j, c, cw.toSeq)
      s.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), schema)
    }
    val out = Array.ofDim[Array[Double]](M, K)
    df.collect().foreach { r =>
      out(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    require(out.forall(_.forall(_ != null)), s"fixture $name incomplete")
    out
  }

  private def probe(s: SparkSession, dir: String): Array[Double] =
    emb(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /** The q_ann_lsh planting: 9 exact copies of the probe vector at
    * off..off+8. Copies share the probe's per-subspace argmin codes,
    * so their ADC distance is Σ_j min_c dt[j][c] — the global minimum
    * by construction: planted-certainty for the approximate top-k.
    */
  private def withProbeCopies(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val off = e.agg(max(col("vec_id"))).head().getAs[Number](0).longValue + 1L
    // ONE explode of the probe row, not 9 unioned single-row scans —
    // the previous reduce(unionByName) plan re-scanned embeddings 10x
    val probeRow = e.filter(col("vec_id") === 0)
    e.unionByName(probeRow
      .select(explode(sequence(lit(0L), lit(8L))).as("_i"),
        col("embedding"), col("label"))
      .select((col("_i") + lit(off)).as("vec_id"), col("embedding"),
        col("label")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- PQ encoding: codes + quantization error ----
    "q_pq_encode" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = storedCodebooks(s, dir, "pq_cb_sampled_raw_v1")(
        Similarity.pqCodebooks(e, "vec_id", "embedding", M, K))
      Similarity.pqEncode(e, "vec_id", "embedding", cb)
        .select(col("vec_id"),
          concat_ws("-", col("codes").cast("array<string>")).as("codes"),
          round(col("err"), 6).as("err"))
        .orderBy(col("vec_id"))
    }),

    // ---- asymmetric-distance top-k, planted-certainty form ----
    "q_pq_topk" -> ((s, dir) => {
      val corpus = withProbeCopies(s, dir)
      val cb = storedCodebooks(s, dir, "pq_cb_sampled_copies_v1")(
        Similarity.pqCodebooks(corpus, "vec_id", "embedding", M, K))
      val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
      Similarity.pqAdcTopK(enc, "vec_id", "codes", cb, probe(s, dir), topK = 10)
        .select(col("vec_id"), round(col("approx_dist"), 6).as("approx_dist"))
    }),

    // ---- recall@10 of ADC vs the exact squared-L2 ranking ----
    "q_pq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = storedCodebooks(s, dir, "pq_cb_sampled_raw_v1")(
        Similarity.pqCodebooks(e, "vec_id", "embedding", M, K))
      Similarity.pqRecall(e, "vec_id", "embedding", cb, probe(s, dir), k = 10)
    }),

    // ---- ADC top-k under TRAINED codebooks (4 Lloyd steps) ----
    "q_pq_trained" -> ((s, dir) => {
      val raw = emb(s, dir)
      val q = raw.select(col("vec_id"),
        Similarity.pqQuantize(col("embedding")).as("qv"))
      val cb = storedCodebooks(s, dir, "pq_cb_trained_v1")(
        Similarity.pqTrainCodebooks(raw, "vec_id", "embedding",
          M, K, iters = 4))
      val qprobe = q.filter(col("vec_id") === 0)
        .head().getSeq[Double](1).toArray
      Similarity.pqAdcTopK(
          Similarity.pqEncode(q, "vec_id", "qv", cb),
          "vec_id", "codes", cb, qprobe, topK = 10)
        // scale the quantized-grid distance back to real space before
        // rounding: /2^40 is exact, and rounding a ~0.6 double to 6 dp
        // is engine-stable where rounding a ~6e11 one is sub-ULP noise
        .select(col("vec_id"),
          round(col("approx_dist") / lit(1099511627776.0), 6).as("approx_dist"))
    }),

    // ---- the training payoff: mean recall@10 over 10 probes ----
    "q_pq_gain" -> ((s, dir) => {
      val raw = emb(s, dir)
      val q = raw.select(col("vec_id"),
        Similarity.pqQuantize(col("embedding")).as("qv"))
      val probes = q.filter(col("vec_id") < 10).orderBy(col("vec_id"))
        .collect().map(r => r.getAs[Number](0).longValue ->
          r.getSeq[Double](1).toArray).toSeq
      val sampled = storedCodebooks(s, dir, "pq_cb_sampled_q_v1")(
        Similarity.pqCodebooks(q, "vec_id", "qv", M, K))
      val trained = storedCodebooks(s, dir, "pq_cb_trained_v1")(
        Similarity.pqTrainCodebooks(raw, "vec_id", "embedding",
          M, K, iters = 4))
      // ONE plan for both codebooks (r16): the exact ranking is shared
      // — it does not depend on the codebook — so the corpus is scanned
      // once for it instead of once per codebook; rows are identical
      Similarity.pqRecallMeanMulti(q, "vec_id", "qv",
          Seq("sampled" -> sampled, "trained" -> trained), probes, k = 10)
        .select(col("codebook"), col("k"), col("n_probes"),
          col("n_hits"), col("mean_recall"))
        .orderBy(col("codebook"))
    }))

  /** Shared oracle fragment over a corpus CTE `v(vec_id, e)`: seeds
    * (16 codewords by (md5(id), id) order), per-(vec, subspace, code)
    * squared distances with ordered list_reduce sums (term-for-term
    * the Spark left fold), and the per-(vec, subspace) argmin.
    */
  private val pqSql: String =
    """js AS (SELECT UNNEST(range(0, 8)) AS j),
       seeds AS (SELECT e, rn - 1 AS code FROM (
           SELECT e, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
           FROM v) WHERE rn <= 16),
       d0 AS (SELECT v.vec_id, js.j, s.code,
           list_reduce(list_transform(range(1, 9),
             i -> (v.e[js.j * 8 + i] - s.e[js.j * 8 + i]) *
                  (v.e[js.j * 8 + i] - s.e[js.j * 8 + i])),
             (a, b) -> a + b) AS dist
         FROM v CROSS JOIN seeds s CROSS JOIN js),
       best AS (SELECT vec_id, j, code, dist FROM (
           SELECT vec_id, j, code, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
           FROM d0) WHERE rn = 1)"""

  // ---- trained-PQ oracle: replay the Lloyd run in plain CTEs ----
  // Works on the quantized grid (ROUND(x · 2^20)) where per-cluster
  // per-dim sums are exact integers — commutative, so SUM(...)/n is
  // the bit-identical centroid Spark computed, whatever the engine's
  // aggregation order. Every distance is the same left-fold double sum
  // as the Spark side (ordered list_reduce).

  /** dist + argmin CTEs of corpus `v` against codebook CTE `cb(j, code, cw)`. */
  private def pqDistSql(cb: String): String =
    s"""d_$cb AS (SELECT v.vec_id, c.j, c.code,
         list_reduce(list_transform(range(1, 9),
           i -> (v.e[c.j * 8 + i] - c.cw[i]) * (v.e[c.j * 8 + i] - c.cw[i])),
           (a, b) -> a + b) AS dist
       FROM v CROSS JOIN $cb c),
       best_$cb AS (SELECT vec_id, j, code, dist FROM (
         SELECT vec_id, j, code, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
         FROM d_$cb) WHERE rn = 1)"""

  /** One Lloyd step: assignments `best_\$prev` → centroid CTE `cur`;
    * empty cells keep the previous codeword.
    */
  private def pqMeanSql(prev: String, cur: String): String =
    s"""m_$cur AS (SELECT a.j, a.code, ds.i,
         SUM(v.e[a.j * 8 + ds.i]) AS s, COUNT(*) AS n
       FROM best_$prev a JOIN v USING (vec_id)
       CROSS JOIN (SELECT UNNEST(range(1, 9)) AS i) ds
       GROUP BY 1, 2, 3),
       $cur AS (SELECT p.j, p.code,
         CASE WHEN MAX(m.n) IS NULL THEN ANY_VALUE(p.cw)
           ELSE list(m.s / m.n ORDER BY m.i) END AS cw
       FROM $prev p LEFT JOIN m_$cur m ON p.j = m.j AND p.code = m.code
       GROUP BY p.j, p.code)"""

  /** ADC distances of every vector to the vec-0 query under codebook `cb`. */
  private def pqAdcSql(cb: String): String =
    s"""qd_$cb AS (SELECT j, code, dist FROM d_$cb WHERE vec_id = 0),
       adc_$cb AS (SELECT b.vec_id,
           list_reduce(list(q.dist ORDER BY b.j), (x, y) -> x + y) AS ad
         FROM best_$cb b JOIN qd_$cb q ON b.j = q.j AND b.code = q.code
         GROUP BY b.vec_id)"""

  /** Quantized corpus + sampled init c0 + four Lloyd steps → c4, with
    * distances against c4 ready for encoding.
    */
  private val pqTrainPrefix: String =
    s"""v AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
           x -> ROUND(x * 1048576.0)) AS e FROM embeddings),
       js AS (SELECT UNNEST(range(0, 8)) AS j),
       seeds AS (SELECT e, rn - 1 AS code FROM (
           SELECT e, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
           FROM v) WHERE rn <= 16),
       c0 AS (SELECT js.j, s.code,
           list_transform(range(1, 9), i -> s.e[js.j * 8 + i]) AS cw
         FROM seeds s CROSS JOIN js),
       ${pqDistSql("c0")},
       ${pqMeanSql("c0", "c1")},
       ${pqDistSql("c1")},
       ${pqMeanSql("c1", "c2")},
       ${pqDistSql("c2")},
       ${pqMeanSql("c2", "c3")},
       ${pqDistSql("c3")},
       ${pqMeanSql("c3", "c4")},
       ${pqDistSql("c4")}"""

  /** Batch top-k per probe (probes = vec_id < 10) from a per-(vec, j,
    * code) distance CTE `d_\$cb`: ADC distances of every vector to
    * every probe, ranked within probe.
    */
  private def pqBatchTopSql(cb: String, name: String): String =
    s"""qd_b_$cb AS (SELECT vec_id AS p, j, code, dist FROM d_$cb WHERE vec_id < 10),
       adc_b_$cb AS (SELECT q.p, b.vec_id,
           list_reduce(list(q.dist ORDER BY b.j), (x, y) -> x + y) AS ad
         FROM best_$cb b JOIN qd_b_$cb q ON b.j = q.j AND b.code = q.code
         GROUP BY q.p, b.vec_id),
       $name AS (SELECT p, vec_id FROM (
           SELECT p, vec_id,
             ROW_NUMBER() OVER (PARTITION BY p ORDER BY ad, vec_id) AS rn
           FROM adc_b_$cb) WHERE rn <= 10)"""

  def oracles: Map[String, String] = Map(

    "q_pq_trained" ->
      s"""WITH $pqTrainPrefix,
         ${pqAdcSql("c4")}
         SELECT vec_id, ROUND(ad / 1099511627776.0, 6) AS approx_dist
         FROM adc_c4 ORDER BY ad, vec_id LIMIT 10""",

    "q_pq_gain" ->
      s"""WITH $pqTrainPrefix,
         ${pqBatchTopSql("c0", "top_sampled")},
         ${pqBatchTopSql("c4", "top_trained")},
         qs AS (SELECT vec_id AS p, e AS qe FROM v WHERE vec_id < 10),
         exactd AS (SELECT q.p, v.vec_id,
             list_reduce(list_transform(range(1, 65),
               i -> (v.e[i] - q.qe[i]) * (v.e[i] - q.qe[i])),
               (a, b) -> a + b) AS d
           FROM v CROSS JOIN qs q),
         exact AS (SELECT p, vec_id FROM (
             SELECT p, vec_id,
               ROW_NUMBER() OVER (PARTITION BY p ORDER BY d, vec_id) AS rn
             FROM exactd) WHERE rn <= 10),
         tops AS (
           SELECT 'sampled' AS codebook, p, vec_id FROM top_sampled
           UNION ALL
           SELECT 'trained', p, vec_id FROM top_trained),
         hits AS (SELECT codebook, COUNT(*) AS n_hits
           FROM tops JOIN exact USING (p, vec_id) GROUP BY 1)
         SELECT c.codebook, 10 AS k, 10 AS n_probes,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 100.0, 6) AS mean_recall
         FROM (SELECT 'sampled' AS codebook UNION ALL SELECT 'trained') c
         LEFT JOIN hits h USING (codebook)
         ORDER BY codebook""",

    "q_pq_encode" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         $pqSql
         SELECT vec_id,
           array_to_string(list(code ORDER BY j), '-') AS codes,
           ROUND(list_reduce(list(dist ORDER BY j), (a, b) -> a + b), 6) AS err
         FROM best GROUP BY vec_id ORDER BY vec_id""",

    "q_pq_topk" ->
      s"""WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         o AS (SELECT MAX(vec_id) + 1 AS off FROM v0),
         v AS (SELECT * FROM v0
           UNION ALL
           SELECT off + i, (SELECT e FROM v0 WHERE vec_id = 0)
           FROM o CROSS JOIN (SELECT UNNEST(range(0, 9)) AS i)),
         $pqSql,
         qd AS (SELECT j, code, dist FROM d0 WHERE vec_id = 0),
         adc AS (SELECT b.vec_id,
             list_reduce(list(qd.dist ORDER BY b.j), (a, b2) -> a + b2) AS ad
           FROM best b JOIN qd ON b.j = qd.j AND b.code = qd.code
           GROUP BY b.vec_id)
         SELECT vec_id, ROUND(ad, 6) AS approx_dist
         FROM adc ORDER BY ad, vec_id LIMIT 10""",

    "q_pq_recall" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         $pqSql,
         q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
         exact AS (SELECT vec_id FROM (
             SELECT v.vec_id,
               list_reduce(list_transform(range(1, 65),
                 i -> (v.e[i] - q.qe[i]) * (v.e[i] - q.qe[i])),
                 (a, b) -> a + b) AS d
             FROM v CROSS JOIN q)
           ORDER BY d, vec_id LIMIT 10),
         qd AS (SELECT j, code, dist FROM d0 WHERE vec_id = 0),
         adc AS (SELECT vec_id FROM (
             SELECT b.vec_id,
               list_reduce(list(qd.dist ORDER BY b.j), (a, b2) -> a + b2) AS ad
             FROM best b JOIN qd ON b.j = qd.j AND b.code = qd.code
             GROUP BY b.vec_id)
           ORDER BY ad, vec_id LIMIT 10)
         SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hits,
           ROUND(CAST(COUNT(*) AS DOUBLE) / 10.0, 6) AS recall
         FROM exact JOIN adc USING (vec_id)""")
}
