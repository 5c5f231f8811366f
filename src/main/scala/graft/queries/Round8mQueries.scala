package graft.queries

import graft.Tables
import graft.ops.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 13: storage-layout economics — the zone-map pruning
  * audit (what sort-clustering buys a reader) and the column-encoding
  * advisor (what the write order buys the writer). Both are exact
  * integer statistics a 100 TB rewrite decision would be made from,
  * and both are DuckDB-recomputable row for row.
  */
object Round8mQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- zone-map pruning: clustered vs scattered layout ----
    "q_zonemap_prune" -> ((s, dir) =>
      Layout.zoneMapPrune(Tables.load(s, dir, "lineitem"),
          datediff(col("l_shipdate"), lit("1970-01-01").cast("date")),
          nFiles = 64, nPreds = 8)
        .orderBy(col("layout"), col("pred"))),

    // ---- column-encoding advisor over the date-sorted write order ----
    "q_encoding_plan" -> ((s, dir) =>
      Layout.encodingPlan(Tables.load(s, dir, "orders"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long") * 10000000L + col("o_orderkey"),
          Seq("o_orderstatus", "o_orderpriority", "o_custkey",
            "o_orderdate", "o_totalprice"))
        .orderBy(col("col_name"))))

  def oracles: Map[String, String] = Map(

    "q_zonemap_prune" ->
      """WITH b AS (SELECT datediff('day', DATE '1970-01-01',
             CAST(l_shipdate AS DATE)) AS k FROM lineitem),
         mm AS (SELECT MIN(k) AS kmin, MAX(k) AS kmax,
             MAX(k) - MIN(k) + 1 AS span FROM b),
         z0 AS (SELECT k,
             CAST(FLOOR(CAST((k - kmin) * 64 AS DOUBLE) /
               CAST(span AS DOUBLE)) AS BIGINT) AS fc,
             k % 64 AS fs
           FROM b CROSS JOIN mm),
         z AS (SELECT 'clustered' AS layout, fc AS file,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(k) AS zmin, MAX(k) AS zmax FROM z0 GROUP BY 2
           UNION ALL
           SELECT 'scattered', fs, CAST(COUNT(*) AS BIGINT),
             MIN(k), MAX(k) FROM z0 GROUP BY 2),
         tot AS (SELECT layout, CAST(COUNT(*) AS BIGINT) AS files_total
           FROM z GROUP BY 1),
         pr AS (SELECT CAST(p.i AS BIGINT) AS pred,
             kmin + CAST(FLOOR(CAST(p.i * span AS DOUBLE) / 8.0)
               AS BIGINT) AS lo,
             kmin + CAST(FLOOR(CAST((p.i + 1) * span AS DOUBLE) / 8.0)
               AS BIGINT) - 1 AS hi
           FROM (SELECT UNNEST(range(0, 8)) AS i) p CROSS JOIN mm),
         ev AS (SELECT z.layout, pr.pred, pr.lo, pr.hi,
             CAST(SUM(CASE WHEN z.zmin <= pr.hi AND z.zmax >= pr.lo
               THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
             CAST(SUM(CASE WHEN z.zmin <= pr.hi AND z.zmax >= pr.lo
               THEN z.n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
           FROM z CROSS JOIN pr GROUP BY 1, 2, 3, 4)
         SELECT ev.layout, ev.pred, ev.lo, ev.hi, t.files_total,
           ev.files_scanned, ev.rows_scanned,
           ROUND(1.0 - CAST(ev.files_scanned AS DOUBLE) /
             CAST(t.files_total AS DOUBLE), 6) AS prune_pct
         FROM ev JOIN tot t ON ev.layout = t.layout
         ORDER BY ev.layout, ev.pred""",

    "q_encoding_plan" ->
      """WITH base AS (SELECT datediff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE)) * 10000000 + o_orderkey AS k,
             o_orderstatus, o_orderpriority, o_custkey, o_orderdate,
             o_totalprice
           FROM orders),
         mm AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) + 1 AS span
           FROM base),
         ub AS (
           SELECT k, 'o_orderstatus' AS cname,
             CAST(o_orderstatus AS VARCHAR) AS v FROM base
           UNION ALL SELECT k, 'o_orderpriority',
             CAST(o_orderpriority AS VARCHAR) FROM base
           UNION ALL SELECT k, 'o_custkey',
             CAST(o_custkey AS VARCHAR) FROM base
           UNION ALL SELECT k, 'o_orderdate',
             CAST(o_orderdate AS VARCHAR) FROM base
           UNION ALL SELECT k, 'o_totalprice',
             CAST(o_totalprice AS VARCHAR) FROM base),
         m AS (SELECT k, cname, v,
             CAST(FLOOR(CAST((k - kmin) * 256 AS DOUBLE) /
               CAST(span AS DOUBLE)) AS BIGINT) AS bucket
           FROM ub CROSS JOIN mm),
         st AS (SELECT cname, bucket, k, v,
             CASE WHEN lag(k) OVER (PARTITION BY cname, bucket ORDER BY k)
                    IS NULL
                  OR NOT (v IS NOT DISTINCT FROM
                    lag(v) OVER (PARTITION BY cname, bucket ORDER BY k))
               THEN 1 ELSE 0 END AS s
           FROM m),
         pb AS (SELECT cname, bucket, SUM(s) AS starts,
             arg_min(v, k) AS fv, arg_max(v, k) AS lv
           FROM st GROUP BY 1, 2),
         bd AS (SELECT cname, starts,
             CASE WHEN lag(bucket) OVER (PARTITION BY cname ORDER BY bucket)
                    IS NOT NULL
                  AND (fv IS NOT DISTINCT FROM
                    lag(lv) OVER (PARTITION BY cname ORDER BY bucket))
               THEN 1 ELSE 0 END AS dup
           FROM pb),
         rn AS (SELECT cname, CAST(SUM(starts) - SUM(dup) AS BIGINT)
             AS n_runs FROM bd GROUP BY 1),
         ds AS (SELECT cname, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
             CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct
           FROM m GROUP BY 1)
         SELECT ds.cname AS col_name, ds.n_rows, ds.n_null, ds.n_distinct,
           rn.n_runs,
           ROUND(CAST(ds.n_distinct AS DOUBLE) / CAST(ds.n_rows AS DOUBLE), 6)
             AS distinct_ratio,
           ROUND(CAST(ds.n_rows AS DOUBLE) / CAST(rn.n_runs AS DOUBLE), 6)
             AS avg_run_len,
           CASE WHEN ds.n_distinct * 20 <= ds.n_rows
                  AND ds.n_rows >= rn.n_runs * 4 THEN 'RLE_DICT'
                WHEN ds.n_distinct * 20 <= ds.n_rows THEN 'DICT'
                WHEN ds.n_rows >= rn.n_runs * 4 THEN 'RLE'
                ELSE 'PLAIN' END AS encoding
         FROM ds JOIN rn ON ds.cname = rn.cname
         ORDER BY col_name""")
}
