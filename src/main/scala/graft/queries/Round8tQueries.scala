package graft.queries

import graft.Tables
import graft.ops.{Graphs, Layout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 part 20: sequence mining and job-config planning — the
  * frequent event-type path table and the partition/broadcast sizing
  * advisor. Both exact-integer, DuckDB-checked.
  */
object Round8tQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- top-20 frequent 3-step behavior paths ----
    "q_path_mining" -> ((s, dir) =>
      Graphs.frequentPaths(Tables.load(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id", len = 3, topK = 20)
        .orderBy(col("rank"))),

    // ---- partition/broadcast sizing advisor ----
    "q_partition_advisor" -> ((s, dir) =>
      Layout.partitionAdvisor(
          Seq("nation", "customer", "orders", "lineitem", "documents")
            .map(t => t -> Tables.load(s, dir, t)),
          targetPartitionBytes = 4L * 1024 * 1024,
          broadcastThreshold = 1L * 1024 * 1024)
        .orderBy(col("table_name"))))

  def oracles: Map[String, String] = Map(

    "q_path_mining" ->
      """WITH s AS (SELECT event_type AS step1,
             LEAD(event_type, 1) OVER w AS step2,
             LEAD(event_type, 2) OVER w AS step3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n
           FROM s
           WHERE step1 IS NOT NULL AND step2 IS NOT NULL
             AND step3 IS NOT NULL
           GROUP BY 1, 2, 3),
         rk AS (SELECT *, ROW_NUMBER() OVER (
             ORDER BY n DESC, step1, step2, step3) AS rank FROM g)
         SELECT step1, step2, step3, n, CAST(rank AS INT) AS rank
         FROM rk WHERE rank <= 20 ORDER BY rank""",

    "q_partition_advisor" -> {
      // the schema-driven width rule, restated per table: strings cost
      // LENGTH+4, every fixed-width column 8
      val widths = Map(
        "nation" -> "8 + LENGTH(n_name) + 4 + 8",
        "customer" -> ("8 + LENGTH(c_name) + 4 + 8 + " +
          "LENGTH(c_mktsegment) + 4 + 8"),
        "orders" -> ("8 + 8 + LENGTH(o_orderstatus) + 4 + 8 + 8 + " +
          "LENGTH(o_orderpriority) + 4"),
        "lineitem" -> ("8 + 8 + 8 + 8 + 8 + 8 + 8 + 8 + " +
          "LENGTH(l_returnflag) + 4 + LENGTH(l_linestatus) + 4 + 8"),
        "documents" -> ("8 + LENGTH(text) + 4 + LENGTH(lang) + 4 + " +
          "LENGTH(source) + 4 + 8"))
      val target = 4L * 1024 * 1024
      val bcast = 1L * 1024 * 1024
      val per = Seq("customer", "documents", "lineitem", "nation", "orders")
        .map { t =>
          s"""SELECT '$t' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(${widths(t)}) AS BIGINT) AS est_bytes FROM $t"""
        }.mkString("\n         UNION ALL ")
      s"""WITH per AS ($per)
         SELECT table_name, n_rows, est_bytes,
           est_bytes // n_rows AS est_row_bytes,
           GREATEST(CAST(1 AS BIGINT),
             (est_bytes + ${target - 1}) // $target) AS n_partitions,
           est_bytes <= $bcast AS broadcastable
         FROM per ORDER BY table_name"""
    })
}
