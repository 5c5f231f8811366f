package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every module's operator pack; each entry has a
  * matching DuckDB oracle in `oracleSql` when the semantics are
  * ANSI-SQL-expressible (driver hash-compares at sf0.01), else the
  * driver records a rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every operator module, in merge order. Query names are unique
    * across modules (pinned by RegistrySpec): `Map ++` is right-biased,
    * so a reused name would silently replace the earlier query.
    */
  val modules: Seq[graft.queries.QueryModule] = {
    import graft.queries._
    Seq(
      Relational, DialectQueries, PipelineQueries, StreamQueries,
      CompositionQueries, ExtendedQueries, Round3Queries, Round4Queries,
      Round6Queries, Round7Queries, Round8Queries, Round8bQueries,
      Round8cQueries, Round8dQueries, Round8eQueries, Round8fQueries,
      Round8gQueries, Round8hQueries, Round8iQueries, Round8jQueries,
      Round8kQueries, Round8lQueries, Round8mQueries, Round8nQueries,
      Round8oQueries, Round8pQueries, Round8qQueries, Round8rQueries,
      Round8sQueries, Round8tQueries, Round8uQueries, Round8vQueries,
      Round8wQueries, Round8xQueries, Round8yQueries, Round9aQueries,
      Round9bQueries, Round9cQueries, Round9dQueries, Round10aQueries,
      Round10bQueries, Round10cQueries, Round10dQueries, Round10eQueries,
      Round10fQueries, Round11aQueries, Round11bQueries, Round11cQueries,
      Round11dQueries, Round11eQueries, Round11fQueries, Round12aQueries,
      Round12bQueries, Round13aQueries, Round14Queries, Round15Queries,
      Round16Queries)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_.oracles).reduce(_ ++ _)
}
