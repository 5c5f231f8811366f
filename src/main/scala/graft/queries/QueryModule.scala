package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator pack: named query builders, plus DuckDB oracle SQL for
  * those whose semantics are ANSI-SQL-expressible. `SparkEntry.modules`
  * lists every pack.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
