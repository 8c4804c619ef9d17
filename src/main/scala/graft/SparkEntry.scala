package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{PipelineQueries, RefQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the SURVEY §2 reference-operator inventory
  * ([[graft.queries.RefQueries]]) and the large-scale training-data pipeline
  * operators ([[graft.queries.PipelineQueries]]); each entry has a DuckDB
  * oracle in [[oracleSql]] unless the operator is not SQL-expressible.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's canonical scan -> region filter -> grid-cell derive ->
    * cell aggregate -> multi-statistic finalize (SURVEY §2.4 A1-A5).
    */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.queries("q_grid_stats")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RefQueries.queries ++ PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    RefQueries.oracleSql ++ PipelineQueries.oracleSql
}
