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

  /** The local session the catalog entry points ([[Bench]], [[Verify]],
    * `examples.PlanDump`) run the queries in: `local[SPARK_GRAFT_CPUS]`
    * (default `defaultCpus`) with as many shuffle partitions, AQE on, the
    * legacy nanosecond parquet timestamps read as longs ([[RefQueries.events]]),
    * UTC, no UI and WARN logging, plus any `extra` settings.
    */
  def localSession(defaultCpus: Int, extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TypedImperativeAggregate (histogram buffers) groups routinely exceed
      // the 128-group default before falling back to sort-based agg; the
      // buffers are small (bins x 8B), so stay hash-based far longer
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
