package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column/Expression seam.
  *
  * Spark 4 made `Column` a Connect-compatible wrapper over a `ColumnNode`;
  * building a `Column` from a raw Catalyst `Expression` (needed to expose
  * custom expressions / `TypedImperativeAggregate`s as user-facing columns)
  * goes through `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. This object lives under `org.apache.spark.sql` purely to
  * re-export that one constructor; all graft code calls through here.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def aggColumn(f: AggregateFunction): Column =
    ExpressionUtils.column(f.toAggregateExpression(isDistinct = false))

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder in the session's FunctionRegistry so the
    * expression is callable from `spark.sql(...)` text.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The analyzed logical plan behind a DataFrame — the input for wiring
    * a custom `LogicalPlan` operator over existing frames.
    */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Wrap a logical plan back into a DataFrame (`Dataset.ofRows` is
    * `private[sql]` in Spark 4's classic module).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `f` over every partition of the frame's executed plan, on the
    * executors, collected as one result per partition: ONE SQL execution
    * named "collect", so the job still shows as one collect to the UI, the
    * SQL listeners and every `QueryExecutionListener`, exactly as
    * `Dataset.collect` does.
    */
  def collectPartitions[T: scala.reflect.ClassTag](df: org.apache.spark.sql.DataFrame)(
      f: Iterator[org.apache.spark.sql.catalyst.InternalRow] => T): Array[T] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan.execute().mapPartitionsInternal(rows => Iterator.single(f(rows))).collect()
    }
  }

  /** `rdd.mapPartitions` without the closure-cleaner pass, as Spark's own
    * execs run their per-partition code (`RDD.mapPartitionsInternal` is
    * `private[spark]`); `f` must capture nothing unserializable.
    */
  def mapPartitionsInternal[T, U: scala.reflect.ClassTag](rdd: org.apache.spark.rdd.RDD[T])(
      f: Iterator[T] => Iterator[U]): org.apache.spark.rdd.RDD[U] =
    rdd.mapPartitionsInternal(f)

  /** The running task's memory manager (`TaskContext.taskMemoryManager`
    * is `private[spark]`), for operators that account their own state.
    */
  def taskMemoryManager(): org.apache.spark.memory.TaskMemoryManager =
    org.apache.spark.TaskContext.get().taskMemoryManager()

  /** Idempotently add a planner strategy to the session (the programmatic
    * twin of `SparkSessionExtensions.injectPlannerStrategy`, for sessions
    * built without `spark.sql.extensions`).
    */
  def injectStrategy(
      spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }
}
