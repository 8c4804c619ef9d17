package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` entry point — the idiomatic way to ship a Spark
  * library's SQL surface: users add
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * to their session config (no code changes) and every graft SQL function
  * (`vec_dot`, `hist1d`, `hist2d`) resolves in `spark.sql(...)` text,
  * Thrift/JDBC sessions included. [[GraftFunctions.registerAll]] remains
  * the programmatic alternative for an already-built session; both routes
  * share the same builders.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, (usage, builder)) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    // plain-SQL inequality range joins -> bucketed equi-joins (opt-in via
    // spark.graft.rangeJoin.bucketWidth; see RangeJoinBucketRule)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBucketRule)
    // the native as-of join's planner strategy (AsofJoinPlan.asofJoin
    // also self-registers it programmatically for extension-less sessions)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // the L3 cell aggregate's partial/final exec pair (GridAggregation.
    // aggregate also self-registers it)
    ext.injectPlannerStrategy(_ => graft.engine.CellAggregateStrategy)
  }
}
