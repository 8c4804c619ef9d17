package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a traced run. Times are epoch milliseconds. */
final case class Span(id: String, name: String, startMs: Double, endMs: Double, parent: String)

/** Everything Spark reported while one operation ran: the executed plans
  * (from a `QueryExecutionListener`) and the scheduler's job, stage and
  * task events (from a `SparkListener`). Both are registered by the
  * harness; the program under test is not modified.
  */
final class OpRecord {
  val executions = mutable.ArrayBuffer.empty[(String, QueryExecution)]      // action name, plan
  val sqlSpans = mutable.LinkedHashMap.empty[Long, Array[Double]]           // execution id -> start, end
  val jobs = mutable.LinkedHashMap.empty[Int, (Long, Array[Double])]        // job -> exec id, start, end
  val stageJob = mutable.Map.empty[Int, Int]
  val stages = mutable.ArrayBuffer.empty[(Int, Double, Double)]             // stage, submitted, completed
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var shuffleWriteNs = 0L
  var fetchWaitMs = 0L
}

/** Registers the listeners and hands out one [[OpRecord]] per operation. */
final class Tracer(spark: SparkSession) {
  @volatile private var cur = new OpRecord

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      cur.synchronized(cur.executions += (funcName -> qe))
    // the harness counts a failed operation from the exception it sees
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        cur.synchronized(cur.sqlSpans(e.executionId) = Array(e.time.toDouble, Double.NaN))
      case e: SparkListenerSQLExecutionEnd =>
        cur.synchronized(cur.sqlSpans.get(e.executionId).foreach(_(1) = e.time.toDouble))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = cur.synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      cur.jobs(e.jobId) = (exec, Array(e.time.toDouble, Double.NaN))
      e.stageIds.foreach(s => cur.stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      cur.synchronized(cur.jobs.get(e.jobId).foreach(_._2(1) = e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = cur.synchronized {
      val i = e.stageInfo
      cur.stages += ((i.stageId, i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cur.synchronized {
      cur.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cur.taskRunMs += m.executorRunTime
        cur.taskCpuNs += m.executorCpuTime
        cur.gcMs += m.jvmGCTime
        cur.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        cur.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        cur.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  spark.listenerManager.register(qeListener)
  spark.sparkContext.addSparkListener(sparkListener)

  /** Start collecting for a new operation (after draining the previous). */
  def begin(): Unit = {
    BenchBridge.drain(spark.sparkContext)
    cur = new OpRecord
  }

  /** Wait until every event of the operation was delivered, then hand it out. */
  def end(): OpRecord = {
    BenchBridge.drain(spark.sparkContext)
    val r = cur
    cur = new OpRecord
    r
  }

  def close(): Unit = {
    BenchBridge.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

/** Per-operator SQL metrics read off the executed (AQE-final) plans. */
object PlanMetrics {

  /** Every executed node: AQE query stages are descended into, reused
    * exchanges are counted once (where they were first executed), cached
    * relations are not descended (their plan ran in an earlier job).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def isPartial(a: BaseAggregateExec): Boolean =
    if (a.aggregateExpressions.nonEmpty)
      a.aggregateExpressions.forall(_.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
    else a.requiredChildDistributionExpressions.isEmpty

  /** First node below `p` (through projections, codegen wrappers and
    * stages) that counts its output rows: the rows `p` consumed.
    */
  private def inputOf(p: SparkPlan): Option[SparkPlan] =
    p.children.headOption.flatMap { c =>
      if (c.metrics.contains("numOutputRows")) Some(c) else inputOf(c)
    }

  /** Top-most node that counts rows: what an action returned. */
  private def resultRows(root: SparkPlan): Long =
    nodes(root).find(_.metrics.contains("numOutputRows")).map(metric(_, "numOutputRows")).getOrElse(0L)

  /** Layer metrics of one operation, summed over its SQL executions. */
  def of(rec: OpRecord): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = m(k) = m(k) + v
    var partialIn = 0L
    var partialOut = 0L
    for ((func, qe) <- rec.executions) {
      val root = qe.executedPlan
      val all = nodes(root)
      add("plan.nodes", all.size)
      if (func == "collect") add("io.collect_rows", resultRows(root))
      qe.tracker.phases.foreach { case (phase, s) => add(s"plan.${phase}_ms", s.durationMs) }
      all.foreach {
        case b: BatchScanExec =>
          add("sources.pixels_decoded", metric(b, "numOutputRows"))
          m("sources.partitions") = math.max(m("sources.partitions"), b.inputPartitions.size)
        case f: FileSourceScanExec =>
          add("sources.pixels_decoded", metric(f, "numOutputRows"))
          add("parquet.files", metric(f, "numFiles"))
          add("parquet.bytes_read", metric(f, "filesSize"))
          add("parquet.scan_ms", metric(f, "scanTime"))
        case a: BaseAggregateExec =>
          val partial = isPartial(a)
          add(if (partial) "agg.partial_ms" else "agg.final_ms", metric(a, "aggTime"))
          add("agg.peak_mem_mb", metric(a, "peakMemory") / 1048576.0)
          add("agg.spill_bytes", metric(a, "spillSize"))
          if (a.isInstanceOf[ObjectHashAggregateExec])
            add("agg.sort_fallback_tasks", metric(a, "numTasksFallBacked"))
          if (partial) {
            partialOut += metric(a, "numOutputRows")
            inputOf(a).foreach { in =>
              partialIn += metric(in, "numOutputRows")
              if (in.isInstanceOf[FilterExec]) add("engine.pixels_kept", metric(in, "numOutputRows"))
            }
          }
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => add("shuffle.exchanges", 1)
        case _ =>
      }
    }
    if (partialOut > 0) m("agg.partial_reduction") = partialIn.toDouble / partialOut
    m("plan.sql_executions") = rec.executions.size
    m("sched.jobs") = rec.jobs.size
    m("sched.stages") = rec.stages.size
    m("sched.tasks") = rec.tasks
    m("sched.task_run_ms") = rec.taskRunMs
    m("sched.task_cpu_ms") = rec.taskCpuNs / 1e6
    m("sched.gc_ms") = rec.gcMs
    m("shuffle.bytes_written") = rec.shuffleBytes
    m("shuffle.records_written") = rec.shuffleRecords
    m("shuffle.write_ms") = rec.shuffleWriteNs / 1e6
    m("shuffle.fetch_wait_ms") = rec.fetchWaitMs
    m.toMap
  }

  /** The first scan node an operation executed, for the scan-only probe. */
  def firstScan(rec: OpRecord): Option[SparkPlan] =
    rec.executions.flatMap { case (_, qe) => nodes(qe.executedPlan) }.collectFirst {
      case b: BatchScanExec => b
      case f: FileSourceScanExec => f
    }

  /** Spans of the SQL executions, jobs and stages, parented to `opSpan`. */
  def spans(rec: OpRecord, opSpan: String): Seq[Span] = {
    val sql = rec.sqlSpans.toSeq.map { case (id, t) =>
      Span(s"sql-$id", s"sql execution $id", t(0), t(1), opSpan)
    }
    val jobs = rec.jobs.toSeq.map { case (id, (exec, t)) =>
      Span(s"job-$id", s"job $id", t(0), t(1),
        if (exec >= 0 && rec.sqlSpans.contains(exec)) s"sql-$exec" else opSpan)
    }
    val stages = rec.stages.toSeq.map { case (id, s, e) =>
      Span(s"stage-$id", s"stage $id", s, e,
        rec.stageJob.get(id).map(j => s"job-$j").getOrElse(opSpan))
    }
    sql ++ jobs ++ stages
  }

  /** Wall time of the SQL executions, summed (an operation runs them one after another). */
  def sqlMs(rec: OpRecord): Double =
    rec.sqlSpans.values.filter(t => !t(1).isNaN).map(t => t(1) - t(0)).sum
}
