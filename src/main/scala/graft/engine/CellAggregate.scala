package graft.engine

import java.util.concurrent.TimeUnit.NANOSECONDS

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.BinaryType

/** The L3 cell aggregate as one logical node: `inputs` are the child's
  * columns the [[CellAggSpec]] reads by position (`inputs.head` is the
  * cell), `columns` the layout attributes it produces after the cell.
  * [[CellAggregateStrategy]] plans it as [[CellPartialExec]] ->
  * `Exchange hashpartitioning(cell)` (inserted by `EnsureRequirements`)
  * -> [[CellFinalExec]].
  */
case class CellAggregate(
    spec: CellAggSpec,
    inputs: Seq[Attribute],
    columns: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = inputs.head +: columns
  override def producedAttributes: AttributeSet = AttributeSet(columns)
  override protected def withNewChildInternal(newChild: LogicalPlan): CellAggregate =
    copy(child = newChild)
}

/** Plans [[CellAggregate]] into the partial/final exec pair. */
object CellAggregateStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CellAggregate(spec, inputs, columns, child) =>
      val state = AttributeReference("state", BinaryType, nullable = false)()
      val partial = CellPartialExec(spec, inputs, state, planLater(child))
      CellFinalExec(spec, inputs.head +: columns, partial) :: Nil
    case _ => Nil
  }
}

private object CellAggregateExec {
  /** Slots a partial holds before it emits them all and starts over:
    * above the 64,800 cells of a 1-degree grid, so a task that covers the
    * whole globe at 1 degree still emits each cell once.
    */
  val PartialSlots: Int = 1 << 17

  /** Byte bound of one partial's state; wide joint histograms lower the
    * slot bound below [[PartialSlots]] so that the state stays within it.
    */
  val PartialStateBytes: Long = 64L << 20

  def metrics(plan: SparkPlan): Map[String, SQLMetric] = {
    val sc = plan.session.sparkContext
    Map(
      "numOutputRows" -> SQLMetrics.createMetric(sc, "number of output rows"),
      "aggTime" -> SQLMetrics.createTimingMetric(sc, "time in aggregation build"),
      "peakMemory" -> SQLMetrics.createSizeMetric(sc, "peak memory"))
  }
}

/** Map side: folds each task's rows into one [[CellState]] and emits one
  * `(cell BIGINT, state BINARY)` row per touched cell — early, and then
  * from an empty state, whenever the slot bound is reached (emitting a
  * partial early is always correct). Input columns are read by ordinal,
  * with no per-row projection.
  */
case class CellPartialExec(
    spec: CellAggSpec,
    inputs: Seq[Attribute],
    state: Attribute,
    child: SparkPlan) extends UnaryExecNode {
  import CellAggregateExec._

  override def output: Seq[Attribute] = Seq(inputs.head, state)
  override lazy val metrics: Map[String, SQLMetric] = CellAggregateExec.metrics(this)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val aggTime = longMetric("aggTime")
    val peak = longMetric("peakMemory")
    // the spec's ordinals index `inputs`; the rows are the child's output
    val ordinal = inputs.map(a => BindReferences.bindReference[Expression](a, child.output)
      .asInstanceOf[BoundReference].ordinal)
    val bound = spec.remap(ordinal)
    Bridge.mapPartitionsInternal(child.execute()) { rows =>
      val st = new CellState(bound, (_, _) => ())
      val slotBound = math.max(1L, math.min(PartialSlots.toLong, PartialStateBytes / st.slotBytes))
      val writer = new UnsafeRowWriter(2)
      var nanos = 0L
      new Iterator[InternalRow] {
        private var next0 = 0
        private var done = false
        override def hasNext: Boolean = next0 < st.size || {
          if (rows.hasNext) {
            val t0 = System.nanoTime()
            st.reset()
            next0 = 0
            while (st.size < slotBound && rows.hasNext) st.update(rows.next())
            nanos += System.nanoTime() - t0
            true
          } else {
            if (!done) {
              done = true
              aggTime += NANOSECONDS.toMillis(nanos)
              peak += st.bytes
            }
            false
          }
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val n = st.encode(next0)
          writer.reset()
          writer.zeroOutNullBytes()
          writer.write(0, st.cell(next0))
          writer.write(1, st.buffer, 0, n)
          next0 += 1
          numOut += 1
          writer.getRow
        }
      }
    }
  }

  override def simpleString(maxFields: Int): String =
    s"CellPartial [${inputs.head}, ${state}], ${spec.layout.size} columns"

  override protected def withNewChildInternal(newChild: SparkPlan): CellPartialExec =
    copy(child = newChild)
}

/** Reduce side: merges the partial states of its cells, after the
  * cell-keyed exchange, into one [[CellState]] whose arrays are accounted
  * with the task's memory manager, and produces exactly `cell` plus the
  * layout columns, one reused binary row per cell
  * ([[CellState.finalized]]).
  */
case class CellFinalExec(
    spec: CellAggSpec,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = CellAggregateExec.metrics(this)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(child.output.head)) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val aggTime = longMetric("aggTime")
    val peak = longMetric("peakMemory")
    val s = spec
    val partitions = conf.numShufflePartitions
    Bridge.mapPartitionsInternal(child.execute()) { rows =>
      val mem = new StateMemory(Bridge.taskMemoryManager(), partitions)
      TaskContext.get().addTaskCompletionListener[Unit](_ => mem.release())
      val st = new CellState(s, mem.reserve)
      val t0 = System.nanoTime()
      while (rows.hasNext) st.merge(rows.next())
      aggTime += NANOSECONDS.toMillis(System.nanoTime() - t0)
      peak += st.bytes
      Iterator.range(0, st.size).map[InternalRow] { k =>
        numOut += 1
        st.finalized(k)
      }
    }
  }

  override def simpleString(maxFields: Int): String =
    s"CellFinal [${output.head}], ${spec.layout.size} columns"

  override protected def withNewChildInternal(newChild: SparkPlan): CellFinalExec =
    copy(child = newChild)
}

/** The final state's share of the task's execution memory. It cannot
  * spill: a grid whose cells do not fit one task fails, naming the cell
  * count and the shuffle-partition setting that spreads them wider.
  */
private final class StateMemory(tmm: TaskMemoryManager, partitions: Int)
    extends MemoryConsumer(tmm, MemoryMode.ON_HEAP) {

  override def spill(size: Long, trigger: MemoryConsumer): Long = 0L

  def reserve(bytes: Long, cells: Int): Unit = {
    val got = acquireMemory(bytes)
    if (got < bytes) {
      freeMemory(got)
      throw new IllegalStateException(
        s"the L3 cell aggregate holds $cells cells in one task and cannot get " +
          s"$bytes more bytes of execution memory (it has $getUsed); raise " +
          s"spark.sql.shuffle.partitions (now $partitions) to spread the grid's cells " +
          "over more tasks")
    }
  }

  def release(): Unit = if (getUsed > 0) freeMemory(getUsed)
}
