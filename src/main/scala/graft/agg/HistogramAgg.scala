package graft.agg

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Fixed-bin histogram aggregate over one or two axes:
  *
  *   - 1 axis, `hist1d` (reference A6, `Histogram_Counts`:
  *     `aggregate_functions.py:257-263` — per-cell
  *     `np.histogram(pixels_nonNaN, bins=edges)[0]`), output `ARRAY<BIGINT>`;
  *   - 2 axes, `hist2d` (reference A7, `Jhisto_vs_<Y>`: `:266-277` —
  *     per-cell `np.histogram2d(X_nonNaN, Y_nonNaN, bins=(edgesX,
  *     edgesY))[0]`), output `ARRAY<ARRAY<BIGINT>>` indexed `[xBin][yBin]`.
  *
  * `TypedImperativeAggregate[Array[Long]]`: the flattened row-major count
  * array is the buffer, serialized to a compact byte array between partial
  * and final aggregation — i.e. it rides Spark's standard two-phase hash
  * aggregation exactly like the reference's commutative-monoid merge
  * (elementwise add, Dask merge `MODIS_Aggregation_DASK.py:132`), and
  * scales to any partition count.
  *
  * Bin semantics = `np.histogram` (see [[Binning]]): left-closed bins, last
  * bin closed, NULL/NaN/out-of-range dropped. A row counts iff EVERY axis
  * value is non-null, non-NaN and in range.
  *
  * Parity notes (SURVEY §7.4 "sane semantics"):
  *   - the reference SKIPS 1-D accumulation for cells whose granule
  *     contributed exactly one pixel (`:259-260`, an `all_val.size == 1`
  *     early-out that adds nothing) — a bug, not a semantic; this engine
  *     counts single-pixel cells;
  *   - the reference NaN-compresses X and Y independently and pairs them
  *     positionally (skipping the cell when the non-NaN counts differ,
  *     `:273-274`); the per-row rule above coincides with it whenever X
  *     and Y share a NaN mask (the only case the reference accumulates
  *     consistently).
  */
case class HistogramAgg(
    children: Seq[Expression],
    edges: Seq[Seq[Double]],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(Set(1, 2)(children.length) && edges.length == children.length,
    s"a histogram has 1 or 2 axes with one edge list each, got ${children.length} " +
      s"axes and ${edges.length} edge lists")
  require(edges.forall(_.length >= 2),
    s"$prettyName needs >= 2 bin edges per axis, got ${edges.mkString(" / ")}")

  private val axes: Array[Expression] = children.toArray
  private val edgeArrs: Array[Array[Double]] = edges.map(_.toArray).toArray
  private val bins: Array[Int] = edgeArrs.map(_.length - 1)
  private val size: Int = bins.product

  override def nullable: Boolean = false
  override def dataType: DataType =
    if (bins.length == 1) ArrayType(LongType, containsNull = false)
    else ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](size)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    var idx = 0
    var a = 0
    while (a < axes.length) {
      val v = axes(a).eval(input)
      val b = if (v == null) -1 else Binning.binIndexScala(v.asInstanceOf[Double], edgeArrs(a))
      if (b < 0) return buf
      idx = idx * bins(a) + b
      a += 1
    }
    buf(idx) += 1
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < size) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    if (bins.length == 1) new GenericArrayData(buf)
    else new GenericArrayData(Array.tabulate[Any](bins(0)) { x =>
      new GenericArrayData(java.util.Arrays.copyOfRange(buf, x * bins(1), (x + 1) * bins(1)))
    })

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * size)
    var i = 0
    while (i < size) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](size)
    var i = 0
    while (i < size) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): HistogramAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HistogramAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistogramAgg =
    copy(children = newChildren)
  override def prettyName: String = if (children.length == 1) "hist1d" else "hist2d"
}

/** User-facing Column constructors for the histogram aggregates. */
object HistogramFunctions {

  /** `ARRAY<BIGINT>` of per-bin counts of `v` over `edges`. */
  def histogram1d(v: Column, edges: Seq[Double]): Column =
    Bridge.aggColumn(
      HistogramAgg(Seq(cast(Bridge.expression(v))), Seq(edges)))

  /** `ARRAY<ARRAY<BIGINT>>` joint counts of `(x, y)`, indexed `[xBin][yBin]`. */
  def histogram2d(x: Column, y: Column, xEdges: Seq[Double], yEdges: Seq[Double]): Column =
    Bridge.aggColumn(
      HistogramAgg(Seq(x, y).map(c => cast(Bridge.expression(c))), Seq(xEdges, yEdges)))

  // Unconditional cast: the child may still be unresolved here (dataType
  // would throw), and Catalyst elides a double-to-double Cast anyway.
  private def cast(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e, DoubleType)
}
