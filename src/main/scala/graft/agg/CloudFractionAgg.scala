package graft.agg

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.{HashMap => JHashMap}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-cell cloud fraction (reference A8/A9, `aggregate_functions.py:
  * 365-380`) as ONE aggregate that rides the same `groupBy(cell)` as the
  * statistics — the reference's own shape: every granule's per-cell
  * counts fold into the cell-keyed accumulator in a single pass.
  *
  * Buffer: EXACT granule id -> (determined, cloudy) pixel counts, where
  * determined = `0 <= flag <= 3` and cloudy = `0 <= flag <= 1`. The id is
  * kept verbatim (a `UTF8String` copy or a `Long`), never hashed: a
  * collision would merge two granules' fractions. Granules without a
  * determined pixel never enter the map — they contribute to no output.
  * Merging adds the counts of equal ids, so the result is independent of
  * the partial/final split.
  *
  * Output struct (the finalize the reference runs per cell):
  *   - `min`/`max`: over the per-granule fractions `cloudy/determined`;
  *   - `mean` = sum(cloudy)/sum(determined) (pixel-weighted, NOT a mean of
  *     fractions);
  *   - `pixel_counts` = sum(determined);
  *   - `grid_counts` = #granules with >= 1 determined pixel (A8).
  *
  * `min`/`max`/`mean` are NULL when no pixel of the cell was determined
  * (the reference's 0/0 -> NaN).
  */
case class CloudFractionAgg(
    flag: Expression,
    granule: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[JHashMap[AnyRef, Array[Long]]] {

  private lazy val stringIds: Boolean = granule.dataType.isInstanceOf[StringType]

  override def children: Seq[Expression] = Seq(flag, granule)
  override def nullable: Boolean = false
  override def dataType: DataType = CloudFractionAgg.ResultType

  override def checkInputDataTypes(): TypeCheckResult = granule.dataType match {
    case _: StringType | ByteType | ShortType | IntegerType | LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cloud_fraction needs a string or integral granule id, got ${t.simpleString}")
  }

  override def createAggregationBuffer(): JHashMap[AnyRef, Array[Long]] = new JHashMap()

  override def update(
      buf: JHashMap[AnyRef, Array[Long]], input: InternalRow): JHashMap[AnyRef, Array[Long]] = {
    val f = flag.eval(input)
    if (f != null) {
      val v = f.asInstanceOf[Double]
      if (v >= 0 && v <= 3) {
        val cloudy = if (v <= 1) 1L else 0L
        val g = granule.eval(input)
        val id: AnyRef =
          if (g == null || stringIds) g.asInstanceOf[AnyRef]
          else java.lang.Long.valueOf(g.asInstanceOf[Number].longValue())
        val c = buf.get(id)
        if (c != null) { c(0) += 1; c(1) += cloudy }
        else {
          // the input row's string may alias a reused buffer: keep a copy
          val owned = id match { case s: UTF8String => s.clone(); case o => o }
          buf.put(owned, Array(1L, cloudy))
        }
      }
    }
    buf
  }

  override def merge(
      b1: JHashMap[AnyRef, Array[Long]],
      b2: JHashMap[AnyRef, Array[Long]]): JHashMap[AnyRef, Array[Long]] = {
    b2.forEach { (id, c) =>
      val into = b1.get(id)
      if (into == null) b1.put(id, c.clone()) else { into(0) += c(0); into(1) += c(1) }
    }
    b1
  }

  override def eval(buf: JHashMap[AnyRef, Array[Long]]): Any = {
    var tot = 0L
    var cld = 0L
    var lo = Double.PositiveInfinity
    var hi = Double.NegativeInfinity
    buf.values().forEach { c =>
      tot += c(0)
      cld += c(1)
      val fraction = c(1).toDouble / c(0).toDouble
      if (fraction < lo) lo = fraction
      if (fraction > hi) hi = fraction
    }
    if (buf.isEmpty) InternalRow(null, null, null, 0L, 0L)
    else InternalRow(lo, hi, cld.toDouble / tot.toDouble, tot, buf.size.toLong)
  }

  override def serialize(buf: JHashMap[AnyRef, Array[Long]]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.forEach { (id, c) =>
      out.writeBoolean(id != null)
      id match {
        case null =>
        case s: UTF8String => out.writeInt(s.numBytes()); out.write(s.getBytes)
        case l: java.lang.Long => out.writeLong(l)
      }
      out.writeLong(c(0))
      out.writeLong(c(1))
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): JHashMap[AnyRef, Array[Long]] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new JHashMap[AnyRef, Array[Long]](math.max(16, n * 2))
    var i = 0
    while (i < n) {
      val id: AnyRef =
        if (!in.readBoolean()) null
        else if (stringIds) {
          val b = new Array[Byte](in.readInt())
          in.readFully(b)
          UTF8String.fromBytes(b)
        } else java.lang.Long.valueOf(in.readLong())
      buf.put(id, Array(in.readLong(), in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CloudFractionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CloudFractionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CloudFractionAgg =
    copy(flag = newChildren(0), granule = newChildren(1))
  override def prettyName: String = "cloud_fraction"
}

object CloudFractionAgg {
  val ResultType: StructType = StructType(Seq(
    StructField("min", DoubleType),
    StructField("max", DoubleType),
    StructField("mean", DoubleType),
    StructField("pixel_counts", LongType, nullable = false),
    StructField("grid_counts", LongType, nullable = false)))

  /** `STRUCT<min, max, mean, pixel_counts, grid_counts>` of the cloud-mask
    * `flag` per cell; `granule` is the exact (string or integral) granule id.
    */
  def cloudFraction(flag: Column, granule: Column): Column =
    Bridge.aggColumn(CloudFractionAgg(
      // unconditional cast: the child may still be unresolved here, and
      // Catalyst elides a double-to-double Cast anyway
      Cast(Bridge.expression(flag), DoubleType), Bridge.expression(granule)))
}
