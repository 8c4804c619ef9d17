package graft.engine

import scala.annotation.switch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.agg.Binning
import graft.agg.StatsPlan._

/** The L3 cell aggregate of one job: the [[GridColumn]]s to finalize, in
  * output order, and where the input row holds what they read — the cell
  * (BIGINT), each variable read (data variables and joint partners, as
  * DOUBLE) by name, the cloud-mask flag (DOUBLE) and the granule id (a
  * string); `flagInput`/`granuleInput` are -1 without a cloud fraction.
  */
final case class CellAggSpec(
    layout: Seq[GridColumn],
    cellInput: Int,
    varInputs: Map[String, Int],
    flagInput: Int,
    granuleInput: Int) {

  /** The same aggregate over rows that hold input column `i` at `to(i)`. */
  def remap(to: Int => Int): CellAggSpec = {
    def at(i: Int): Int = if (i < 0) i else to(i)
    copy(cellInput = at(cellInput), varInputs = varInputs.map { case (v, i) => v -> at(i) },
      flagInput = at(flagInput), granuleInput = at(granuleInput))
  }
}

/** Primitive per-task state of the L3 cell aggregate — the reference's
  * `grid_data` accumulator (flat arrays indexed by cell) restricted to the
  * cells one task touches:
  *
  *   - an open-addressing `cell -> slot` map;
  *   - per slot, `min, max, sum, sumsq` of each variable in ONE
  *     `Array[Double]` at `slot * dStride + 4v`, and its count, 1-D bins and
  *     joint bins in ONE `Array[Long]` at `slot * lStride + lOff(v)`;
  *   - cloud fraction as per-slot linked entries `(granule, determined,
  *     cloudy)` in primitive arrays; granule ids go through a per-task
  *     dictionary that keeps the exact id (a string copy, or NULL), never
  *     only its hash.
  *
  * A partial folds input rows ([[update]]) and ships each slot as bytes
  * ([[encode]]); a final folds those bytes ([[merge]]) and produces the
  * layout columns ([[finalized]]). Semantics equal Spark's built-in
  * aggregates: min/max in Spark's double order (NaN largest, -0.0 == 0.0,
  * ties keep the first value), sums from 0.0 in row then merge order,
  * counts skip only NULL.
  *
  * `reserve(bytes, cells)` is called before the state grows by `bytes`.
  */
private[engine] final class CellState(spec: CellAggSpec, reserve: (Long, Int) => Unit) {

  /** The accumulated variables: every one read that a layout column
    * summarizes, in layout order, with its 1-D and joint histogram columns.
    */
  private val vars = spec.layout.map(_.variable).distinct.filter(spec.varInputs.contains)
  private def statsOf(v: String) = spec.layout.filter(_.variable == v).map(_.stat)
  private val hist = vars.map(v => statsOf(v).collectFirst { case h: HistogramCounts => h })
  private val joint = vars.map(v => statsOf(v).collectFirst { case j: JointHistogram => j })

  private val nVars = vars.length
  private val varIn = vars.map(spec.varInputs).toArray
  private val edges: Array[Array[Double]] = hist.zip(joint).map { case (h, j) =>
    h.map(_.edges).orElse(j.map(_.xEdges)).fold(null: Array[Double])(_.toArray)
  }.toArray
  private val nBins = hist.map(_.fold(0)(_.bins.head)).toArray
  private val jointIn = joint.map(_.fold(-1)(j => spec.varInputs(j.partner))).toArray
  private val jEdges = joint.map(_.fold(null: Array[Double])(_.yEdges.toArray)).toArray
  private val ny = joint.map(_.fold(0)(_.bins(1))).toArray
  private val nx = joint.map(_.fold(0)(_.bins.head)).toArray
  /** Long-block layout per variable: count, then 1-D bins, then joint bins. */
  private val lOff: Array[Int] =
    (0 until nVars).scanLeft(0)((o, v) => o + 1 + nBins(v) + nx(v) * ny(v)).toArray
  private val dStride = 4 * nVars
  private val lStride = lOff(nVars)
  private val cellIn = spec.cellInput
  private val flagIn = spec.flagInput
  private val gIn = spec.granuleInput
  private val withCf = flagIn >= 0

  /** Heap bytes of one slot (cell key, map entry at load <= 1/2, state). */
  val slotBytes: Long = 8L + 24L + 8L * (dStride + lStride) + (if (withCf) 4 else 0)

  // ----------------------------------------------------- cell -> slot map

  private var keys = new Array[Long](16)
  private var vals = new Array[Int](16) // slot + 1; 0 = empty
  private var mask = 15
  private var cap = 0 // slots allocated
  private var cells = new Array[Long](0)
  private var d = new Array[Double](0)
  private var l = new Array[Long](0)
  private var cfHead = new Array[Int](0)
  private var lastCell = 0L
  private var lastSlot = -1
  /** Slots in use. */
  var size = 0
  /** Bytes reserved so far (the state's footprint). */
  var bytes = 0L

  private def grow(extra: Long): Unit = { reserve(extra, size); bytes += extra }

  private def slotOf(cell: Long): Int = {
    if (lastSlot >= 0 && cell == lastCell) return lastSlot
    val h = cell * 0x9E3779B97F4A7C15L
    var i = (h ^ (h >>> 29)).toInt & mask
    var v = vals(i)
    while (v != 0 && keys(i) != cell) { i = (i + 1) & mask; v = vals(i) }
    val s = if (v != 0) v - 1 else {
      if (size == cap) growSlots()
      val s = size
      cells(s) = cell
      java.util.Arrays.fill(d, s * dStride, (s + 1) * dStride, 0.0)
      java.util.Arrays.fill(l, s * lStride, (s + 1) * lStride, 0L)
      if (withCf) cfHead(s) = -1
      keys(i) = cell
      vals(i) = s + 1
      size += 1
      if (2 * size > mask) rehash()
      s
    }
    lastCell = cell
    lastSlot = s
    s
  }

  private def growSlots(): Unit = {
    val n = math.max(64, 2 * cap)
    grow((n - cap) * (slotBytes - 24L))
    cells = java.util.Arrays.copyOf(cells, n)
    d = java.util.Arrays.copyOf(d, n * dStride)
    l = java.util.Arrays.copyOf(l, n * lStride)
    if (withCf) cfHead = java.util.Arrays.copyOf(cfHead, n)
    cap = n
  }

  private def rehash(): Unit = {
    val n = 2 * (mask + 1)
    grow(12L * (n - mask - 1))
    keys = new Array[Long](n)
    vals = new Array[Int](n)
    mask = n - 1
    var s = 0
    while (s < size) {
      val cell = cells(s)
      val h = cell * 0x9E3779B97F4A7C15L
      var i = (h ^ (h >>> 29)).toInt & mask
      while (vals(i) != 0) i = (i + 1) & mask
      keys(i) = cell
      vals(i) = s + 1
      s += 1
    }
  }

  /** Drop every slot (the partial's early emit); the arrays are kept. */
  def reset(): Unit = {
    java.util.Arrays.fill(vals, 0)
    size = 0
    entries = 0
    lastSlot = -1
  }

  // ----------------------------------------------------- cloud fraction

  private var cfNext = new Array[Int](0)
  private var cfGran = new Array[Int](0)
  private var cfDet = new Array[Long](0)
  private var cfCld = new Array[Long](0)
  private var entries = 0

  /** Add counts to the slot's entry for granule `g` (newest entries first:
    * the input arrives granule by granule, so the head usually matches).
    */
  private def addCf(s: Int, g: Int, det: Long, cld: Long): Unit = {
    var e = cfHead(s)
    while (e >= 0 && cfGran(e) != g) e = cfNext(e)
    if (e < 0) {
      if (entries == cfNext.length) {
        val n = math.max(64, 2 * entries)
        grow(24L * (n - entries))
        cfNext = java.util.Arrays.copyOf(cfNext, n)
        cfGran = java.util.Arrays.copyOf(cfGran, n)
        cfDet = java.util.Arrays.copyOf(cfDet, n)
        cfCld = java.util.Arrays.copyOf(cfCld, n)
      }
      e = entries
      entries += 1
      cfGran(e) = g
      cfDet(e) = 0L
      cfCld(e) = 0L
      cfNext(e) = cfHead(s)
      cfHead(s) = e
    }
    cfDet(e) += det
    cfCld(e) += cld
  }

  // granule dictionary: dense ids for exact granule ids
  private val ids = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
  private val idOf = new java.util.HashMap[AnyRef, Integer]()
  private var lastId = -1
  private var lastKey: AnyRef = null

  private def idFor(key: AnyRef, copy: => AnyRef): Int = {
    if (lastId >= 0 && key == lastKey) return lastId
    val known = idOf.get(key)
    val id = if (known != null) known.intValue else {
      val owned = copy
      ids += owned
      idOf.put(owned, ids.length - 1)
      ids.length - 1
    }
    lastKey = ids(id)
    lastId = id
    id
  }

  private def granuleOf(row: InternalRow): Int =
    if (row.isNullAt(gIn)) idFor(NullId, NullId)
    else { val u = row.getUTF8String(gIn); idFor(u, u.copy()) }

  // ----------------------------------------------------- partial: fold rows

  /** Fold one input row (the cell as BIGINT, the variables as DOUBLE). */
  def update(row: InternalRow): Unit = {
    val s = slotOf(row.getLong(cellIn))
    val lb = s * lStride
    var v = 0
    while (v < nVars) {
      val in = varIn(v)
      if (!row.isNullAt(in)) {
        val x = row.getDouble(in)
        val lc = lb + lOff(v)
        val dm = s * dStride + 4 * v
        if (l(lc) == 0L) { d(dm) = x; d(dm + 1) = x }
        else {
          if (compare(d(dm), x) > 0) d(dm) = x
          if (compare(x, d(dm + 1)) > 0) d(dm + 1) = x
        }
        d(dm + 2) += x
        d(dm + 3) += x * x
        l(lc) += 1L
        val e = edges(v)
        val bx = if (e == null) -1 else Binning.binIndexScala(x, e)
        if (bx >= 0) {
          if (nBins(v) > 0) l(lc + 1 + bx) += 1L
          val jin = jointIn(v)
          if (jin >= 0 && !row.isNullAt(jin)) {
            val by = Binning.binIndexScala(row.getDouble(jin), jEdges(v))
            if (by >= 0) l(lc + 1 + nBins(v) + bx * ny(v) + by) += 1L
          }
        }
      }
      v += 1
    }
    if (withCf && !row.isNullAt(flagIn)) {
      val f = row.getDouble(flagIn)
      if (f >= 0 && f <= 3) addCf(s, granuleOf(row), 1L, if (f <= 1) 1L else 0L)
    }
  }

  /** The cell of slot `s`. */
  def cell(s: Int): Long = cells(s)

  // ----------------------------------------------------- slot <-> bytes
  //
  // One slot as bytes: the long block sparsely, as varint (index gap,
  // value) pairs of its non-zero entries closed by a 0 gap; then the four
  // doubles of every variable whose count is non-zero (a zero count means
  // min/max unset and sums exactly 0.0); then the cloud-fraction entries
  // as varint (determined, cloudy) plus the granule id, closed by a 0.

  private var buf = new Array[Byte](256)
  private var pos = 0

  /** Slot `s` as bytes: `buffer` holds them in `[0, length)`. */
  def encode(s: Int): Int = {
    pos = 0
    val lb = s * lStride
    var last = -1
    var i = 0
    while (i < lStride) {
      val x = l(lb + i)
      if (x != 0L) { putVar(i - last); putVar(x); last = i }
      i += 1
    }
    putVar(0L)
    var v = 0
    while (v < nVars) {
      if (l(lb + lOff(v)) != 0L) {
        ensure(32)
        var k = 0
        while (k < 4) {
          Platform.putDouble(buf, Platform.BYTE_ARRAY_OFFSET + pos, d(s * dStride + 4 * v + k))
          pos += 8
          k += 1
        }
      }
      v += 1
    }
    if (withCf) {
      var e = cfHead(s)
      while (e >= 0) {
        putVar(cfDet(e))
        putVar(cfCld(e))
        putGranule(ids(cfGran(e)))
        e = cfNext(e)
      }
      putVar(0L)
    }
    pos
  }

  def buffer: Array[Byte] = buf

  private def ensure(n: Int): Unit =
    if (pos + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, pos + n))

  private def putVar(x: Long): Unit = {
    ensure(10)
    var r = x
    while ((r & ~0x7FL) != 0L) { buf(pos) = ((r & 0x7F) | 0x80).toByte; pos += 1; r >>>= 7 }
    buf(pos) = r.toByte
    pos += 1
  }

  // varint (byte length + 1) then the bytes, 0 = NULL
  private def putGranule(id: AnyRef): Unit = id match {
    case NullId => putVar(0L)
    case u: UTF8String =>
      putVar(u.numBytes + 1L)
      ensure(u.numBytes)
      u.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
      pos += u.numBytes
  }

  // ----------------------------------------------------- final: fold bytes

  private var base: AnyRef = null
  private var at = 0L
  private val prior = new Array[Long](nVars)

  private def getVar(): Long = {
    var r = 0L
    var shift = 0
    var b = 0
    do {
      b = Platform.getByte(base, at)
      at += 1
      r |= (b & 0x7FL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    r
  }

  private def getDouble(): Double = { val x = Platform.getDouble(base, at); at += 8; x }

  private def getGranule(): Int = {
    val n = getVar().toInt
    if (n == 0) idFor(NullId, NullId)
    else {
      val u = UTF8String.fromAddress(base, at, n - 1)
      at += n - 1
      idFor(u, u.copy())
    }
  }

  /** Fold one partial row `(cell, state bytes)` into this state. */
  def merge(row: InternalRow): Unit = {
    val s = slotOf(row.getLong(0))
    row match {
      case u: UnsafeRow =>
        base = u.getBaseObject
        at = u.getBaseOffset + (u.getLong(1) >>> 32)
      case r =>
        base = r.getBinary(1)
        at = Platform.BYTE_ARRAY_OFFSET
    }
    val lb = s * lStride
    var v = 0
    while (v < nVars) { prior(v) = l(lb + lOff(v)); v += 1 }
    var i = -1
    var gap = getVar()
    while (gap != 0L) {
      i += gap.toInt
      l(lb + i) += getVar()
      gap = getVar()
    }
    v = 0
    while (v < nVars) {
      if (l(lb + lOff(v)) != prior(v)) {
        val dm = s * dStride + 4 * v
        val lo = getDouble()
        val hi = getDouble()
        if (prior(v) == 0L) { d(dm) = lo; d(dm + 1) = hi }
        else {
          if (compare(d(dm), lo) > 0) d(dm) = lo
          if (compare(hi, d(dm + 1)) > 0) d(dm + 1) = hi
        }
        d(dm + 2) += getDouble()
        d(dm + 3) += getDouble()
      }
      v += 1
    }
    if (withCf) {
      var det = getVar()
      while (det != 0L) {
        val cld = getVar()
        addCf(s, getGranule(), det, cld)
        det = getVar()
      }
    }
  }

  // ----------------------------------------------------- finalize

  import CellState._

  private val varIndex: Map[String, Int] = vars.zipWithIndex.toMap

  /** The layout resolved once: each column's finalizer and, for the
    * per-variable ones, its variable (-1 for the cloud fraction).
    */
  private val finalizer: Array[Int] = spec.layout.map(_.stat match {
    case PixelCounts => FCount
    case _: HistogramCounts => FHistogram
    case _: JointHistogram => FJoint
    case Minimum => FMin
    case Maximum => FMax
    case Mean => FMean
    case StandardDeviation => FStd
    case CloudFractionPixelCounts => FCfPixels
    case GranuleCounts => FGranules
    case CloudFractionMinimum => FCfMin
    case CloudFractionMaximum => FCfMax
    case CloudFractionMean => FCfMean
  }).toArray
  private val varOf: Array[Int] =
    spec.layout.map(c => varIndex.getOrElse(c.variable, -1)).toArray
  private val cfColumns = finalizer.exists(_ >= FCfPixels)

  // the reused output row, and the array writers of its histograms (a
  // joint histogram is an array of `nx` arrays of `ny` counts)
  private val out = new UnsafeRowWriter(1 + finalizer.length)
  private val histOut = new UnsafeArrayWriter(out, 8)
  private val jointRowOut = new UnsafeArrayWriter(histOut, 8)

  /** Slot `s` as one binary row — `cell`, then the layout columns — each
    * value written once, straight from the primitive arrays. The row is
    * reused: it is valid until the next call.
    */
  def finalized(s: Int): UnsafeRow = {
    out.reset()
    out.zeroOutNullBytes()
    out.write(0, cells(s))
    var cfLo = Double.PositiveInfinity
    var cfHi = Double.NegativeInfinity
    var tot, cld, granules = 0L
    if (cfColumns) {
      var e = cfHead(s)
      while (e >= 0) {
        tot += cfDet(e)
        cld += cfCld(e)
        val fraction = cfCld(e).toDouble / cfDet(e).toDouble
        if (fraction < cfLo) cfLo = fraction
        if (fraction > cfHi) cfHi = fraction
        granules += 1
        e = cfNext(e)
      }
    }
    var k = 0
    while (k < finalizer.length) {
      val o = k + 1
      val v = varOf(k)
      val lc = if (v < 0) 0 else s * lStride + lOff(v)
      val n = if (v < 0) 0L else l(lc)
      val dm = s * dStride + 4 * v
      (finalizer(k): @switch) match {
        case FCount => out.write(o, n)
        case FHistogram =>
          val at = out.cursor()
          putLongs(histOut, lc + 1, nBins(v))
          out.setOffsetAndSizeFromPreviousCursor(o, at)
        case FJoint =>
          val at = out.cursor()
          histOut.initialize(nx(v))
          var x = 0
          while (x < nx(v)) {
            val atX = histOut.cursor()
            putLongs(jointRowOut, lc + 1 + nBins(v) + x * ny(v), ny(v))
            histOut.setOffsetAndSizeFromPreviousCursor(x, atX)
            x += 1
          }
          out.setOffsetAndSizeFromPreviousCursor(o, at)
        case FMin => if (n == 0L) out.setNullAt(o) else out.write(o, d(dm))
        case FMax => if (n == 0L) out.setNullAt(o) else out.write(o, d(dm + 1))
        case FMean => if (n == 0L) out.setNullAt(o) else out.write(o, d(dm + 2) / n.toDouble)
        case FStd =>
          if (n == 0L) out.setNullAt(o)
          else {
            val mean = d(dm + 2) / n.toDouble
            out.write(o, math.sqrt(d(dm + 3) / n.toDouble - mean * mean))
          }
        case FCfPixels => out.write(o, tot)
        case FGranules => out.write(o, granules)
        case FCfMin => if (granules == 0L) out.setNullAt(o) else out.write(o, cfLo)
        case FCfMax => if (granules == 0L) out.setNullAt(o) else out.write(o, cfHi)
        case _ =>
          if (granules == 0L) out.setNullAt(o) else out.write(o, cld.toDouble / tot.toDouble)
      }
      k += 1
    }
    out.getRow
  }

  /** `n` longs of the long block, from `from`, as the next array of `w`. */
  private def putLongs(w: UnsafeArrayWriter, from: Int, n: Int): Unit = {
    w.initialize(n)
    // the writer reserved the header, then exactly 8n bytes of values
    Platform.copyMemory(l, Platform.LONG_ARRAY_OFFSET + 8L * from,
      w.getBuffer, w.cursor() - 8L * n, 8L * n)
  }

  /** Spark's double order: -0.0 == 0.0, NaN above every number. */
  private def compare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)
}

private[engine] object CellState {
  // finalizers of the layout columns; the cloud-fraction ones last
  final val FCount = 0
  final val FHistogram = 1
  final val FJoint = 2
  final val FMin = 3
  final val FMax = 4
  final val FMean = 5
  final val FStd = 6
  final val FCfPixels = 7
  final val FGranules = 8
  final val FCfMin = 9
  final val FCfMax = 10
  final val FCfMean = 11
}

/** The dictionary's key for a NULL granule id. */
private case object NullId
