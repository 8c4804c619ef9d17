package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal pure-JVM netCDF-3 "classic" (CDF-1) writer + reader.
  *
  * The reference's actual L3 output is a binary HDF5/netCDF file
  * (`aggregate_functions.py:724-757`); no HDF5 library exists in this
  * environment, but netCDF-3 classic is a simple, fully public,
  * self-describing format (netCDF User Guide, Appendix B "File Format
  * Specification") writable from the driver-side grid. [[L3Writer.writeNetcdf]]
  * uses this to produce a real `.nc` file any netCDF consumer
  * (ncdump, xarray, scipy.io.netcdf_file, Panoply) opens directly.
  *
  * Scope: fixed-size variables only (no record dimension — L3 grids are
  * static), types BYTE/CHAR/SHORT/INT/FLOAT/DOUBLE, dimension/variable/
  * global attributes. All integers big-endian per the spec; every name,
  * attribute value block and data block padded to a 4-byte boundary.
  * Writing is deterministic: the same [[NcFile]] always produces the same
  * bytes (header laid out in declaration order, data in variable order),
  * which the byte-level round-trip test pins.
  */
object NetCDF3 {

  sealed abstract class NcType(val id: Int, val size: Int)
  case object NcByte extends NcType(1, 1)
  case object NcChar extends NcType(2, 1)
  case object NcShort extends NcType(3, 2)
  case object NcInt extends NcType(4, 4)
  case object NcFloat extends NcType(5, 4)
  case object NcDouble extends NcType(6, 8)

  private val types = Seq(NcByte, NcChar, NcShort, NcInt, NcFloat, NcDouble)
  private def typeOf(id: Int): NcType =
    types.find(_.id == id).getOrElse(
      throw new IllegalArgumentException(s"unknown nc_type $id"))

  sealed trait AttValue
  final case class CharAtt(s: String) extends AttValue
  final case class ShortAtt(vs: Seq[Short]) extends AttValue
  final case class IntAtt(vs: Seq[Int]) extends AttValue
  final case class FloatAtt(vs: Seq[Float]) extends AttValue
  final case class DoubleAtt(vs: Seq[Double]) extends AttValue

  final case class Att(name: String, value: AttValue)
  final case class Dim(name: String, length: Int)

  /** `data` must match `ncType`: Array[Byte] (BYTE/CHAR), Array[Short],
    * Array[Int], Array[Float], Array[Double]; length == product of dim
    * lengths (scalar when `dimIds` is empty).
    */
  final case class Var(
      name: String,
      dimIds: Seq[Int],
      ncType: NcType,
      atts: Seq[Att],
      data: AnyRef)

  final case class NcFile(dims: Seq[Dim], gatts: Seq[Att], vars: Seq[Var])

  private val TagDimension = 0x0A
  private val TagVariable = 0x0B
  private val TagAttribute = 0x0C

  private def pad4(n: Int): Int = (n + 3) & ~3

  private def dataLength(v: Var): Int = v.data match {
    case a: Array[Byte] => a.length
    case a: Array[Short] => a.length
    case a: Array[Int] => a.length
    case a: Array[Float] => a.length
    case a: Array[Double] => a.length
    case other => throw new IllegalArgumentException(
      s"${v.name}: unsupported data array ${other.getClass}")
  }

  private def validate(f: NcFile): Unit = {
    f.vars.foreach { v =>
      v.dimIds.foreach(d => require(d >= 0 && d < f.dims.length,
        s"${v.name}: dim id $d out of range"))
      val want = v.dimIds.map(f.dims(_).length.toLong).product
      require(dataLength(v) == want,
        s"${v.name}: data length ${dataLength(v)} != dim product $want")
      val typeOk = (v.ncType, v.data) match {
        case (NcByte | NcChar, _: Array[Byte]) => true
        case (NcShort, _: Array[Short]) => true
        case (NcInt, _: Array[Int]) => true
        case (NcFloat, _: Array[Float]) => true
        case (NcDouble, _: Array[Double]) => true
        case _ => false
      }
      require(typeOk, s"${v.name}: data array does not match ${v.ncType}")
    }
  }

  // ------------------------------------------------------------- sizing
  private def nameSize(s: String): Int =
    4 + pad4(s.getBytes(StandardCharsets.UTF_8).length)

  private def attValueType(a: AttValue): NcType = a match {
    case _: CharAtt => NcChar
    case _: ShortAtt => NcShort
    case _: IntAtt => NcInt
    case _: FloatAtt => NcFloat
    case _: DoubleAtt => NcDouble
  }

  private def attValueCount(a: AttValue): Int = a match {
    case CharAtt(s) => s.getBytes(StandardCharsets.UTF_8).length
    case ShortAtt(v) => v.length
    case IntAtt(v) => v.length
    case FloatAtt(v) => v.length
    case DoubleAtt(v) => v.length
  }

  private def attSize(a: Att): Int =
    nameSize(a.name) + 4 + 4 +
      pad4(attValueCount(a.value) * attValueType(a.value).size)

  private def attListSize(atts: Seq[Att]): Int =
    8 + atts.map(attSize).sum

  private def varHeaderSize(v: Var): Int =
    nameSize(v.name) + 4 + 4 * v.dimIds.length + attListSize(v.atts) + 4 + 4 + 4

  private def headerSize(f: NcFile): Int =
    4 + 4 + // magic + numrecs
      (8 + f.dims.map(d => nameSize(d.name) + 4).sum) +
      attListSize(f.gatts) +
      (8 + f.vars.map(varHeaderSize).sum)

  private def vsize(v: Var): Int = pad4(dataLength(v) * v.ncType.size)

  // ------------------------------------------------------------- writing
  private def putName(bb: ByteBuffer, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    bb.putInt(b.length); bb.put(b)
    (b.length until pad4(b.length)).foreach(_ => bb.put(0.toByte))
  }

  private def putAtt(bb: ByteBuffer, a: Att): Unit = {
    putName(bb, a.name)
    bb.putInt(attValueType(a.value).id)
    bb.putInt(attValueCount(a.value))
    val before = bb.position()
    a.value match {
      case CharAtt(s) => bb.put(s.getBytes(StandardCharsets.UTF_8))
      case ShortAtt(v) => v.foreach(bb.putShort)
      case IntAtt(v) => v.foreach(bb.putInt)
      case FloatAtt(v) => v.foreach(bb.putFloat)
      case DoubleAtt(v) => v.foreach(bb.putDouble)
    }
    val used = bb.position() - before
    (used until pad4(used)).foreach(_ => bb.put(0.toByte))
  }

  private def putAttList(bb: ByteBuffer, atts: Seq[Att]): Unit = {
    bb.putInt(if (atts.isEmpty) 0 else TagAttribute)
    bb.putInt(atts.length)
    atts.foreach(putAtt(bb, _))
  }

  /** Serialize to netCDF-3 classic bytes ([[writeTo]] into memory). */
  def toBytes(f: NcFile): Array[Byte] = ChannelOut.bytes(writeTo(f, _))

  /** Write the file to `path` (created or truncated), streamed: no copy of
    * the whole file is ever built in memory.
    */
  def write(f: NcFile, path: String): Unit = ChannelOut.file(path)(writeTo(f, _))

  /** Serialize to netCDF-3 classic bytes on `out`: the header from one
    * buffer, then each variable's data through [[ChannelOut]]'s bounded
    * big-endian buffer, zero-padded to a 4-byte boundary.
    */
  private def writeTo(f: NcFile, out: java.nio.channels.WritableByteChannel): Unit = {
    validate(f)
    val hdr = headerSize(f)
    val begins = f.vars.scanLeft(hdr)((off, v) => off + vsize(v))
    val bb = ByteBuffer.allocate(hdr) // big-endian by default
    bb.put("CDF".getBytes(StandardCharsets.US_ASCII)).put(1.toByte)
    bb.putInt(0) // numrecs: no record dimension
    bb.putInt(if (f.dims.isEmpty) 0 else TagDimension)
    bb.putInt(f.dims.length)
    f.dims.foreach { d => putName(bb, d.name); bb.putInt(d.length) }
    putAttList(bb, f.gatts)
    bb.putInt(if (f.vars.isEmpty) 0 else TagVariable)
    bb.putInt(f.vars.length)
    f.vars.zip(begins).foreach { case (v, begin) =>
      putName(bb, v.name)
      bb.putInt(v.dimIds.length)
      v.dimIds.foreach(bb.putInt)
      putAttList(bb, v.atts)
      bb.putInt(v.ncType.id)
      bb.putInt(vsize(v))
      bb.putInt(begin)
    }
    require(bb.position() == hdr, s"header layout bug: ${bb.position()} != $hdr")
    bb.flip()
    val ch = new ChannelOut(out, ByteOrder.BIG_ENDIAN, f.vars.map(vsize).foldLeft(0)(math.max))
    ch.write(bb)
    f.vars.foreach { v =>
      ch.write(v.data)
      ch.write(ByteBuffer.allocate(vsize(v) - dataLength(v) * v.ncType.size))
    }
  }

  // ------------------------------------------------------------- reading
  private def getName(bb: ByteBuffer): String = {
    val n = bb.getInt
    val b = new Array[Byte](n)
    bb.get(b)
    bb.position(bb.position() + (pad4(n) - n))
    new String(b, StandardCharsets.UTF_8)
  }

  private def getAttList(bb: ByteBuffer): Seq[Att] = {
    val tag = bb.getInt
    val n = bb.getInt
    require(tag == TagAttribute || (tag == 0 && n == 0),
      s"bad attribute list tag $tag")
    (0 until n).map { _ =>
      val name = getName(bb)
      val t = typeOf(bb.getInt)
      val count = bb.getInt
      val before = bb.position()
      val value: AttValue = t match {
        case NcChar | NcByte =>
          val b = new Array[Byte](count); bb.get(b)
          CharAtt(new String(b, StandardCharsets.UTF_8))
        case NcShort => ShortAtt((0 until count).map(_ => bb.getShort))
        case NcInt => IntAtt((0 until count).map(_ => bb.getInt))
        case NcFloat => FloatAtt((0 until count).map(_ => bb.getFloat))
        case NcDouble => DoubleAtt((0 until count).map(_ => bb.getDouble))
      }
      bb.position(before + pad4(count * t.size))
      Att(name, value)
    }
  }

  /** Parse netCDF-3 classic bytes (CDF-1 or CDF-2, fixed-size vars only). */
  def fromBytes(bytes: Array[Byte]): NcFile = {
    val bb = ByteBuffer.wrap(bytes)
    val magic = new Array[Byte](3); bb.get(magic)
    require(new String(magic, StandardCharsets.US_ASCII) == "CDF", "not a netCDF-3 file")
    val version = bb.get()
    require(version == 1 || version == 2, s"unsupported CDF version $version")
    val numrecs = bb.getInt
    require(numrecs == 0, "record dimensions not supported by this reader")
    val dimTag = bb.getInt
    val nDims = bb.getInt
    require(dimTag == TagDimension || (dimTag == 0 && nDims == 0), "bad dim tag")
    val dims = (0 until nDims).map(_ => Dim(getName(bb), bb.getInt))
    val gatts = getAttList(bb)
    val varTag = bb.getInt
    val nVars = bb.getInt
    require(varTag == TagVariable || (varTag == 0 && nVars == 0), "bad var tag")
    val vars = (0 until nVars).map { _ =>
      val name = getName(bb)
      val nd = bb.getInt
      val dimIds = (0 until nd).map(_ => bb.getInt)
      val atts = getAttList(bb)
      val t = typeOf(bb.getInt)
      val _vsize = bb.getInt
      val begin = if (version == 2) bb.getLong else bb.getInt.toLong
      (name, dimIds, atts, t, begin)
    }
    NcFile(dims, gatts, vars.map { case (name, dimIds, atts, t, begin) =>
      val n = dimIds.map(dims(_).length.toLong).product.toInt
      val db = ByteBuffer.wrap(bytes, begin.toInt, n * t.size)
      val data: AnyRef = t match {
        case NcByte | NcChar => val a = new Array[Byte](n); db.get(a); a
        case NcShort => Array.tabulate(n)(_ => db.getShort)
        case NcInt => Array.tabulate(n)(_ => db.getInt)
        case NcFloat => Array.tabulate(n)(_ => db.getFloat)
        case NcDouble => Array.tabulate(n)(_ => db.getDouble)
      }
      Var(name, dimIds, t, atts, data)
    })
  }

  def read(path: String): NcFile =
    fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
}
