package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal pure-JVM HDF5 writer + reader — the reference's LITERAL output
  * container (`aggregate_functions.py:724` opens `h5py.File(...,'w')`;
  * `addGridEntry` `:413-453` fills it). No HDF5 library exists in this
  * environment, but the format is fully public ("HDF5 File Format
  * Specification Version 3.0", HDF Group) and the subset the reference
  * writes — a flat root group of contiguous int64/float64 N-D datasets
  * with scalar/string attributes — is small enough to emit directly,
  * the same approach [[NetCDF3]] takes for the legacy sink.
  *
  * Structures emitted (all little-endian, offsets/lengths 8 bytes, the
  * "classic" pre-1.8 layout every HDF5 1.x reader accepts):
  *   - superblock version 0 with the root-group symbol-table entry
  *     (cache type 1: B-tree + local-heap addresses in scratch);
  *   - one version-1 B-tree node (group type, level 0) over ONE symbol
  *     table node (SNOD) holding every dataset sorted by name — the
  *     group "leaf K" in the superblock is sized so a single SNOD always
  *     suffices (K = max(4, ceil(n/2)); capacity is 2K entries);
  *   - a local heap with the link names;
  *   - per dataset a version-1 object header: dataspace (v1), datatype
  *     (class 0 fixed-point int64 / class 1 IEEE float64, little-endian),
  *     fill-value (v2, undefined), contiguous data-layout (v3), and one
  *     version-1 attribute message per attribute (scalar int64/float64,
  *     fixed-length ASCII strings, or a fixed-string 1-D array for
  *     `DIMENSION_LABELS` — the file-format footprint of the reference's
  *     `dims[i].label` calls);
  *   - raw contiguous data blocks.
  *
  * Scope: what the reference's sink needs — no chunking, no compression,
  * no groups below root, no variable-length types. Writing is
  * deterministic: the same [[H5File]] always yields the same bytes
  * (datasets laid out in sorted-name order), which the byte-level spec
  * test pins.
  *
  * The READER covers a wider subset than the writer, sized to parse the
  * reference's two committed golden artifacts
  * (`resources/data/sample_output_data/output_final.hdf5`, written by
  * h5py 2.x/HDF5 1.10, and `MYD08_D3.A2008001CloudFraction.nc`, a
  * netCDF-4 file written by netcdf 4.6.2 — also HDF5 under the
  * signature). On top of the writer's subset it parses:
  *   - object-header continuation messages (type 0x0010) in version-1
  *     headers, and version-2 "OHDR" headers with "OCHK" continuation
  *     blocks (HDF5 1.8 format netCDF-4 emits);
  *   - compact link messages (type 0x0006) for new-style groups, with
  *     recursion into subgroups (`sub/name` paths);
  *   - NIL / modification-time / old-fill / link-info / group-info /
  *     attribute-info bookkeeping messages (skipped);
  *   - variable-length string attributes (datatype class 9, string
  *     subtype) resolved through global heap collections ("GCOL");
  *   - fill-value v1/v2/old messages with a defined value, and
  *     contiguous datasets whose data was never allocated (address
  *     undefined) — materialized as the fill value, h5py semantics;
  *   - little/big-endian float32 datasets, widened to [[H5Float64]]
  *     (the in-memory model is double; widening is exact);
  *   - compound / reference / vlen-sequence ATTRIBUTES (netCDF's
  *     internal `REFERENCE_LIST` / `DIMENSION_LIST` bookkeeping) are
  *     skipped by datatype class — they carry no user data.
  * Everything else still fails loudly.
  */
object HDF5 {

  sealed trait H5Type { def size: Int }
  case object H5Int64 extends H5Type { val size = 8 }
  case object H5Float64 extends H5Type { val size = 8 }

  sealed trait AttValue
  final case class StrAtt(s: String) extends AttValue
  /** Fixed-string 1-D array (element size = longest value + NUL). */
  final case class StrArrayAtt(vs: Seq[String]) extends AttValue
  final case class LongAtt(v: Long) extends AttValue
  final case class DoubleAtt(v: Double) extends AttValue

  final case class Att(name: String, value: AttValue)

  /** `data` must be Array[Long] (H5Int64) or Array[Double] (H5Float64)
    * with length == product of `dims`; `dims` are row-major (C order),
    * rank >= 1.
    */
  final case class Dataset(
      name: String,
      dims: Seq[Int],
      dtype: H5Type,
      atts: Seq[Att],
      data: AnyRef)

  final case class H5File(datasets: Seq[Dataset])

  private val Signature: Array[Byte] =
    Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
  private val Undef = -1L // 0xFFFFFFFFFFFFFFFF: the spec's undefined address

  private def pad8(n: Int): Int = (n + 7) & ~7
  private def pad8L(n: Long): Long = (n + 7L) & ~7L

  private def validate(f: H5File): Unit = {
    require(f.datasets.map(_.name).distinct.size == f.datasets.size,
      "duplicate dataset names")
    f.datasets.foreach { d =>
      require(d.name.nonEmpty && !d.name.contains('/'),
        s"'${d.name}': root-level names only")
      require(d.dims.nonEmpty && d.dims.forall(_ > 0),
        s"${d.name}: rank >= 1 with positive dims required, got ${d.dims}")
      val want = d.dims.map(_.toLong).product
      val got = d.data match {
        case a: Array[Long] =>
          require(d.dtype == H5Int64, s"${d.name}: Array[Long] needs H5Int64")
          a.length.toLong
        case a: Array[Double] =>
          require(d.dtype == H5Float64, s"${d.name}: Array[Double] needs H5Float64")
          a.length.toLong
        case other => throw new IllegalArgumentException(
          s"${d.name}: unsupported data array ${other.getClass}")
      }
      require(got == want, s"${d.name}: data length $got != dim product $want")
    }
  }

  // ---------------------------------------------------------- raw pieces
  // (shared between object-header messages and attribute bodies)

  /** Dataspace message body, version 1: rank then u64 dims (flags 0). */
  private def dataspaceBody(dims: Seq[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + dims.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).put(dims.length.toByte).put(0.toByte)
    bb.position(bb.position() + 5) // reserved
    dims.foreach(d => bb.putLong(d.toLong))
    bb.array()
  }

  /** Datatype message body: version 1, classes 0 (fixed-point) and
    * 1 (IEEE float), little-endian.
    */
  private def datatypeBody(t: H5Type): Array[Byte] = t match {
    case H5Int64 =>
      val bb = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      bb.put(0x10.toByte)            // version 1 << 4 | class 0
      bb.put(0x08.toByte)            // bit field: LE, lo-pad 0, signed
      bb.put(0.toByte).put(0.toByte)
      bb.putInt(8)                   // size in bytes
      bb.putShort(0)                 // bit offset
      bb.putShort(64)                // bit precision
      bb.array()
    case H5Float64 =>
      val bb = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
      bb.put(0x11.toByte)            // version 1 << 4 | class 1
      bb.put(0x20.toByte)            // LE, implied-msb mantissa norm
      bb.put(63.toByte)              // sign bit location
      bb.put(0.toByte)
      bb.putInt(8)
      bb.putShort(0)                 // bit offset
      bb.putShort(64)                // bit precision
      bb.put(52.toByte)              // exponent location
      bb.put(11.toByte)              // exponent size
      bb.put(0.toByte)               // mantissa location
      bb.put(52.toByte)              // mantissa size
      bb.putInt(1023)                // exponent bias
      bb.array()
  }

  /** Fixed-length ASCII string datatype body (class 3, NUL-terminated). */
  private def stringTypeBody(size: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(0x13.toByte)              // version 1 << 4 | class 3
    bb.put(0.toByte)                 // padding 0 (NUL-terminate), ASCII
    bb.put(0.toByte).put(0.toByte)
    bb.putInt(size)
    bb.array()
  }

  private def fixedStrBytes(s: String, size: Int): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.US_ASCII)
    require(b.length < size, s"string '$s' does not fit fixed size $size")
    java.util.Arrays.copyOf(b, size) // NUL-padded
  }

  /** (datatype body, dataspace body, raw data) of one attribute value. */
  private def attParts(a: AttValue): (Array[Byte], Array[Byte], Array[Byte]) =
    a match {
      case StrAtt(s) =>
        val size = s.getBytes(StandardCharsets.US_ASCII).length + 1
        (stringTypeBody(size), scalarSpace, fixedStrBytes(s, size))
      case StrArrayAtt(vs) =>
        require(vs.nonEmpty, "empty string-array attribute")
        val size = vs.map(_.getBytes(StandardCharsets.US_ASCII).length).max + 1
        (stringTypeBody(size), dataspaceBody(Seq(vs.length)),
          vs.flatMap(fixedStrBytes(_, size)).toArray)
      case LongAtt(v) =>
        val d = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v)
        (datatypeBody(H5Int64), scalarSpace, d.array())
      case DoubleAtt(v) =>
        val d = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(v)
        (datatypeBody(H5Float64), scalarSpace, d.array())
    }

  /** Scalar dataspace: version 1, rank 0. */
  private val scalarSpace: Array[Byte] = {
    val bb = ByteBuffer.allocate(8)
    bb.put(1.toByte) // version; rank 0, flags 0, reserved
    bb.array()
  }

  /** Attribute message body, version 1 (name/datatype/dataspace each
    * padded to 8, data last).
    */
  private def attBody(att: Att): Array[Byte] = {
    val name = att.name.getBytes(StandardCharsets.US_ASCII) :+ 0.toByte
    val (dt, ds, data) = attParts(att.value)
    val bb = ByteBuffer.allocate(
      8 + pad8(name.length) + pad8(dt.length) + pad8(ds.length) + data.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).put(0.toByte)
    bb.putShort(name.length.toShort)
    bb.putShort(dt.length.toShort)
    bb.putShort(ds.length.toShort)
    bb.put(name); bb.position(bb.position() + (pad8(name.length) - name.length))
    bb.put(dt); bb.position(bb.position() + (pad8(dt.length) - dt.length))
    bb.put(ds); bb.position(bb.position() + (pad8(ds.length) - ds.length))
    bb.put(data)
    bb.array()
  }

  /** Fill-value message body, version 2: early allocation, write on
    * allocation, fill undefined (the reference writes every cell).
    */
  private val fillBody: Array[Byte] = Array[Byte](2, 1, 0, 0)

  // ------------------------------------------------------ message framing

  private final case class Msg(tpe: Int, body: Array[Byte])

  private def msgSize(m: Msg): Int = 8 + pad8(m.body.length)

  private def putMsg(bb: ByteBuffer, m: Msg): Unit = {
    bb.putShort(m.tpe.toShort)
    bb.putShort(pad8(m.body.length).toShort)
    bb.put(0.toByte) // flags
    bb.position(bb.position() + 3)
    bb.put(m.body)
    bb.position(bb.position() + (pad8(m.body.length) - m.body.length))
  }

  /** Version-1 object header: 12-byte prefix + 4 pad so messages start
    * 8-aligned.
    */
  private def putObjectHeader(bb: ByteBuffer, msgs: Seq[Msg]): Unit = {
    bb.put(1.toByte).put(0.toByte)
    bb.putShort(msgs.length.toShort)
    bb.putInt(1) // hard-link reference count (root btree/snod entry)
    bb.putInt(msgs.map(msgSize).sum)
    bb.position(bb.position() + 4)
    msgs.foreach(putMsg(bb, _))
  }

  private def objectHeaderSize(msgs: Seq[Msg]): Int =
    16 + msgs.map(msgSize).sum

  private def datasetMsgs(d: Dataset, dataAddr: Long): Seq[Msg] = {
    val layout = {
      val bb = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
      bb.put(3.toByte).put(1.toByte) // version 3, contiguous
      bb.putLong(dataAddr)
      bb.putLong(d.dims.map(_.toLong).product * d.dtype.size)
      bb.array()
    }
    Seq(
      Msg(0x0001, dataspaceBody(d.dims)),
      Msg(0x0003, datatypeBody(d.dtype)),
      Msg(0x0005, fillBody),
      Msg(0x0008, layout)) ++
      d.atts.map(a => Msg(0x000C, attBody(a)))
  }

  // -------------------------------------------------------------- writing

  /** Serialize to HDF5 classic bytes ([[writeTo]] into memory). */
  def toBytes(file: H5File): Array[Byte] = ChannelOut.bytes(writeTo(file, _))

  /** Write the file to `path` (created or truncated), streamed: no copy of
    * the whole file is ever built in memory.
    */
  def write(f: H5File, path: String): Unit = ChannelOut.file(path)(writeTo(f, _))

  /** Serialize to HDF5 classic bytes on `out`: the metadata prefix
    * (superblock, heap, B-tree, symbol table, object headers) from one
    * buffer, then each dataset's raw data through [[ChannelOut]]'s
    * bounded little-endian buffer.
    */
  private def writeTo(file: H5File, out: java.nio.channels.WritableByteChannel): Unit = {
    validate(file)
    val ds = file.datasets.sortBy(_.name) // SNOD entries must be name-sorted
    val n = ds.length
    val leafK = math.max(4, (n + 1) / 2)
    val internalK = 16

    // local heap: offset 0 is the reserved empty-string slot (8 bytes);
    // names NUL-terminated, 8-padded
    val nameBytes = ds.map(_.name.getBytes(StandardCharsets.US_ASCII) :+ 0.toByte)
    val nameOffsets = nameBytes.scanLeft(8L)((off, b) => off + pad8(b.length))
    val heapDataSize = nameOffsets.last

    val superblockSize = 96L
    val heapHeaderAddr = superblockSize
    val heapDataAddr = heapHeaderAddr + 32
    val btreeAddr = heapDataAddr + heapDataSize
    val btreeSize = 24L + (2L * internalK) * 16 + 8
    val snodAddr = btreeAddr + btreeSize
    val snodSize = 8L + 2L * leafK * 40
    val rootOhAddr = snodAddr + snodSize
    val rootMsgs = Seq(Msg(0x0011, {
      val bb = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      bb.putLong(btreeAddr).putLong(heapHeaderAddr)
      bb.array()
    }))
    val rootOhSize = objectHeaderSize(rootMsgs).toLong

    // dataset object headers: sizes are address-independent, so size one
    // pass with a placeholder address, then assign real data addresses
    val ohSizes = ds.map(d => pad8(objectHeaderSize(datasetMsgs(d, 0L))).toLong)
    val ohAddrs = ohSizes.scanLeft(rootOhAddr + pad8(rootOhSize.toInt).toLong)(_ + _)
    // sizes stay Long until after the 2 GiB guard: a single >=2^31-byte
    // dataset must hit the clear error below, not an Int wrap
    val dataSizes = ds.map { d =>
      val sz = pad8L(d.dims.map(_.toLong).product * d.dtype.size)
      require(sz <= Int.MaxValue,
        s"${d.name}: dataset byte size $sz exceeds the driver-side 2 GiB " +
          "bound (L3 grids are driver-small by design)")
      sz
    }
    val dataAddrs = dataSizes.scanLeft(ohAddrs.last)(_ + _)
    val eof = dataAddrs.last
    require(eof <= Int.MaxValue,
      s"file size $eof exceeds the driver-side 2 GiB bound (L3 grids are " +
        "driver-small by design; the distributed sink is L3Writer.write)")

    val bb = ByteBuffer.allocate(dataAddrs.head.toInt).order(ByteOrder.LITTLE_ENDIAN)

    // superblock v0
    bb.put(Signature)
    bb.put(0.toByte) // superblock version
    bb.put(0.toByte) // free-space storage version
    bb.put(0.toByte) // root symbol-table version
    bb.put(0.toByte) // reserved
    bb.put(0.toByte) // shared-header-message format version
    bb.put(8.toByte) // size of offsets
    bb.put(8.toByte) // size of lengths
    bb.put(0.toByte) // reserved
    bb.putShort(leafK.toShort)
    bb.putShort(internalK.toShort)
    bb.putInt(0)     // file consistency flags
    bb.putLong(0L)   // base address
    bb.putLong(Undef) // free-space info address
    bb.putLong(eof)
    bb.putLong(Undef) // driver info block
    // root symbol-table entry: cache type 1 (B-tree + heap in scratch)
    bb.putLong(0L)   // link name offset (empty string)
    bb.putLong(rootOhAddr)
    bb.putInt(1)     // cache type
    bb.putInt(0)     // reserved
    bb.putLong(btreeAddr)
    bb.putLong(heapHeaderAddr)
    require(bb.position() == 96, s"superblock layout bug: ${bb.position()}")

    // local heap
    bb.put("HEAP".getBytes(StandardCharsets.US_ASCII))
    bb.put(0.toByte); bb.position(bb.position() + 3)
    bb.putLong(heapDataSize)
    bb.putLong(Undef) // no free block
    bb.putLong(heapDataAddr)
    bb.position(bb.position() + 8) // reserved empty-string slot at offset 0
    ds.indices.foreach { i =>
      val b = nameBytes(i)
      bb.put(b)
      bb.position(bb.position() + (pad8(b.length) - b.length))
    }
    require(bb.position() == btreeAddr, "heap layout bug")

    // group B-tree: one leaf-level node, one SNOD child
    bb.put("TREE".getBytes(StandardCharsets.US_ASCII))
    bb.put(0.toByte) // node type: group
    bb.put(0.toByte) // level
    bb.putShort(1)   // entries used
    bb.putLong(Undef); bb.putLong(Undef) // siblings
    bb.putLong(0L)          // key 0: heap offset of "" (<= every name)
    bb.putLong(snodAddr)    // child 0
    bb.putLong(if (n == 0) 0L else nameOffsets(n - 1)) // key 1: largest name
    bb.position((btreeAddr + btreeSize).toInt) // rest of the 2K-capacity node
    // symbol table node
    bb.put("SNOD".getBytes(StandardCharsets.US_ASCII))
    bb.put(1.toByte).put(0.toByte) // version, reserved
    bb.putShort(n.toShort)
    ds.indices.foreach { i =>
      bb.putLong(nameOffsets(i))
      bb.putLong(ohAddrs(i))
      bb.putInt(0) // cache type 0: nothing cached for datasets
      bb.putInt(0)
      bb.position(bb.position() + 16) // scratch
    }
    bb.position((snodAddr + snodSize).toInt)

    // root group object header
    putObjectHeader(bb, rootMsgs)
    bb.position((rootOhAddr + pad8(rootOhSize.toInt)).toInt)

    // dataset object headers (now with real data addresses)
    ds.indices.foreach { i =>
      require(bb.position() == ohAddrs(i).toInt, s"OH layout bug at $i")
      putObjectHeader(bb, datasetMsgs(ds(i), dataAddrs(i)))
      bb.position((ohAddrs(i) + ohSizes(i)).toInt)
    }

    require(bb.position() == dataAddrs.head.toInt, "data layout bug")
    bb.flip()
    // raw data: every element is 8 bytes, so each dataset ends on its
    // successor's address
    val ch = new ChannelOut(out, ByteOrder.LITTLE_ENDIAN, dataSizes.foldLeft(0L)(math.max))
    ch.write(bb)
    ds.foreach(d => ch.write(d.data))
  }

  // -------------------------------------------------------------- reading

  private def slice(bytes: Array[Byte], addr: Long, len: Int): ByteBuffer =
    ByteBuffer.wrap(bytes, addr.toInt, len).order(ByteOrder.LITTLE_ENDIAN)

  private def heapString(bytes: Array[Byte], heapData: Long, off: Long): String = {
    var end = (heapData + off).toInt
    while (bytes(end) != 0) end += 1
    new String(bytes, (heapData + off).toInt, end - (heapData + off).toInt,
      StandardCharsets.US_ASCII)
  }

  private def parseDataspace(b: ByteBuffer): Seq[Int] = {
    val ver = b.get() & 0xFF
    val rank = b.get().toInt
    ver match {
      case 1 =>
        b.get() // flags; max-dims (flag bit 0) follow the dims — not read
        b.position(b.position() + 5)
      case 2 =>
        b.get() // flags
        b.get() // type (scalar/simple/null)
      case v => throw new IllegalArgumentException(s"dataspace version $v")
    }
    (0 until rank).map(_ => b.getLong.toInt)
  }

  private sealed trait ParsedType
  private final case class NumType(t: H5Type) extends ParsedType
  /** 4-byte IEEE float (either byte order), widened to double on read. */
  private final case class F32Type(bigEndian: Boolean) extends ParsedType
  private final case class StrType(size: Int) extends ParsedType
  /** Variable-length string: 16-byte (len, gcolAddr, index) descriptors. */
  private case object VlenStrType extends ParsedType
  /** Compound / reference / vlen-sequence — netCDF bookkeeping
    * (`REFERENCE_LIST`, `DIMENSION_LIST`); attributes of this type are
    * skipped, datasets of this type are an error.
    */
  private case object OpaqueType extends ParsedType

  private def parseDatatype(b: ByteBuffer): ParsedType = {
    val cv = b.get() & 0xFF
    val cls = cv & 0x0F
    val bits0 = b.get() & 0xFF
    b.get(); b.get()
    val size = b.getInt
    cls match {
      case 0 =>
        require((bits0 & 1) == 0 && size == 8,
          s"only LE int64 fixed-point supported (size $size)")
        NumType(H5Int64)
      case 1 if size == 8 =>
        require((bits0 & 1) == 0, "big-endian float64 not supported")
        NumType(H5Float64)
      case 1 if size == 4 => F32Type(bigEndian = (bits0 & 1) == 1)
      case 3 => StrType(size)
      case 6 | 7 => OpaqueType
      case 9 => if ((bits0 & 0x0F) == 1) VlenStrType else OpaqueType
      case c => throw new IllegalArgumentException(s"unsupported datatype class $c")
    }
  }

  /** Object of a global heap collection ("GCOL"), by (address, index). */
  private def gcolObject(bytes: Array[Byte], addr: Long, index: Int): Array[Byte] = {
    val h = slice(bytes, addr, 16)
    val sig = new Array[Byte](4); h.get(sig)
    require(new String(sig, StandardCharsets.US_ASCII) == "GCOL", "bad GCOL signature")
    require(h.get() == 1, "GCOL version 1 only")
    h.position(h.position() + 3)
    val collSize = h.getLong
    var p = addr + 16
    val end = addr + collSize
    while (p + 16 <= end) {
      val ob = slice(bytes, p, 16)
      val idx = ob.getShort & 0xFFFF
      ob.getShort; ob.getInt // ref count, reserved
      val objSize = ob.getLong
      if (idx == 0) // free-space terminator
        throw new IllegalArgumentException(s"GCOL object $index not found at $addr")
      if (idx == index) {
        val out = new Array[Byte](objSize.toInt)
        System.arraycopy(bytes, (p + 16).toInt, out, 0, objSize.toInt)
        return out
      }
      p += 16 + pad8L(objSize)
    }
    throw new IllegalArgumentException(s"GCOL object $index not found at $addr")
  }

  private def parseAttValue(
      bytes: Array[Byte], t: ParsedType, dims: Seq[Int], b: ByteBuffer): AttValue = {
    def str(size: Int): String = {
      val raw = new Array[Byte](size); b.get(raw)
      val end = raw.indexOf(0.toByte)
      new String(raw, 0, if (end < 0) size else end, StandardCharsets.US_ASCII)
    }
    def vlenStr(): String = {
      val len = b.getInt
      val addr = b.getLong
      val idx = b.getInt
      new String(gcolObject(bytes, addr, idx), 0, len, StandardCharsets.UTF_8)
    }
    // h5py writes scalar numeric attrs as rank-1 [1] arrays (_FillValue);
    // collapse those to the scalar model
    (t, dims) match {
      case (NumType(H5Int64), Nil | Seq(1)) => LongAtt(b.getLong)
      case (NumType(H5Float64), Nil | Seq(1)) => DoubleAtt(b.getDouble)
      case (F32Type(be), Nil | Seq(1)) =>
        val v = if (be) java.lang.Float.intBitsToFloat(Integer.reverseBytes(b.getInt))
                else b.getFloat
        DoubleAtt(v.toDouble)
      case (StrType(sz), Nil) => StrAtt(str(sz))
      case (StrType(sz), Seq(k)) => StrArrayAtt((0 until k).map(_ => str(sz)))
      case (VlenStrType, Nil) => StrAtt(vlenStr())
      case (VlenStrType, Seq(k)) => StrArrayAtt((0 until k).map(_ => vlenStr()))
      case other => throw new IllegalArgumentException(s"unsupported attribute shape $other")
    }
  }

  /** Defined fill value bytes from a fill message, if any: message type
    * 0x0005 version 1/2 (or the old 0x0004 form handled by the caller).
    */
  private def parseFillV5(b: ByteBuffer): Option[Array[Byte]] = {
    val ver = b.get() & 0xFF
    ver match {
      case 1 =>
        b.get(); b.get() // space alloc, write time
        val size = b.getInt
        if (size > 0) { val out = new Array[Byte](size); b.get(out); Some(out) }
        else None
      case 2 =>
        b.get(); b.get() // space alloc, write time
        val defined = b.get() & 0xFF
        if (defined == 1) {
          val size = b.getInt
          if (size > 0) { val out = new Array[Byte](size); b.get(out); Some(out) }
          else None
        } else None
      case 3 =>
        val flags = b.get() & 0xFF
        if ((flags & 0x20) != 0) { // fill value defined
          val size = b.getInt
          if (size > 0) { val out = new Array[Byte](size); b.get(out); Some(out) }
          else None
        } else None
      case v => throw new IllegalArgumentException(s"fill message version $v")
    }
  }

  /** Parse one dataset object header into a [[Dataset]]. */
  private def parseDataset(
      bytes: Array[Byte], name: String, msgs: Seq[(Int, ByteBuffer)]): Dataset = {
    val dims = parseDataspace(msgs.find(_._1 == 0x0001).getOrElse(
      throw new IllegalArgumentException(s"$name: no dataspace"))._2)
    val ptype = parseDatatype(msgs.find(_._1 == 0x0003).getOrElse(
      throw new IllegalArgumentException(s"$name: no datatype"))._2)
    val (dtype, elemSize) = ptype match {
      case NumType(t) => (t, t.size)
      case F32Type(_) => (H5Float64, 4) // widened on read
      case other => throw new IllegalArgumentException(
        s"$name: unsupported dataset datatype $other")
    }
    val lb = msgs.find(_._1 == 0x0008).getOrElse(
      throw new IllegalArgumentException(s"$name: no data layout"))._2
    require(lb.get() == 3 && lb.get() == 1, s"$name: only contiguous layout v3")
    val dataAddr = lb.getLong
    val dataSize = lb.getLong
    val nL = dims.map(_.toLong).product
    require(nL * elemSize <= Int.MaxValue, s"$name: dataset exceeds 2 GiB bound")
    val n = nL.toInt
    val fill: Option[Array[Byte]] =
      msgs.find(_._1 == 0x0005).flatMap(m => parseFillV5(m._2))
    val data: AnyRef =
      if (dataAddr == Undef) {
        // never-allocated contiguous data: every element is the fill
        // value (undefined fill -> all zero bytes), h5py semantics
        dtype match {
          case H5Int64 =>
            val v = fill.filter(_.length == 8)
              .map(f => ByteBuffer.wrap(f).order(ByteOrder.LITTLE_ENDIAN).getLong)
              .getOrElse(0L)
            Array.fill(n)(v)
          case H5Float64 =>
            val v = ptype match {
              case F32Type(_) => fill.filter(_.length == 4)
                .map(f => ByteBuffer.wrap(f).order(ByteOrder.LITTLE_ENDIAN).getFloat.toDouble)
                .getOrElse(0.0)
              case _ => fill.filter(_.length == 8)
                .map(f => ByteBuffer.wrap(f).order(ByteOrder.LITTLE_ENDIAN).getDouble)
                .getOrElse(0.0)
            }
            Array.fill(n)(v)
        }
      } else {
        require(dataSize == nL * elemSize, s"$name: layout size mismatch")
        val db = slice(bytes, dataAddr, n * elemSize)
        ptype match {
          case NumType(H5Int64) => Array.tabulate(n)(_ => db.getLong)
          case NumType(H5Float64) => Array.tabulate(n)(_ => db.getDouble)
          case F32Type(be) =>
            if (be) db.order(ByteOrder.BIG_ENDIAN)
            Array.tabulate(n)(_ => db.getFloat.toDouble)
          case other => throw new IllegalStateException(other.toString)
        }
      }
    val atts = msgs.filter(_._1 == 0x000C).flatMap { case (_, b) =>
      parseAttribute(bytes, b)
    }
    Dataset(name, dims, dtype, atts, data)
  }

  /** Attribute message (version 1); None if the value type is netCDF
    * bookkeeping (compound/reference/vlen-sequence).
    */
  private def parseAttribute(
      bytes: Array[Byte], b: ByteBuffer): Option[Att] = {
    val ver = b.get() & 0xFF
    require(ver == 1, s"only attribute message v1 supported, got $ver")
    b.get()
    val nameSize = b.getShort.toInt
    val dtSize = b.getShort.toInt
    val dsSize = b.getShort.toInt
    val start = b.position()
    val raw = new Array[Byte](nameSize); b.get(raw)
    val aname = new String(raw, 0, nameSize - 1, StandardCharsets.US_ASCII)
    b.position(start + pad8(nameSize))
    val t = parseDatatype(b)
    b.position(start + pad8(nameSize) + pad8(dtSize))
    val sdims = {
      val ver = b.get(); require(ver == 1 || ver == 2, "attr dataspace v1/v2 only")
      val rank = b.get().toInt
      if (ver == 1) { b.get(); b.position(b.position() + 5) }
      else { b.get(); b.get() }
      (0 until rank).map(_ => b.getLong.toInt)
    }
    b.position(start + pad8(nameSize) + pad8(dtSize) + pad8(dsSize))
    t match {
      case OpaqueType => None
      case _ => Some(Att(aname, parseAttValue(bytes, t, sdims.toList, b)))
    }
  }

  /** Parse the subset of HDF5 this object writes, plus the h5py/netCDF-4
    * structures the reference's committed golden artifacts use (see the
    * class scaladoc). Subgroup members get `group/name` path names.
    */
  def fromBytes(bytes: Array[Byte]): H5File = {
    require(bytes.length >= 96 && Signature.indices.forall(i => bytes(i) == Signature(i)),
      "not an HDF5 file")
    val sb = slice(bytes, 8, 88)
    require(sb.get() == 0, "only superblock version 0 supported")
    sb.position(sb.position() + 4)
    require(sb.get() == 8 && sb.get() == 8, "only 8-byte offsets/lengths supported")
    sb.get()
    sb.getShort; sb.getShort; sb.getInt // leaf K, internal K, flags
    val base = sb.getLong; require(base == 0L, "non-zero base address")
    sb.getLong // free space
    val eof = sb.getLong
    require(eof == bytes.length, s"EOF address $eof != file length ${bytes.length}")
    sb.getLong // driver info
    // root symbol-table entry
    sb.getLong // link name offset
    val rootOh = sb.getLong
    val cacheType = sb.getInt
    sb.getInt
    val rootCached: Option[(Long, Long)] =
      if (cacheType == 1) Some((sb.getLong, sb.getLong)) else None

    // entries of one group object header: old-style (symbol-table B-tree
    // + local heap) and new-style (compact link messages) both covered
    def groupEntries(msgs: Seq[(Int, ByteBuffer)]): Seq[(String, Long)] = {
      val viaSymtab = msgs.find(_._1 == 0x0011).toSeq.flatMap { case (_, b) =>
        val btreeAddr = b.getLong
        val heapAddr = b.getLong
        symtabEntries(bytes, btreeAddr, heapAddr)
      }
      val viaLinks = msgs.filter(_._1 == 0x0006).map { case (_, b) =>
        parseLink(b)
      }
      viaSymtab ++ viaLinks
    }

    def collect(prefix: String, name: String, ohAddr: Long): Seq[Dataset] = {
      val msgs = parseObjectHeader(bytes, ohAddr)
      val isDataset = msgs.exists(_._1 == 0x0001) && msgs.exists(_._1 == 0x0008)
      if (isDataset) Seq(parseDataset(bytes, prefix + name, msgs))
      else groupEntries(msgs).flatMap { case (child, addr) =>
        collect(prefix + name + "/", child, addr)
      }
    }

    val rootEntries: Seq[(String, Long)] = rootCached match {
      case Some((btreeAddr, heapAddr)) => symtabEntries(bytes, btreeAddr, heapAddr)
      case None => groupEntries(parseObjectHeader(bytes, rootOh))
    }
    H5File(rootEntries.flatMap { case (name, addr) => collect("", name, addr) })
  }

  /** Compact link message (type 0x0006), version 1: name + hard-link
    * target address. Soft/external links rejected.
    */
  private def parseLink(b: ByteBuffer): (String, Long) = {
    val ver = b.get() & 0xFF
    require(ver == 1, s"link message version $ver")
    val flags = b.get() & 0xFF
    if ((flags & 0x08) != 0) {
      val ltype = b.get() & 0xFF
      require(ltype == 0, s"only hard links supported, got type $ltype")
    }
    if ((flags & 0x04) != 0) b.getLong // creation order
    if ((flags & 0x10) != 0) b.get()   // charset
    val lenSize = 1 << (flags & 3)
    var nameLen = 0L
    (0 until lenSize).foreach(i => nameLen |= (b.get() & 0xFFL) << (8 * i))
    val raw = new Array[Byte](nameLen.toInt); b.get(raw)
    (new String(raw, StandardCharsets.UTF_8), b.getLong)
  }

  /** Old-style group: walk the v1 B-tree's SNOD leaves, resolving names
    * in the local heap.
    */
  private def symtabEntries(
      bytes: Array[Byte], btreeAddr: Long, heapAddr: Long): Seq[(String, Long)] = {
    val hh = slice(bytes, heapAddr, 32)
    val hsig = new Array[Byte](4); hh.get(hsig)
    require(new String(hsig, StandardCharsets.US_ASCII) == "HEAP", "bad heap signature")
    hh.get(); hh.position(hh.position() + 3)
    hh.getLong // data size
    hh.getLong // free list
    val heapData = hh.getLong

    def snodEntries(addr: Long): Seq[(String, Long)] = {
      val b = slice(bytes, addr, 8)
      val sig = new Array[Byte](4); b.get(sig)
      require(new String(sig, StandardCharsets.US_ASCII) == "SNOD", "bad SNOD signature")
      b.get(); b.get()
      val count = b.getShort.toInt
      val eb = slice(bytes, addr + 8, count * 40)
      (0 until count).map { _ =>
        val nameOff = eb.getLong
        val oh = eb.getLong
        eb.getInt; eb.getInt
        eb.position(eb.position() + 16)
        (heapString(bytes, heapData, nameOff), oh)
      }
    }
    def walk(addr: Long): Seq[(String, Long)] = {
      val b = slice(bytes, addr, 24)
      val sig = new Array[Byte](4); b.get(sig)
      require(new String(sig, StandardCharsets.US_ASCII) == "TREE", "bad TREE signature")
      require(b.get() == 0, "not a group B-tree")
      val level = b.get().toInt
      val used = b.getShort.toInt
      val kb = slice(bytes, addr + 24, used * 16 + 8)
      val children = (0 until used).map { _ => kb.getLong; kb.getLong }
      if (level == 0) children.flatMap(snodEntries)
      else children.flatMap(walk)
    }
    walk(btreeAddr)
  }

  /** (message type, body buffer) list of an object header — version 1
    * (with 0x0010 continuation blocks) or version 2 "OHDR" (with "OCHK"
    * continuation blocks). NIL messages are dropped.
    */
  private def parseObjectHeader(
      bytes: Array[Byte], addr: Long): Seq[(Int, ByteBuffer)] = {
    val msgs = scala.collection.mutable.ArrayBuffer.empty[(Int, ByteBuffer)]
    if (bytes(addr.toInt) == 'O' && bytes(addr.toInt + 1) == 'H' &&
        bytes(addr.toInt + 2) == 'D' && bytes(addr.toInt + 3) == 'R') {
      // ---- version 2
      val ver = bytes(addr.toInt + 4) & 0xFF
      require(ver == 2, s"OHDR version $ver")
      val flags = bytes(addr.toInt + 5) & 0xFF
      var p = addr + 6
      if ((flags & 0x20) != 0) p += 16 // access/mod/change/birth times
      if ((flags & 0x10) != 0) p += 4  // phase-change limits
      val szBytes = 1 << (flags & 3)
      var chunk0 = 0L
      (0 until szBytes).foreach(i => chunk0 |= (bytes((p + i).toInt) & 0xFFL) << (8 * i))
      p += szBytes
      val tracked = (flags & 0x04) != 0
      val hdrLen = if (tracked) 6 else 4
      // (start, size) message blocks; continuations append as found.
      // Chunk sizes delimit messages exactly (gap+checksum excluded in
      // chunk 0; OCHK blocks lose 4 sig + 4 checksum bytes).
      val blocks = scala.collection.mutable.ArrayBuffer[(Long, Long)]((p, chunk0))
      var bi = 0
      while (bi < blocks.length) {
        var (pos, size) = blocks(bi)
        val end = pos + size
        while (pos + hdrLen <= end) {
          val tpe = bytes(pos.toInt) & 0xFF
          val msize = ((bytes(pos.toInt + 1) & 0xFF) | ((bytes(pos.toInt + 2) & 0xFF) << 8))
          val body = pos + hdrLen
          if (tpe == 0x10) {
            val cb = slice(bytes, body, 16)
            val contAddr = cb.getLong
            val contLen = cb.getLong
            val csig = new String(bytes, contAddr.toInt, 4, StandardCharsets.US_ASCII)
            require(csig == "OCHK", s"bad OCHK signature at $contAddr")
            blocks += ((contAddr + 4, contLen - 8))
          } else if (tpe != 0x00) {
            msgs += ((tpe, ByteBuffer.wrap(bytes, body.toInt, msize)
              .order(ByteOrder.LITTLE_ENDIAN)))
          }
          pos = body + msize
        }
        bi += 1
      }
    } else {
      // ---- version 1
      val h = slice(bytes, addr, 12)
      require(h.get() == 1, "only object header v1/v2 supported")
      h.get()
      val nMsgs = h.getShort.toInt
      h.getInt // ref count
      val hdrSize = h.getInt
      // the v1 header-size field counts only chunk 0 in h5py files;
      // message COUNT is the reliable terminator, block extents bound
      // each chunk
      val blocks = scala.collection.mutable.ArrayBuffer[(Long, Long)](
        (addr + 16, hdrSize.toLong))
      var got = 0
      var bi = 0
      while (bi < blocks.length && got < nMsgs) {
        var (pos, size) = blocks(bi)
        val end = pos + size
        while (pos + 8 <= end && got < nMsgs) {
          val mb = slice(bytes, pos, 8)
          val tpe = mb.getShort.toInt
          val msize = mb.getShort.toInt
          val body = pos + 8
          if (tpe == 0x0010) {
            val cb = slice(bytes, body, 16)
            blocks += ((cb.getLong, cb.getLong))
          } else if (tpe != 0x0000) {
            msgs += ((tpe, ByteBuffer.wrap(bytes, body.toInt, msize)
              .order(ByteOrder.LITTLE_ENDIAN)))
          }
          pos = body + msize
          got += 1
        }
        bi += 1
      }
    }
    msgs.toSeq
  }

  def read(path: String): H5File =
    fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
}
