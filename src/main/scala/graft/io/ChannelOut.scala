package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.WritableByteChannel

/** The output channel of the `.h5` and `.nc` codecs: buffers as they are,
  * and primitive arrays through one reusable buffer in the file's byte
  * `order`, sized to the `largest` array's bytes but at most
  * [[ChannelOut.ChunkBytes]] — no copy of a whole array or file is built.
  */
private[io] final class ChannelOut(out: WritableByteChannel, order: ByteOrder, largest: Long) {
  private val chunk = ByteBuffer.allocate(
    math.min(ChannelOut.ChunkBytes.toLong, math.max(8L, largest)).toInt).order(order)

  def write(b: ByteBuffer): Unit = while (b.hasRemaining) out.write(b)

  /** Every element of `data`, an array of Byte/Short/Int/Long/Float/Double;
    * bulk copies go through views of the chunk, which share its order.
    */
  def write(data: AnyRef): Unit = {
    val (n, size) = data match {
      case a: Array[Byte] => (a.length, 1)
      case a: Array[Short] => (a.length, 2)
      case a: Array[Int] => (a.length, 4)
      case a: Array[Float] => (a.length, 4)
      case a: Array[Long] => (a.length, 8)
      case a: Array[Double] => (a.length, 8)
    }
    var from = 0
    while (from < n) {
      val k = math.min(chunk.capacity / size, n - from)
      chunk.clear()
      data match {
        case a: Array[Byte] => chunk.put(a, from, k)
        case a: Array[Short] => chunk.asShortBuffer().put(a, from, k)
        case a: Array[Int] => chunk.asIntBuffer().put(a, from, k)
        case a: Array[Float] => chunk.asFloatBuffer().put(a, from, k)
        case a: Array[Long] => chunk.asLongBuffer().put(a, from, k)
        case a: Array[Double] => chunk.asDoubleBuffer().put(a, from, k)
      }
      chunk.position(0)
      chunk.limit(k * size)
      write(chunk)
      from += k
    }
  }
}

private[io] object ChannelOut {
  /** Bytes of array data staged per channel write. */
  val ChunkBytes: Int = 1 << 20

  /** What `write` emits, in memory. */
  def bytes(write: WritableByteChannel => Unit): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    write(java.nio.channels.Channels.newChannel(out))
    out.toByteArray
  }

  /** What `write` emits, streamed to `path` (created or truncated). */
  def file(path: String)(write: WritableByteChannel => Unit): Unit = {
    import java.nio.file.StandardOpenOption._
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(path), CREATE, TRUNCATE_EXISTING, WRITE)
    try write(ch) finally ch.close()
  }
}
