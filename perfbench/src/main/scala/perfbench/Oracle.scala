package perfbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import graft.io.HDF5

/** Compares a written `.h5` with the expected datasets that `oracle.py`
  * computed from the raw pixels (one little-endian `<name>.i8` or
  * `<name>.f8` file per dataset).
  *
  *   - integer datasets (counts, `GRID_Counts`, histograms): exact;
  *   - float datasets: relative 1e-9, since sums run in another order;
  *   - `_Standard_Deviation`: 1e-3 + relative 1e-6, since
  *     `E[x^2] - E[x]^2` cancels; a NaN (the difference rounded below 0)
  *     is accepted where the expected value is within that tolerance of 0.
  */
object Oracle {

  val RelTol = 1e-9
  val StdAbsTol = 1e-3
  val StdRelTol = 1e-6

  def load(dir: File): Map[String, AnyRef] =
    dir.listFiles().toSeq.flatMap { f =>
      val n = f.getName
      val buf = ByteBuffer.wrap(Files.readAllBytes(f.toPath)).order(ByteOrder.LITTLE_ENDIAN)
      if (n.endsWith(".i8")) {
        val a = new Array[Long](buf.remaining() / 8)
        buf.asLongBuffer().get(a)
        Some(n.stripSuffix(".i8") -> a)
      } else if (n.endsWith(".f8")) {
        val a = new Array[Double](buf.remaining() / 8)
        buf.asDoubleBuffer().get(a)
        Some(n.stripSuffix(".f8") -> a)
      } else None
    }.toMap

  private def close(name: String, got: Double, want: Double): Boolean =
    if (name.endsWith("_Standard_Deviation"))
      (got.isNaN && want <= StdAbsTol) ||
        math.abs(got - want) <= StdAbsTol + StdRelTol * math.abs(want)
    else got == want || math.abs(got - want) <= RelTol * math.max(1.0, math.abs(want))

  /** Mismatches between a written `.h5` and the expectation (empty = correct). */
  def check(path: String, want: Map[String, AnyRef]): Seq[String] = {
    if (!new File(path).isFile) return Seq(s"missing output $path")
    val got = HDF5.read(path).datasets.map(d => d.name -> d.data).toMap
    (got.keySet ++ want.keySet).toSeq.sorted.flatMap { n =>
      (got.get(n), want.get(n)) match {
        case (None, _) => Some(s"$n: missing from the output")
        case (_, None) => Some(s"$n: not expected")
        case (Some(g: Array[Long]), Some(w: Array[Long])) =>
          if (g.length != w.length) Some(s"$n: ${g.length} values, expected ${w.length}")
          else g.indices.find(i => g(i) != w(i))
            .map(i => s"$n[$i] = ${g(i)}, expected ${w(i)}")
        case (Some(g: Array[Double]), Some(w: Array[Double])) =>
          if (g.length != w.length) Some(s"$n: ${g.length} values, expected ${w.length}")
          else g.indices.find(i => !close(n, g(i), w(i)))
            .map(i => s"$n[$i] = ${g(i)}, expected ${w(i)}")
        case (Some(g), Some(w)) =>
          Some(s"$n: type ${g.getClass.getSimpleName}, expected ${w.getClass.getSimpleName}")
      }
    }
  }
}
