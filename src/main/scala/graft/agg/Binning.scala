package graft.agg

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fixed-edge binning with exact `np.histogram` semantics (what the
  * reference's histogram statistics use, `aggregate_functions.py:262,276`):
  *
  *   - bin i covers `[e_i, e_{i+1})` (left-closed),
  *   - the LAST bin is closed on both sides: `[e_{n-1}, e_n]`,
  *   - values outside `[e_0, e_n]` (and NULL/NaN) map to no bin (NULL here;
  *     numpy silently drops them).
  *
  * Exposed two ways:
  *   - [[binIndex]]: a `when`-chain `Column` — stays inside whole-stage
  *     codegen, so `groupBy(cell, bin).count()` is the scalable histogram
  *     plan (map-side partial agg, one shuffle);
  *   - [[binIndexSql]]: the same logic as ANSI SQL `CASE`, used to generate
  *     the DuckDB oracle for the correctness gate.
  *
  * The array-valued per-group histogram (reference output shape) is
  * [[HistogramAgg]], built on the same edge semantics ([[binIndexScala]]).
  */
object Binning {

  /** Bin index of `v` for `edges` (ascending, length >= 2), NULL when out of
    * range. `when`-chain: fine for the reference's bin counts (<= ~30 edges);
    * a binary-search custom Expression would only pay off far beyond that.
    */
  def binIndex(v: Column, edges: Seq[Double]): Column = {
    require(edges.length >= 2, "need at least 2 bin edges")
    val n = edges.length - 1
    val first = when(v >= edges(n - 1) && v <= edges(n), lit(n - 1))
    val chained = (0 until n - 1).foldLeft(first) { (acc, i) =>
      acc.when(v >= edges(i) && v < edges(i + 1), lit(i))
    }
    // NaN never satisfies any comparison; NULL propagates. Both end as NULL.
    chained
  }

  /** ANSI SQL equivalent of [[binIndex]] (DuckDB-compatible). */
  def binIndexSql(col: String, edges: Seq[Double]): String = {
    require(edges.length >= 2, "need at least 2 bin edges")
    val n = edges.length - 1
    val mid = (0 until n - 1)
      .map(i => s"WHEN $col >= ${edges(i)} AND $col < ${edges(i + 1)} THEN $i")
    val last = s"WHEN $col >= ${edges(n - 1)} AND $col <= ${edges(n)} THEN ${n - 1}"
    (mid :+ last).mkString("CASE ", " ", " ELSE NULL END")
  }

  /** Pure-Scala reference implementation (for tests / driver-side use). */
  def binIndexScala(v: Double, edges: Array[Double]): Int = {
    if (v.isNaN) return -1
    val n = edges.length - 1
    if (v < edges(0) || v > edges(n)) return -1
    if (v >= edges(n - 1)) return n - 1 // covers closed last bin
    // binary search over left edges: greatest i with edges(i) <= v
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (edges(mid) <= v) lo = mid else hi = mid - 1
    }
    lo
  }
}
