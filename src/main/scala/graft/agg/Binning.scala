package graft.agg

/** Fixed-edge binning with exact `np.histogram` semantics (what the
  * reference's histogram statistics use, `aggregate_functions.py:262,276`):
  *
  *   - bin i covers `[e_i, e_{i+1})` (left-closed),
  *   - the LAST bin is closed on both sides: `[e_{n-1}, e_n]`,
  *   - values outside `[e_0, e_n]` (and NULL/NaN) map to no bin (NULL here;
  *     numpy silently drops them).
  *
  * One rule on the Spark side, [[binIndexScala]]: the L3 cell aggregate
  * (`graft.engine.CellState`, which the A6/A7 queries run through) and
  * [[HistogramAgg]] both bin with it. [[binIndexSql]] states the same
  * logic as ANSI SQL `CASE` for the DuckDB oracle of the correctness gate.
  */
object Binning {

  /** ANSI SQL equivalent of [[binIndexScala]] (DuckDB-compatible). */
  def binIndexSql(col: String, edges: Seq[Double]): String = {
    require(edges.length >= 2, "need at least 2 bin edges")
    val n = edges.length - 1
    val mid = (0 until n - 1)
      .map(i => s"WHEN $col >= ${edges(i)} AND $col < ${edges(i + 1)} THEN $i")
    val last = s"WHEN $col >= ${edges(n - 1)} AND $col <= ${edges(n)} THEN ${n - 1}"
    (mid :+ last).mkString("CASE ", " ", " ELSE NULL END")
  }

  /** Bin index of `v` for `edges` (ascending, length >= 2), -1 when out of
    * range or NaN.
    */
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
