package graft.agg

import graft.model.{StatSwitches, VarSpec}

/** The L3 output columns of one variable, chosen by the stat switches
  * (reference `cal_stats`, `aggregate_functions.py:226-280`, driven by the
  * 7 CLI switches `:479-484`), each tagged with the [[Stat]] it holds.
  *
  * The engine's cell accumulator (`graft.engine.CellState`) keeps the
  * monoid state behind every tag — min / max / sum / sum of squares /
  * count / histogram bins, exactly the buffers the reference merges across
  * workers (A10, Dask merge `MODIS_Aggregation_DASK.py:127-134`: fmin /
  * fmax / elementwise add) — and finalizes each column from its tag.
  *
  * Standard_Deviation is the POPULATION std in the reference's exact
  * algebraic form `sqrt(E[x^2] - E[x]^2)` (`aggregate_functions.py:711`),
  * derived from the sum of squares — NOT Spark's Welford-based
  * `stddev_pop`, whose rounding differs in the last ulps (SURVEY §7.4).
  */
object StatsPlan {

  /** Output columns for one variable, canonical reference names
    * (`aggregate_functions.py:479-484` + sink naming `:745-750`), each
    * with its kind and statistic; histogram bin counts come from the
    * variable's edges.
    */
  def finalizeCols(v: VarSpec, s: StatSwitches): Seq[GridColumn] = {
    def out(stat: String, kind: Kind, tag: Stat) =
      GridColumn(s"${v.name}_$stat", v.name, kind, tag)
    Seq(
      if (s.min) Some(out("Minimum", Statistic, Minimum)) else None,
      if (s.max) Some(out("Maximum", Statistic, Maximum)) else None,
      if (s.mean) Some(out("Mean", Statistic, Mean)) else None,
      if (s.count) Some(out("Pixel_Counts", PixelCount, PixelCounts)) else None,
      if (s.std) Some(out("Standard_Deviation", Statistic, StandardDeviation)) else None,
      if (s.hist && v.binEdges.nonEmpty)
        Some(out("Histogram_Counts", Histogram(Seq(v.binEdges.size - 1)), HistogramCounts))
      else None,
      v.joint.filter(_ => s.jhist).map(j =>
        out(s"Jhisto_vs_${j.jointVar}",
          Histogram(Seq(v.binEdges.size - 1, j.jointEdges.size - 1)), JointHistogram))
    ).flatten
  }

  /** What an L3 output column holds — the one fact every sink needs to
    * pack, initialize, shape and label its dataset.
    */
  sealed trait Kind
  /** Min/Max/Mean/Standard_Deviation: packed when a packing is listed. */
  case object Statistic extends Kind
  /** Per-cell count of non-null pixels: integer, 0 where absent. */
  case object PixelCount extends Kind
  /** Per-cell bin counts, `bins` = one size per axis (1-D or 2-D). */
  final case class Histogram(bins: Seq[Int]) extends Kind
  /** Cloud-fraction Min/Max/Mean: forced reference packing (`:741-744`). */
  case object CloudFraction extends Kind
  /** Granules per cell (A8): integer, 0 where absent. */
  case object GridCounts extends Kind

  /** Which statistic of its variable an L3 column holds — what the cell
    * accumulator finalizes it from. NULL cases: every floating statistic
    * of a cell with no non-null pixel (no determined pixel, for the cloud
    * fraction).
    */
  sealed trait Stat
  /** Least non-null value; NaN orders above every number (Spark's order). */
  case object Minimum extends Stat
  /** Greatest non-null value; NaN orders above every number. */
  case object Maximum extends Stat
  /** sum / count. */
  case object Mean extends Stat
  /** sqrt(sum of squares / count - mean^2). */
  case object StandardDeviation extends Stat
  /** Non-null pixels (NaN counts). */
  case object PixelCounts extends Stat
  /** `np.histogram` bin counts over the variable's edges. */
  case object HistogramCounts extends Stat
  /** Joint bin counts against the variable's joint partner, `[x][y]`. */
  case object JointHistogram extends Stat
  /** Least per-granule cloudy/determined fraction. */
  case object CloudFractionMinimum extends Stat
  /** Greatest per-granule cloudy/determined fraction. */
  case object CloudFractionMaximum extends Stat
  /** Pixel-weighted cloudy/determined fraction (not a mean of fractions). */
  case object CloudFractionMean extends Stat
  /** Determined pixels. */
  case object CloudFractionPixelCounts extends Stat
  /** Granules with at least one determined pixel (A8). */
  case object GranuleCounts extends Stat

  /** One output column of the L3 grid: its name, the configured variable
    * it summarizes, its [[Kind]] and the [[Stat]] it holds.
    */
  final case class GridColumn(name: String, variable: String, kind: Kind, stat: Stat)
}
