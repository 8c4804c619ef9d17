package graft.agg

import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

import graft.model.{StatSwitches, VarSpec}

/** The L3 output columns of one variable, chosen by the stat switches
  * (reference `cal_stats`, `aggregate_functions.py:226-280`, driven by the
  * 7 CLI switches `:479-484`), each tagged with the [[Stat]] it holds —
  * the reference's one `"<var>_<Statistic>"` key per column (`:538-563`).
  *
  * The tag is the only decision about a column: the engine's cell
  * accumulator (`graft.engine.CellState`) builds its state from the tags
  * and finalizes each column from its tag, [[Stat.dataType]] is the
  * column's Spark type, and the sinks pack, initialize, shape and label
  * each dataset by the tag's group. The state is min / max / sum / sum of
  * squares / count / histogram bins, exactly the buffers the reference
  * merges across workers (A10, Dask merge `MODIS_Aggregation_DASK.py:
  * 127-134`: fmin / fmax / elementwise add).
  *
  * Standard_Deviation is the POPULATION std in the reference's exact
  * algebraic form `sqrt(E[x^2] - E[x]^2)` (`aggregate_functions.py:711`),
  * derived from the sum of squares — NOT Spark's Welford-based
  * `stddev_pop`, whose rounding differs in the last ulps (SURVEY §7.4).
  */
object StatsPlan {

  /** Output columns for one variable, canonical reference names
    * (`aggregate_functions.py:479-484` + sink naming `:745-750`), each
    * with its statistic; histograms carry the variable's edges and need
    * >= 2 of them per axis.
    */
  def finalizeCols(v: VarSpec, s: StatSwitches): Seq[GridColumn] = {
    def out(stat: String, tag: Stat) = GridColumn(s"${v.name}_$stat", v.name, tag)
    val cols = Seq(
      if (s.min) Some(out("Minimum", Minimum)) else None,
      if (s.max) Some(out("Maximum", Maximum)) else None,
      if (s.mean) Some(out("Mean", Mean)) else None,
      if (s.count) Some(out("Pixel_Counts", PixelCounts)) else None,
      if (s.std) Some(out("Standard_Deviation", StandardDeviation)) else None,
      if (s.hist && v.binEdges.nonEmpty)
        Some(out("Histogram_Counts", HistogramCounts(v.binEdges)))
      else None,
      v.joint.filter(_ => s.jhist).map(j => out(s"Jhisto_vs_${j.jointVar}",
        JointHistogram(j.jointVar, v.binEdges, j.jointEdges)))
    ).flatten
    for (GridColumn(_, _, h: Histogram) <- cols)
      require(h.axes.forall(_.length >= 2),
        s"${v.name}: a histogram needs >= 2 bin edges per axis, got ${h.axes.mkString(" / ")}")
    cols
  }

  /** Which statistic of its variable an L3 column holds — what the cell
    * accumulator finalizes it from and what its Spark type is. NULL
    * cases: every floating statistic of a cell with no non-null pixel (no
    * determined pixel, for the cloud fraction).
    */
  sealed trait Stat {
    /** The column's Spark type: DOUBLE unless the group says otherwise. */
    def dataType: DataType = DoubleType
  }
  /** Min/Max/Mean/Standard_Deviation: packed when a packing is listed. */
  sealed trait Packable extends Stat
  /** Cloud-fraction Min/Max/Mean: forced reference packing (`:741-744`). */
  sealed trait CloudFraction extends Stat
  /** Integer counts, 0 where a cell is absent. */
  sealed trait Count extends Stat {
    override def dataType: DataType = LongType
  }
  /** Per-cell bin counts over one edge list per axis (1-D or 2-D), one
    * BIGINT array level per axis.
    */
  sealed trait Histogram extends Stat {
    def axes: Seq[Seq[Double]]
    /** Bins per axis. */
    def bins: Seq[Int] = axes.map(_.size - 1)
    override def dataType: DataType =
      axes.foldLeft[DataType](LongType)((t, _) => ArrayType(t, containsNull = false))
  }

  /** Least non-null value; NaN orders above every number (Spark's order). */
  case object Minimum extends Packable
  /** Greatest non-null value; NaN orders above every number. */
  case object Maximum extends Packable
  /** sum / count. */
  case object Mean extends Packable
  /** sqrt(sum of squares / count - mean^2). */
  case object StandardDeviation extends Packable
  /** Non-null pixels (NaN counts). */
  case object PixelCounts extends Count
  /** `np.histogram` bin counts over the variable's `edges`. */
  final case class HistogramCounts(edges: Seq[Double]) extends Histogram {
    def axes: Seq[Seq[Double]] = Seq(edges)
  }
  /** Joint bin counts `[x][y]` of the variable over `xEdges` against its
    * joint `partner` over `yEdges`.
    */
  final case class JointHistogram(partner: String, xEdges: Seq[Double], yEdges: Seq[Double])
      extends Histogram {
    def axes: Seq[Seq[Double]] = Seq(xEdges, yEdges)
  }
  /** Least per-granule cloudy/determined fraction. */
  case object CloudFractionMinimum extends CloudFraction
  /** Greatest per-granule cloudy/determined fraction. */
  case object CloudFractionMaximum extends CloudFraction
  /** Pixel-weighted cloudy/determined fraction (not a mean of fractions). */
  case object CloudFractionMean extends CloudFraction
  /** Determined pixels. */
  case object CloudFractionPixelCounts extends Count
  /** Granules with at least one determined pixel (A8). */
  case object GranuleCounts extends Count

  /** One output column of the L3 grid: its name, the configured variable
    * it summarizes and the [[Stat]] it holds.
    */
  final case class GridColumn(name: String, variable: String, stat: Stat)
}
