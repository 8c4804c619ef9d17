package graft.agg

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.model.{StatSwitches, VarSpec}

/** Builds the aggregate list for one variable from the stat switches
  * (reference `cal_stats`, `aggregate_functions.py:226-280`, driven by the 7
  * CLI switches `:479-484`).
  *
  * Two-phase by construction: [[partialAggs]] emits only monoid aggregates
  * (min / max / sum / count / sum-of-squares / histogram buffers) — exactly
  * the buffers the reference merges across workers (A10, Dask merge
  * `MODIS_Aggregation_DASK.py:127-134`: fmin / fmax / elementwise add) and
  * exactly what Spark's partial+final `HashAggregateExec` shuffles.
  * [[finalizeCols]] derives Mean and Standard_Deviation afterwards.
  *
  * Standard_Deviation is the POPULATION std in the reference's exact
  * algebraic form `sqrt(E[x^2] - E[x]^2)` (`aggregate_functions.py:711`),
  * derived from the sum-of-squares buffer — NOT Spark's Welford-based
  * `stddev_pop`, whose rounding differs in the last ulps (SURVEY §7.4).
  */
object StatsPlan {

  /** Null-skipping monoid aggregates for one variable. Names are internal
    * (`<var>__min` etc.); [[finalizeCols]] maps them to the reference's
    * canonical `<var>_<Statistic>` names.
    */
  def partialAggs(v: VarSpec, s: StatSwitches): Seq[Column] = {
    val c = col(v.name)
    val needMean = s.mean || s.count || s.std
    Seq(
      if (s.min) Some(min(c).as(s"${v.name}__min")) else None,
      if (s.max) Some(max(c).as(s"${v.name}__max")) else None,
      if (needMean) Some(sum(c).as(s"${v.name}__sum")) else None,
      if (needMean) Some(count(c).as(s"${v.name}__cnt")) else None,
      if (s.std) Some(sum(c * c).as(s"${v.name}__sumsq")) else None,
      if (s.hist && v.binEdges.nonEmpty)
        Some(HistogramFunctions.histogram1d(c, v.binEdges).as(s"${v.name}__hist"))
      else None,
      v.joint.filter(_ => s.jhist).map { j =>
        HistogramFunctions
          .histogram2d(c, col(j.jointVar), v.binEdges, j.jointEdges)
          .as(s"${v.name}__jhist_${j.jointVar}")
      }
    ).flatten
  }

  /** Final output columns for one variable, canonical reference names
    * (`aggregate_functions.py:479-484` + sink naming `:745-750`), each
    * with its kind; histogram bin counts come from the variable's edges.
    */
  def finalizeCols(v: VarSpec, s: StatSwitches): Seq[GridColumn] = {
    val sum_ = col(s"${v.name}__sum")
    val cnt = col(s"${v.name}__cnt")
    val mean = sum_ / cnt
    def out(stat: String, kind: Kind, value: Column) =
      GridColumn(s"${v.name}_$stat", v.name, kind, value)
    Seq(
      if (s.min) Some(out("Minimum", Statistic, col(s"${v.name}__min"))) else None,
      if (s.max) Some(out("Maximum", Statistic, col(s"${v.name}__max"))) else None,
      if (s.mean) Some(out("Mean", Statistic, mean)) else None,
      if (s.count) Some(out("Pixel_Counts", PixelCount, cnt)) else None,
      if (s.std)
        // population std, algebraically identical to the reference finalize
        Some(out("Standard_Deviation", Statistic,
          sqrt(col(s"${v.name}__sumsq") / cnt - mean * mean)))
      else None,
      if (s.hist && v.binEdges.nonEmpty)
        Some(out("Histogram_Counts", Histogram(Seq(v.binEdges.size - 1)),
          col(s"${v.name}__hist")))
      else None,
      v.joint.filter(_ => s.jhist).map(j =>
        out(s"Jhisto_vs_${j.jointVar}",
          Histogram(Seq(v.binEdges.size - 1, j.jointEdges.size - 1)),
          col(s"${v.name}__jhist_${j.jointVar}")))
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

  /** One output column of the L3 grid: its name, the configured variable
    * it summarizes, its [[Kind]] and the expression over the aggregate
    * buffers that computes it.
    */
  final case class GridColumn(name: String, variable: String, kind: Kind, value: Column)
}
