package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.agg.StatsPlan
import graft.agg.StatsPlan._
import graft.expr.GridExprs
import graft.model.{JobConfig, VarSpec}

/** The engine's one canonical pipeline (reference query lifecycle, SURVEY §3):
  *
  *   pixels -> region filter -> cell-id derive -> per-task cell state ->
  *   cell-keyed merge -> finalize -> L3 grid frame
  *
  * Everything up to the cell aggregate is DataFrame API, so Catalyst
  * handles predicate pushdown and column pruning. The aggregate itself is
  * the reference's columnar accumulator (`grid_data`, A10) per task: a
  * custom [[CellAggregate]] node planned as a partial exec that folds each
  * task's pixels into primitive per-cell arrays ([[CellState]]), ONE
  * exchange keyed by cell, and a final exec that merges the states and
  * finalizes every [[layout]] column — the distributed merge the reference
  * hand-rolls in its MPI/Dask drivers.
  *
  * Scale notes (100 TB target): the single shuffle is keyed by `cell` —
  * at the canonical 1x1-degree global grid that is <= 64,800 groups x a few
  * hundred bytes of state per variable, so the shuffle after map-side
  * partial aggregation is tiny regardless of input volume (SURVEY §4). No
  * driver-side materialization happens here; only the final grid (<= 64,800
  * rows) is ever small enough to collect, and that is the sink's decision.
  */
object GridAggregation {

  /** Filter to region, derive the grid cell id, drop out-of-grid pixels
    * (reference P3 + P5, `aggregate_functions.py:297-363`). The pixel
    * frame's columns are named as in FIXTURES §1: `lat`, `lon`,
    * `granule_id` and `cm_flag`.
    */
  def withCell(pixels: DataFrame, cfg: JobConfig): DataFrame = {
    val lat = col("lat")
    val lon = col("lon")
    val g = cfg.grid
    pixels
      .filter(GridExprs.inRegion(lat, lon, g.region))
      .withColumn("cell", GridExprs.cellId(lat, lon, g))
      .filter(GridExprs.cellInGrid(col("cell"), g))
  }

  /** The reference's pseudo-variable that asks for the cloud fraction
    * (A8/A9) of the cloud mask rather than statistics of a data column.
    */
  val CloudFractionVar = "cloud_fraction_CM"

  /** The L3 grid in ONE cell aggregate ([[CellAggregate]]): the
    * statistics and histograms of every data variable (A1-A7) and, when
    * the config lists [[CloudFractionVar]], the cloud fraction beside them
    * (A8/A9). One scan, one shuffle keyed by cell; everything before it is
    * map-side. The result is `cell` (BIGINT) followed by the [[layout]]
    * columns, in order, each of its [[StatsPlan.Stat.dataType]]; the cell
    * state is built from the same layout.
    *
    * Every data variable and joint partner is read as DOUBLE (so
    * Minimum/Maximum of an integral or decimal variable are DOUBLE, as the
    * histograms always were), the cloud-mask flag as DOUBLE and the
    * granule id as a string: an integral id as its decimal digits, which
    * keeps id equality — all that the cloud fraction and `GRID_Counts`
    * read — and NULL as NULL. Any other granule id type is rejected.
    */
  def aggregate(pixels: DataFrame, cfg: JobConfig): DataFrame = {
    val columns = layout(cfg)
    require(columns.nonEmpty, "JobConfig.vars must list a variable with a statistic to compute")
    val partners = columns.collect { case GridColumn(_, _, JointHistogram(p, _, _)) => p }
    val values = (columns.map(_.variable).filterNot(_ == CloudFractionVar) ++ partners).distinct
    val withCf = wantsCloudFraction(cfg)
    val cells = withCell(pixels, cfg)
    def granule = cells.schema("granule_id").dataType match {
      case StringType => col("granule_id")
      case ByteType | ShortType | IntegerType | LongType => col("granule_id").cast(StringType)
      case t => throw new IllegalArgumentException(
        s"cloud_fraction needs a string or integral granule id, got ${t.simpleString}")
    }
    val input = cells.select(Seq(col("cell").cast(LongType).as("cell")) ++
      values.map(n => col(n).cast(DoubleType).as(n)) ++
      (if (withCf) Seq(col("cm_flag").cast(DoubleType).as("cm_flag"),
        granule.as("granule_id")) else Nil): _*)
    val spec = CellAggSpec(columns,
      cellInput = 0,
      varInputs = values.zipWithIndex.map { case (n, i) => n -> (1 + i) }.toMap,
      flagInput = if (withCf) 1 + values.size else -1,
      granuleInput = if (withCf) 2 + values.size else -1)
    val spark = pixels.sparkSession
    Bridge.injectStrategy(spark, CellAggregateStrategy)
    val child = Bridge.analyzed(input)
    // only the floating statistics can be NULL (no pixel to summarize)
    Bridge.ofRows(spark, CellAggregate(spec, child.output, columns.map { c =>
      AttributeReference(c.name, c.stat.dataType, nullable = c.stat.dataType == DoubleType)()
    }, child))
  }

  /** The L3 layout: every output column of [[aggregate]] after `cell`, in
    * order, with the variable it summarizes and the [[StatsPlan.Stat]] it
    * holds. This is the one place an L3 column is decided: the cell state
    * is built from it and the sinks read it instead of the names.
    * `cloud_fraction_{Minimum,Maximum,Mean,Pixel_Counts}` and
    * `GRID_Counts` close it when the config lists [[CloudFractionVar]].
    */
  def layout(cfg: JobConfig): Seq[GridColumn] = {
    val cf = if (!wantsCloudFraction(cfg)) Nil else Seq(
      "cloud_fraction_Minimum" -> CloudFractionMinimum,
      "cloud_fraction_Maximum" -> CloudFractionMaximum,
      "cloud_fraction_Mean" -> CloudFractionMean,
      "cloud_fraction_Pixel_Counts" -> CloudFractionPixelCounts,
      "GRID_Counts" -> GranuleCounts).map { case (name, stat) =>
      GridColumn(name, CloudFractionVar, stat)
    }
    dataVars(cfg).flatMap(v => StatsPlan.finalizeCols(v, cfg.stats)) ++ cf
  }

  private def wantsCloudFraction(cfg: JobConfig): Boolean =
    cfg.vars.exists(_.name == CloudFractionVar)

  /** The configured data variables. A joint-histogram partner must be a
    * real data column; the reference would KeyError on a jhist spec
    * pointing at the cloud_fraction_CM pseudo-variable (its `data` dict
    * never holds that key), so the engine rejects the same configs by
    * dropping the unusable joint spec.
    */
  private def dataVars(cfg: JobConfig): Seq[VarSpec] =
    cfg.vars.filterNot(_.name == CloudFractionVar).map { v =>
      if (v.joint.exists(_.jointVar == CloudFractionVar)) v.copy(joint = None) else v
    }

  /** Cloud fraction alone (reference A9, `aggregate_functions.py:365-380`):
    * [[aggregate]] with only [[CloudFractionVar]] configured — per cell the
    * pixel-weighted Mean = sum(CLD)/sum(TOT) (NOT a mean of fractions),
    * Min/Max over the per-granule fractions CLD/TOT, Pixel_Counts =
    * sum(TOT) and GRID_Counts = #granules with >= 1 determined pixel (A8),
    * where TOT = #(0 <= flag <= 3) and CLD = #(0 <= flag <= 1).
    */
  def cloudFraction(pixels: DataFrame, cfg: JobConfig): DataFrame =
    aggregate(pixels, cfg.copy(vars = Seq(VarSpec(CloudFractionVar))))

  /** Granule-coverage count per cell for one variable (reference A8,
    * `GRID_Counts`, `aggregate_functions.py:245-247`): the number of
    * granules that contributed at least one non-null pixel of `varName`.
    *
    * (Reference quirk: its single shared GRID_Counts buffer is incremented
    * once per VARIABLE per granule visit, so with k variables it holds k
    * times the coverage. The engine exposes the per-variable count — the
    * meaningful semantic; multiply by k for bit parity.)
    */
  def gridCounts(pixels: DataFrame, cfg: JobConfig, varName: String): DataFrame =
    withCell(pixels, cfg)
      .groupBy(col("cell"), col("granule_id"))
      .agg(count(col(varName)).as("n"))
      .filter(col("n") > 0)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("GRID_Counts"))

  /** 1-D histogram with REFERENCE QUIRK PARITY (`aggregate_functions.py:
    * 259-260`): the reference accumulates a granule's pixels into a cell's
    * histogram ONLY when that granule contributed MORE THAN ONE pixel
    * (`all_val.size == 1` falls into a branch that adds nothing — counting
    * NaN pixels in the size check). The engine's default histograms count
    * every pixel (the sane semantic, SURVEY §7.4); this variant reproduces
    * the quirk for golden-matching against reference output.
    *
    * Plan shape: two-level — per (cell, granule) bin counts + pixel count,
    * drop single-pixel granule-cells, merge per cell. Both aggregations are
    * partial/final hash aggregates; the second input is granule-level
    * partials (tiny).
    */
  def histogramQuirk(
      pixels: DataFrame,
      cfg: JobConfig,
      varName: String,
      edges: Seq[Double]): DataFrame = {
    // two-phase: per (cell, granule) the histogram buffer + the TOTAL pixel
    // count (including out-of-range and null — numpy's .size counts NaNs),
    // drop single-pixel granule-cells, explode bins, merge per cell.
    // Two hash-partition shuffles, no window sort; the second input is
    // granule-level partials (tiny).
    withCell(pixels, cfg)
      .groupBy(col("cell"), col("granule_id"))
      .agg(
        count(lit(1)).as("granule_pix"),
        graft.agg.HistogramFunctions.histogram1d(col(varName), edges).as("h"))
      .filter(col("granule_pix") > 1)
      .select(col("cell"), posexplode(col("h")).as(Seq("bin", "n")))
      .filter(col("n") > 0)
      .groupBy(col("cell"), col("bin"))
      .agg(sum(col("n")).as("bin_count"))
  }
}
