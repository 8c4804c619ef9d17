package graft.engine

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.GridExprs
import graft.model.JobConfig

/** Full reference-pipeline orchestration (SURVEY §3): one call from pixel
  * frame to the complete L3 grid frame —
  *
  *   - the day-definition correction (P4) on every measured variable and
  *     the cloud mask,
  *   - systematic sampling,
  *   - ONE cell-keyed aggregation ([[GridAggregation.aggregate]]) holding
  *     the per-variable statistics (A1-A7) and, when the config lists the
  *     reference's pseudo-variable `cloud_fraction_CM`, the cloud fraction
  *     (A8/A9) beside them: one scan, one shuffle, no join.
  */
object ModisEngine {

  val CloudFractionVar: String = GridAggregation.CloudFractionVar

  /** Apply the day-definition null-out to all measured variables and the
    * cloud-mask flag (reference applies it to every `data[key]` and CM,
    * `aggregate_functions.py:317-350`). Requires `day_of_year` and `hour`
    * columns (from the granule catalog / filename metadata).
    */
  def withDayDefinition(
      pixels: DataFrame,
      cfg: JobConfig,
      d0: Int,
      d1: Int): DataFrame = {
    // correct the cloud-mask flag only when present — a frame without it is
    // legal when no cloud-fraction statistic is configured
    val varNames = cfg.vars.map(_.name).filterNot(_ == CloudFractionVar) ++
      (if (pixels.columns.contains("cm_flag")) Seq("cm_flag") else Nil)
    // one withColumns, so the plan is analyzed once, not once per variable;
    // the ListMap keeps the column order of a fold of withColumn calls
    pixels.withColumns(ListMap(varNames.distinct.map { v =>
      v -> GridExprs.dayDefinitionNullOut(
        col(v), col("day_of_year"), col("hour"), col("lon"), d0, d1)
    }: _*))
  }

  /** Pixel frame -> complete L3 grid frame (cell + every configured
    * statistic). Pass `dayWindow = Some((d0, d1))` to apply the
    * day-definition correction first.
    */
  def dailyL3(
      pixels: DataFrame,
      cfg: JobConfig,
      dayWindow: Option[(Int, Int)] = None): DataFrame = {
    val corrected = dayWindow.fold(pixels) { case (d0, d1) =>
      withDayDefinition(pixels, cfg, d0, d1)
    }
    val sampled =
      if (cfg.sampling > 1)
        corrected.filter(GridExprs.systematicSample(col("row"), col("col"), cfg.sampling))
      else corrected

    GridAggregation.aggregate(sampled, cfg)
  }

  /** Multi-day (e.g. monthly) L3 aggregation in ONE distributed pass —
    * reference Example 2 (`examples/local_execution/
    * MODIS_Aggregation_Local_Commands.sh:31`). The reference's date loop
    * (`aggregate_functions.py:573-604`) expands every day of
    * `[dStart, dEnd]` at all 24 hours and, for the END day only, appends the
    * first [[GridExprs.ShiftHour]] hours of day `dEnd + 1` (the orbit-gap spill); the
    * day-definition null-out then runs with `day_in_year = [dEnd, dEnd+1]`
    * — the LAST loop iteration's pair is what reaches `run_modis_aggre`
    * (`:595`, `:682`), so interior days are never nulled.
    *
    * One `filter` + one aggregation over the whole range: no per-day
    * driver loop, no repeated scans — at 100 TB the month is a single
    * scan-bound job whose only shuffle is the cell-keyed merge.
    */
  def rangeL3(
      pixels: DataFrame,
      cfg: JobConfig,
      dStart: Int,
      dEnd: Int): DataFrame = {
    val doy = col("day_of_year")
    val inRange =
      (doy >= dStart && doy <= dEnd) ||
        (doy === dEnd + 1 && col("hour") < GridExprs.ShiftHour)
    dailyL3(pixels.filter(inRange), cfg, Some((dEnd, dEnd + 1)))
  }
}
