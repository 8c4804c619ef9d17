package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.GridAggregation
import graft.expr.GridExprs
import graft.model.JobConfig

/** Streaming formulation of the canonical grid aggregation (SURVEY §2.7):
  * the reference's "definition of day" ±3h rule IS a 1-day tumbling
  * event-time window with a 3-hour grace and longitude-dependent window
  * assignment. Here that becomes literal Structured Streaming:
  *
  *   - [[dayAssignedTs]] shifts a pixel's event time back one day when it
  *     arrives in the first [[GridExprs.ShiftHour]] hours AND lies in the
  *     longitude bands the reference reassigns
  *     ([[GridExprs.previousDayBand]], `aggregate_functions.py:317-350`) —
  *     window assignment replaces the batch null-out;
  *   - the watermark of [[GridExprs.ShiftHour]] hours finalizes each day's grid once
  *     the spill period has passed — the streaming twin of the reference
  *     needing "1 day + 3 h of granules" per daily product
  *     (`examples/README.md:8-10`).
  *
  * The same plan runs batch (identical results, watermark inert) or
  * streaming (`readStream` source, incremental state per (window, cell)).
  * State size is bounded by cells x open windows — at the canonical 1x1
  * grid, 64,800 rows per day in flight, regardless of input rate.
  */
object ModisStream {

  /** Event time adjusted by the day-definition rule. */
  def dayAssignedTs(ts: Column, lon: Column): Column =
    when(hour(ts) < GridExprs.ShiftHour && GridExprs.previousDayBand(lon),
      ts - expr("INTERVAL 1 DAY")).otherwise(ts)

  /** Per (day-window, cell) statistics of `varName`. Works on a streaming
    * or batch pixel frame with an event-time column `tsCol`.
    */
  def dailyGridStats(
      pixels: DataFrame,
      cfg: JobConfig,
      varName: String,
      tsCol: String = "ts",
      watermark: Option[String] = Some(s"${GridExprs.ShiftHour} hours")): DataFrame = {
    val assigned = pixels
      .withColumn("event_day_ts", dayAssignedTs(col(tsCol), col("lon")))
    val marked = watermark.fold(assigned)(w => assigned.withWatermark("event_day_ts", w))
    GridAggregation.withCell(marked, cfg)
      .groupBy(window(col("event_day_ts"), "1 day").as("win"), col("cell"))
      .agg(
        min(col(varName)).as(s"${varName}_Minimum"),
        max(col(varName)).as(s"${varName}_Maximum"),
        (sum(col(varName)) / count(col(varName))).as(s"${varName}_Mean"),
        count(col(varName)).as(s"${varName}_Pixel_Counts"))
      .select(
        date_format(col("win.start"), "yyyy-MM-dd").as("day"),
        col("cell"),
        col(s"${varName}_Minimum"), col(s"${varName}_Maximum"),
        col(s"${varName}_Mean"), col(s"${varName}_Pixel_Counts"))
  }
}
