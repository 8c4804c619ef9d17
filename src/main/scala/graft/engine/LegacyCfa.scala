package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.GridExprs

/** Legacy fixed-grid cloud-fraction pipeline (P8 + A11) — exact semantics
  * of the reference's deleted `cfa.py` (recovered from bytecode, SURVEY
  * §2.2 P8 / §2.4 A11; `cfa.py:37-50` `aggregateOneFileData`, `:8-35`
  * `calculateCloudFraction`):
  *
  *   - fixed 180 x 360 1-degree grid; indexes `int(lat + 89.5)`,
  *     `int(lon + 179.5)` with NEGATIVE indexes clamped to 0 (the
  *     reference's `max(idx, 0)` — pixels south of -89.5 / west of -179.5
  *     pile into row/col 0; values beyond the top edge were unguarded and
  *     crashed the original — here they are dropped);
  *   - cloudy iff decoded 2-bit mask flag `(byte & 6) >> 1 == 0`;
  *   - `cf = cloud / total` with `total == 0 -> 1` guard, which matters
  *     exactly for the dense-grid cells no pixel touched (0/1 = 0).
  *
  * Output is the DENSE grid — one row per (lat_idx, lon_idx) of the full
  * 180 x 360, like the reference's preallocated arrays. The dense frame is
  * 64,800 rows (driver-small); the pixel aggregation stays distributed.
  */
object LegacyCfa {

  val GridLat = 180
  val GridLon = 360

  def aggregate(
      spark: SparkSession,
      pixels: DataFrame,
      latCol: String = "lat",
      lonCol: String = "lon",
      cmByteCol: String = "cm_byte"): DataFrame = {
    import spark.implicits._
    val agged = pixels
      // NULL/NaN coordinates (fill-decoded pixels) must not silently bin:
      // greatest() skips NULLs and cast(NaN as int) = 0, which would pile
      // bad pixels into cell (0,0); the reference would crash on them.
      .filter(col(latCol).isNotNull && !isnan(col(latCol)) &&
        col(lonCol).isNotNull && !isnan(col(lonCol)))
      .withColumn("lat_idx",
        greatest((col(latCol) + 89.5).cast("int"), lit(0)))
      .withColumn("lon_idx",
        greatest((col(lonCol) + 179.5).cast("int"), lit(0)))
      .filter(col("lat_idx") < GridLat && col("lon_idx") < GridLon)
      .groupBy(col("lat_idx"), col("lon_idx"))
      .agg(
        count(lit(1)).as("total_pix"),
        count(when(GridExprs.bitsStripping(1, 2, col(cmByteCol)) === 0, 1))
          .as("cloud_pix"))
    // dense grid: every cell exists; untouched cells get 0/1 = 0
    val dense = spark.range(GridLat.toLong * GridLon)
      .select(($"id" / GridLon).cast("int").as("lat_idx"),
        ($"id" % GridLon).cast("int").as("lon_idx"))
    dense.join(agged, Seq("lat_idx", "lon_idx"), "left")
      .select(
        col("lat_idx"), col("lon_idx"),
        coalesce(col("total_pix"), lit(0L)).as("total_pix"),
        coalesce(col("cloud_pix"), lit(0L)).as("cloud_pix"),
        (coalesce(col("cloud_pix"), lit(0L)).cast("double") /
          greatest(coalesce(col("total_pix"), lit(0L)), lit(1L)))
          .as("cloud_fraction"))
  }
}
