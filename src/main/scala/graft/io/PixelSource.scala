package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** Granule-scan decode helpers (S2/S3, reference `readEntry`
  * `aggregate_functions.py:99-122` and `read_MODIS` `:124-223`).
  *
  * Real HDF granules are absent from the reference repo
  * (`.MISSING_LARGE_BLOBS`); the deployment story is a one-time
  * HDF -> Parquet conversion (SURVEY §7.3), after which these helpers decode
  * packed values and carry the HDF attribute set as Spark column `Metadata`.
  */
object PixelSource {

  /** HDF-style variable attributes (reference captures
    * `units, scale_factor, add_offset, long_name, _FillValue` per variable,
    * `aggregate_functions.py:103-112`).
    */
  final case class VarAttrs(
      units: String = "none",
      longName: String = "",
      fillValue: Double = -9999.0,
      scaleFactor: Double = 1.0,
      addOffset: Double = 0.0)

  /** Decode a packed integer column to physical units, HDF4 convention:
    * fill -> NULL, then `(raw - add_offset) * scale_factor`
    * (reference `:113-114` fill->NaN; `:137-138` packing inversion —
    * the reference first UNDOES netCDF4's automatic `raw*scale+offset`
    * decode and then applies the HDF4 `(raw-offset)*scale` convention;
    * operating on raw values, only the HDF4 step remains).
    */
  def decodePacked(raw: Column, attrs: VarAttrs): Column =
    when(raw === attrs.fillValue, lit(null))
      .otherwise((raw - attrs.addOffset) * attrs.scaleFactor)

  /** Attach the attribute set as column Metadata (survives projections and
    * parquet round-trips; [[readAttrs]] reads it back). No sink reads column
    * metadata: the L3 sinks take attributes as a `varAttrs` argument.
    */
  def attrsMetadata(attrs: VarAttrs): Metadata =
    new MetadataBuilder()
      .putString("units", attrs.units)
      .putString("long_name", attrs.longName)
      .putDouble("_FillValue", attrs.fillValue)
      .putDouble("scale_factor", attrs.scaleFactor)
      .putDouble("add_offset", attrs.addOffset)
      .build()

  /** Decode + annotate one variable column in place. */
  def withDecodedVar(df: DataFrame, name: String, attrs: VarAttrs): DataFrame =
    df.withColumn(name, decodePacked(col(name), attrs).as(name, attrsMetadata(attrs)))

  /** Read attributes back from a column's Metadata. */
  def readAttrs(df: DataFrame, name: String): Option[VarAttrs] = {
    val m = df.schema(name).metadata
    if (m.contains("scale_factor"))
      Some(VarAttrs(
        units = if (m.contains("units")) m.getString("units") else "none",
        longName = if (m.contains("long_name")) m.getString("long_name") else "",
        fillValue = m.getDouble("_FillValue"),
        scaleFactor = m.getDouble("scale_factor"),
        addOffset = m.getDouble("add_offset")))
    else None
  }
}
