package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.model.{GridSpec, Region}

/** Column-level derivations for the grid-aggregation pipeline: bitfield
  * decode, region filter, cell-id derivation, systematic sampling, and the
  * "definition of day" late/early-data correction. All are pure
  * `org.apache.spark.sql.functions` compositions — fully codegen'd, no UDFs.
  */
object GridExprs {

  /** Extract `count` bits starting at bit `start` (LSB=0):
    * `(v & (2^(start+count)-1)) >> start`.
    * Reference `aggregate_functions.py:51-53` `bits_stripping`.
    */
  def bitsStripping(start: Int, count: Int, v: Column): Column =
    shiftright(v.bitwiseAND(lit((1 << (start + count)) - 1)), start)

  /** MODIS cloud-mask flag from mask byte 0: bits [1,3) are the 4-level
    * cloudiness flag (0 cloudy .. 3 confident clear); bit 0 is the
    * determination status — status 0 means undetermined, mapped to flag -1.
    * Reference `aggregate_functions.py:156-158`.
    */
  def cloudMaskFlag(cmByte: Column): Column =
    when(bitsStripping(0, 1, cmByte) === 0, lit(-1))
      .otherwise(bitsStripping(1, 2, cmByte))

  /** Strict bounding-box predicate (reference `aggregate_functions.py:304`:
    * `(lat > lat0) & (lat < lat1) & (lon > lon0) & (lon < lon1)`).
    */
  def inRegion(lat: Column, lon: Column, r: Region): Column =
    lat > r.latMin && lat < r.latMax && lon > r.lonMin && lon < r.lonMax

  /** Grid-cell id `floor((lat-lat0)/gapY)*gridLon + floor((lon-lon0)/gapX)`
    * as LONG (reference `aggregate_functions.py:352-356`; the reference uses
    * an int cast = truncation, identical to floor for in-region — hence
    * non-negative — offsets). Out-of-range ids must be dropped with
    * [[cellInGrid]] (reference `:363`).
    */
  def cellId(lat: Column, lon: Column, g: GridSpec): Column =
    (floor((lat - g.region.latMin) / g.latGap).cast("long") * g.gridLon +
      floor((lon - g.region.lonMin) / g.lonGap).cast("long"))

  /** Range guard for cell ids (reference `aggregate_functions.py:363`). */
  def cellInGrid(cell: Column, g: GridSpec): Column =
    cell >= 0 && cell < g.cells

  /** Inverse of [[cellId]]: grid row/col indices from the flat cell id, for
    * the L3 sink pivot (reference reshape `aggregate_functions.py:701-716`).
    */
  def latIdx(cell: Column, g: GridSpec): Column = (cell / g.gridLon).cast("int")
  def lonIdx(cell: Column, g: GridSpec): Column = (cell % g.gridLon).cast("int")

  /** Cell-center coordinates, for `lat_bnd`/`lon_bnd` axis output
    * (reference `aggregate_functions.py:532-536` meshgrid).
    */
  def cellLat(cell: Column, g: GridSpec): Column =
    latIdx(cell, g) * g.latGap + lit(g.region.latMin + g.latGap / 2)
  def cellLon(cell: Column, g: GridSpec): Column =
    lonIdx(cell, g) * g.lonGap + lit(g.region.lonMin + g.lonGap / 2)

  /** `lat_idx`, `lon_idx`, `lat_center`, `lon_center` of a cell id: the
    * reference's reshape + meshgrid (`aggregate_functions.py:532-536`,
    * `:701-716`) as named columns.
    */
  def gridIndexCols(cell: Column, g: GridSpec): Seq[Column] = Seq(
    latIdx(cell, g).as("lat_idx"), lonIdx(cell, g).as("lon_idx"),
    cellLat(cell, g).as("lat_center"), cellLon(cell, g).as("lon_center"))

  /** Systematic (deterministic) decimation: keep every n-th pixel starting
    * at (rowOff, colOff). Defaults reproduce the reference's DATA sampling
    * `[2::n, 3::n]` (`aggregate_functions.py:120`); its GEOLOCATION arrays
    * sample `[2::n, 2::n]` (`:146,197-198` — a quirk worth knowing: data
    * and geo come from different pixel columns when n > 1), so a
    * geolocation-aligned scan passes `colOff = 2`. NOT random sampling —
    * `df.sample()` would not reproduce the reference.
    */
  def systematicSample(row: Column, col: Column, n: Int,
      rowOff: Int = 2, colOff: Int = 3): Column =
    if (n <= 1) lit(true) else row % n === rowOff && col % n === colOff

  /** The "definition of day" grace: a daily L3 aggregate for day D reads
    * the granules of D plus those of the first `ShiftHour` hours of day D+1
    * (reference `aggregate_functions.py:317-350` and `:573-606`, fixed at
    * 3 there).
    */
  final val ShiftHour = 3

  /** The longitudes that, in a granule of the first [[ShiftHour]] hours of
    * a day, belong to the day before: [-180,-90] and [0,90].
    */
  def previousDayBand(lon: Column): Column =
    (lon >= -180 && lon <= -90) || (lon >= 0 && lon <= 90)

  /** "Definition of day" correction (reference
    * `aggregate_functions.py:317-350`; rationale `examples/README.md:8`).
    *
    * A daily L3 aggregate for day D consumes granules of D plus the first
    * [[ShiftHour]] hours of day D+1. Within those early granules, only
    * specific longitude quadrants belong to each local day:
    *
    *   - granule of day D,   hour < shift: pixels with lon in [-180,-90] or
    *     [0,90] are nulled (they belong to D-1 / D+1);
    *   - granule of day D+1, hour < shift: pixels with lon in [90,180] or
    *     [-90,0] are nulled (only the rest belongs to D).
    *
    * Returns NULL (the engine's NaN analog) for excluded pixels, else
    * `value`. This is the batch form of a 1-day tumbling event-time window
    * with a 3h grace and longitude-dependent window assignment (SURVEY §2.7).
    *
    * @param dayOfYear granule acquisition day-of-year (from filename)
    * @param hour      granule acquisition hour (from filename)
    * @param d0        first day of the target window (day D)
    * @param d1        day after the window (day D+1, the +3h spill)
    */
  def dayDefinitionNullOut(
      value: Column,
      dayOfYear: Column,
      hour: Column,
      lon: Column,
      d0: Int,
      d1: Int): Column = {
    val early = hour < ShiftHour
    val cutD0 = previousDayBand(lon)
    val cutD1 = (lon >= 90 && lon <= 180) || (lon >= -90 && lon <= 0)
    when(early && ((dayOfYear === d0 && cutD0) || (dayOfYear === d1 && cutD1)),
      lit(null)).otherwise(value)
  }

  /** Granule filename metadata: day-of-year and hour from names like
    * `MYD06_L2.A2008001.0035.061....hdf` — split on '.' and slice fixed
    * positions, the reference's own mechanism
    * (`aggregate_functions.py:289-291`: `split('.')[1][5:]` and
    * `split('.')[2][:2]`; an earlier regexp formulation was both slower
    * per row and less faithful). `get` (0-based, NULL past the end)
    * keeps malformed names NULL-safe up to the cast, like Python slicing.
    */
  def granuleDayOfYear(name: Column): Column =
    substring(get(split(name, "\\."), lit(1)), 6, 3).cast("int")
  def granuleHour(name: Column): Column =
    substring(get(split(name, "\\."), lit(2)), 1, 2).cast("int")
}
