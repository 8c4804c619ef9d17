package graft.model

/** Job configuration for the grid-aggregation engine.
  *
  * Models the reference's "query language": CLI args + whitespace CSVs
  * (reference `MODIS_Aggregation/aggregate_functions.py:455-667`
  * `read_user_inputs`). Region/grid/sampling/stat-switches/bin-specs become
  * typed case classes; the engine consumes only these, never raw argv.
  */

/** Bounding box, strict bounds on both axes (reference
  * `aggregate_functions.py:297-306`: `lat > lat0 & lat < lat1 & ...`).
  */
final case class Region(latMin: Double, latMax: Double, lonMin: Double, lonMax: Double) {
  require(latMax > latMin && lonMax > lonMin, s"empty region $this")
}

object Region {
  /** Canonical global 1x1-degree run (reference
    * `examples/local_execution/MODIS_Aggregation_Local_Commands.sh:21`). */
  val Global: Region = Region(-90, 90, -180, 180)
}

/** Regular lat/lon grid over a region.
  *
  * Cell id is `floor((lat-latMin)/latGap) * gridLon + floor((lon-lonMin)/lonGap)`
  * (reference `aggregate_functions.py:352-356`); ids outside
  * `[0, cells)` are dropped (`:363` range check).
  */
final case class GridSpec(region: Region, latGap: Double, lonGap: Double) {
  require(latGap > 0 && lonGap > 0, "grid gaps must be positive")
  val gridLat: Int = math.round((region.latMax - region.latMin) / latGap).toInt
  val gridLon: Int = math.round((region.lonMax - region.lonMin) / lonGap).toInt
  require(
    math.abs(gridLat * latGap - (region.latMax - region.latMin)) < 1e-9 &&
      math.abs(gridLon * lonGap - (region.lonMax - region.lonMin)) < 1e-9,
    // reference divisibility check `aggregate_functions.py:524-530`
    s"grid gaps must divide region extent: $this")
  def cells: Long = gridLat.toLong * gridLon
}

object GridSpec {
  val Global1Deg: GridSpec = GridSpec(Region.Global, 1.0, 1.0)
}

/** The 7 toggleable statistics (reference `aggregate_functions.py:479-484`):
  * `Minimum, Maximum, Mean, Pixel_Counts, Standard_Deviation,
  * Histogram_Counts, Jhisto_vs_<Y>`.
  */
final case class StatSwitches(
    min: Boolean = true,
    max: Boolean = true,
    mean: Boolean = true,
    count: Boolean = true,
    std: Boolean = true,
    hist: Boolean = false,
    jhist: Boolean = false)

object StatSwitches {
  val All: StatSwitches = StatSwitches(hist = true, jhist = true)
  /** Canonical stat display names (reference `aggregate_functions.py:479-484`). */
  val names: Seq[String] =
    Seq("Minimum", "Maximum", "Mean", "Pixel_Counts", "Standard_Deviation",
      "Histogram_Counts", "Jhisto_vs_")
}

/** One aggregated variable: its 1-D histogram bin edges and optional joint
  * (2-D histogram) partner (reference variable CSV
  * `examples/input_file_5km.csv` + `examples/input_Jhist_5km.csv`).
  */
final case class VarSpec(
    name: String,
    binEdges: Seq[Double] = Nil,
    joint: Option[JointSpec] = None)

/** 2-D histogram partner: joint variable name + its bin edges (reference
  * `aggregate_functions.py:496-502`, `examples/input_Jhist_5km.csv:1-6`).
  */
final case class JointSpec(jointVar: String, jointEdges: Seq[Double])

/** Complete grid-aggregation job: what the reference's 15-16 CLI args +
  * three CSVs describe (`aggregate_functions.py:459-515`).
  *
  * The "definition of day" grace hours are not part of it: the reference
  * fixes them at 3 (`:317-350`), and so does the engine
  * (`graft.expr.GridExprs.ShiftHour`).
  *
  * @param sampling systematic decimation factor n: keep `row % n == 2 &&
  *   col % n == 3` (reference `:120`); 1 = keep all.
  */
final case class JobConfig(
    grid: GridSpec = GridSpec.Global1Deg,
    stats: StatSwitches = StatSwitches(),
    vars: Seq[VarSpec] = Nil,
    sampling: Int = 1)
