package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model._

/** End-to-end pipeline test on a synthetic granule fixture (FIXTURES §1
  * shape): day-definition correction + per-var stats + histogram + cloud
  * fraction, joined into one L3 frame.
  */
class ModisEngineSpec extends SparkSpec {
  import spark.implicits._

  private val grid = GridSpec(Region(-90, 90, -180, 180), 90.0, 90.0) // 2x4

  // (granule, doy, hour, row, col, lat, lon, cm_flag, ctp)
  private val pixels = Seq(
    ("A2008001.0005", 1, 0, 2, 3, 10.0, 45.0, 1, 800.0), // early d0, lon in [0,90] -> nulled
    ("A2008001.1200", 1, 12, 2, 3, 10.0, 45.0, 1, 850.0),
    ("A2008001.1200", 1, 12, 2, 3, 10.0, 46.0, 3, 750.0),
    ("A2008002.0100", 2, 1, 2, 3, 10.0, 120.0, 0, 900.0), // early d1, lon in [90,180] -> nulled
    ("A2008001.2300", 1, 23, 2, 3, -10.0, -120.0, 0, 600.0)
  ).toDF("granule_id", "day_of_year", "hour", "row", "col",
    "lat", "lon", "cm_flag", "Cloud_Top_Pressure")

  private val cfg = JobConfig(
    grid = grid,
    stats = StatSwitches(hist = true),
    vars = Seq(
      VarSpec("Cloud_Top_Pressure", binEdges = Seq(500.0, 700.0, 900.0, 1000.0)),
      VarSpec(ModisEngine.CloudFractionVar)))

  test("dailyL3 combines var stats and cloud fraction with day correction") {
    val l3 = ModisEngine.dailyL3(pixels, cfg, dayWindow = Some((1, 2)))
      .collect().map(r => r.getLong(r.fieldIndex("cell")) -> r).toMap

    // cell for (10, 45): lat_idx floor((10+90)/90)=1, lon_idx floor((45+180)/90)=2 -> 1*4+2=6
    val c6 = l3(6L)
    // day-corrected: granule 0005's 800.0 is nulled -> stats over {850, 750}
    assert(c6.getDouble(c6.fieldIndex("Cloud_Top_Pressure_Minimum")) == 750.0)
    assert(c6.getDouble(c6.fieldIndex("Cloud_Top_Pressure_Maximum")) == 850.0)
    assert(c6.getLong(c6.fieldIndex("Cloud_Top_Pressure_Pixel_Counts")) == 2L)
    assert(c6.getDouble(c6.fieldIndex("Cloud_Top_Pressure_Mean")) == 800.0)
    assert(c6.getSeq[Long](c6.fieldIndex("Cloud_Top_Pressure_Histogram_Counts"))
      == Seq(0L, 2L, 0L))
    // cloud fraction in cell 6: granule 0005 pixel cm nulled -> excluded;
    // granule 1200: flags {1, 3} -> TOT 2 CLD 1 frac 0.5
    assert(c6.getDouble(c6.fieldIndex("cloud_fraction_Mean")) == 0.5)
    assert(c6.getLong(c6.fieldIndex("GRID_Counts")) == 1L)

    // cell for (10, 120): value nulled (early d1) but CF TOT also nulled ->
    // cell exists via full_outer with null stats
    val c7 = l3(7L)
    assert(c7.isNullAt(c7.fieldIndex("Cloud_Top_Pressure_Minimum")))

    // cell for (-10, -120): untouched late-night granule of day 1
    val c0 = l3(0L)
    assert(c0.getDouble(c0.fieldIndex("Cloud_Top_Pressure_Minimum")) == 600.0)
    assert(c0.getDouble(c0.fieldIndex("cloud_fraction_Mean")) == 1.0)
  }

  test("rangeL3: all days in range + 3h spill of dEnd+1, null-out keyed to last day") {
    val vcfg = cfg.copy(vars = Seq(VarSpec("Cloud_Top_Pressure")))
    // all at (10, 45) -> cell 6; lon 45 is in the d0 cutoff quadrant [0,90]
    val px = Seq(
      ("A2008001.0100", 1, 1, 2, 3, 10.0, 45.0, 1, 100.0), // FIRST day hr<3: NOT nulled (d0 = last day, not first)
      ("A2008002.1200", 2, 12, 2, 3, 10.0, 45.0, 1, 200.0), // interior day: kept
      ("A2008003.0100", 3, 1, 2, 3, 10.0, 45.0, 1, 300.0), // dEnd hr<3, lon in [0,90]: nulled
      ("A2008003.2300", 3, 23, 2, 3, 10.0, 45.0, 1, 400.0), // dEnd late hour: kept
      ("A2008004.0100", 4, 1, 2, 3, 10.0, -120.0, 1, 500.0), // spill day hr<3, lon in [-90,0]? no, -120 not in cutD1 -> kept
      ("A2008004.0100", 4, 1, 2, 3, 10.0, -45.0, 1, 600.0), // spill day hr<3, lon in [-90,0]: nulled
      ("A2008004.1200", 4, 12, 2, 3, 10.0, 45.0, 1, 700.0), // spill day hour >= 3: OUT of range entirely
      ("A2008005.1200", 5, 12, 2, 3, 10.0, 45.0, 1, 800.0) //  beyond spill: out
    ).toDF("granule_id", "day_of_year", "hour", "row", "col",
      "lat", "lon", "cm_flag", "Cloud_Top_Pressure")
    val l3 = ModisEngine.rangeL3(px, vcfg, dStart = 1, dEnd = 3).collect()
    // cell 6 (lon 45) gets {100, 200, 400}; cell 5 (lon -120) gets {500};
    // cell for lon -45 exists but its value is nulled
    val byCell = l3.map(r => r.getLong(r.fieldIndex("cell")) -> r).toMap
    val c6 = byCell(6L)
    assert(c6.getLong(c6.fieldIndex("Cloud_Top_Pressure_Pixel_Counts")) == 3L)
    assert(c6.getDouble(c6.fieldIndex("Cloud_Top_Pressure_Minimum")) == 100.0)
    assert(c6.getDouble(c6.fieldIndex("Cloud_Top_Pressure_Maximum")) == 400.0)
    val c4 = byCell(4L) // floor((-120+180)/90) = 0 -> 1*4+0
    assert(c4.getDouble(c4.fieldIndex("Cloud_Top_Pressure_Minimum")) == 500.0)
    val c5 = byCell(5L) // lon -45 -> idx 1 -> cell 5: nulled value, zero count
    assert(c5.getLong(c5.fieldIndex("Cloud_Top_Pressure_Pixel_Counts")) == 0L)
  }

  test("sampling keeps only row%n==2 && col%n==3 pixels") {
    val df = Seq(
      ("g", 1, 12, 2, 3, 10.0, 45.0, 1, 100.0), // kept (2%4==2, 3%4==3)
      ("g", 1, 12, 3, 3, 10.0, 45.0, 1, 200.0), // dropped
      ("g", 1, 12, 6, 7, 10.0, 45.0, 1, 300.0) //  kept (6%4==2, 7%4==3)
    ).toDF("granule_id", "day_of_year", "hour", "row", "col",
      "lat", "lon", "cm_flag", "Cloud_Top_Pressure")
    val out = ModisEngine.dailyL3(df,
      cfg.copy(sampling = 4, vars = Seq(VarSpec("Cloud_Top_Pressure"))))
      .collect()
    assert(out.length == 1)
    assert(out.head.getLong(out.head.fieldIndex("Cloud_Top_Pressure_Pixel_Counts")) == 2L)
  }

  test("rangeL3 over GranuleSource: one scan, no join, one cell-keyed shuffle") {
    // statistics, histograms, a joint histogram and the cloud fraction all
    // ride ONE groupBy(cell): the granules are read once
    val jcfg = JobConfig(
      grid = GridSpec(Region(-90, 90, -180, 180), 30.0, 30.0),
      stats = StatSwitches.All,
      vars = Seq(
        VarSpec("Cloud_Top_Pressure", binEdges = Seq(0.0, 300.0, 700.0, 1100.0),
          joint = Some(JointSpec("Cloud_Top_Temperature", Seq(180.0, 240.0, 310.0)))),
        VarSpec("Cloud_Top_Temperature", binEdges = Seq(180.0, 240.0, 310.0)),
        VarSpec(ModisEngine.CloudFractionVar)))
    val granules = spark.read.format("graft.sources.GranuleSource")
      .option("granules", "A2008005.0005,A2008005.1205,A2008006.0105")
      .option("rows", "16").option("cols", "16")
      .load()
      .withColumn("cm_flag", graft.expr.GridExprs.cloudMaskFlag(col("cm_byte")))
    val l3 = ModisEngine.rangeL3(granules, jcfg, dStart = 5, dEnd = 5)
    l3.collect() // materialize so AQE settles on the final plan
    // final plan only, shuffle exchanges only (QueryPlanSpec.countOf)
    val plan = l3.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    def countOf(pattern: String): Int = pattern.r.findAllMatchIn(plan).size
    assert(countOf("BatchScan") == 1, s"one granule scan:\n$plan")
    assert(countOf("Join") == 0, s"no join:\n$plan")
    assert(countOf("(?<!Broadcast)(?<!Reused)Exchange") == 1, s"one shuffle:\n$plan")
    assert(countOf("Exchange hashpartitioning\\(cell#") == 1, s"keyed by cell:\n$plan")
  }
}
