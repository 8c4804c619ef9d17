package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.GridExprs
import graft.model._

/** Slice-0 test (SURVEY §7.2): hand-computed grids for the canonical
  * pipeline, the cloud-fraction two-level aggregation, and the
  * day-definition correction.
  */
class GridAggregationSpec extends SparkSpec {
  import spark.implicits._

  private val grid = GridSpec(Region(0, 10, 0, 10), 5.0, 5.0) // 2x2 cells

  test("flagship stats on a hand-computed grid") {
    // cell 0: lat,lon in (0,5); values 2, 4 -> min 2 max 4 mean 3
    //   std = sqrt((4+16)/2 - 9) = 1
    // cell 3: lat,lon in (5,10); single value 7 -> std 0
    val pixels = Seq(
      (1.0, 1.0, "g1", 2.0),
      (4.0, 4.9, "g1", 4.0),
      (6.0, 9.0, "g2", 7.0),
      (10.0, 1.0, "g2", 99.0), // lat == latMax -> excluded (strict)
      (-1.0, 1.0, "g2", 99.0) //  out of region
    ).toDF("lat", "lon", "granule_id", "v")
    val out = GridAggregation.aggregate(
      pixels,
      JobConfig(grid = grid, stats = StatSwitches(), vars = Seq(VarSpec("v"))))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L, 3L))
    val c0 = out(0L)
    assert(c0.getDouble(1) == 2.0 && c0.getDouble(2) == 4.0)
    assert(c0.getDouble(3) == 3.0 && c0.getLong(4) == 2L)
    assert(math.abs(c0.getDouble(5) - 1.0) < 1e-12)
    assert(out(3L).getDouble(5) == 0.0)
  }

  test("null values are excluded from stats but not from grouping") {
    val pixels = Seq[(Double, Double, String, java.lang.Double)](
      (1.0, 1.0, "g1", 5.0), (1.0, 1.0, "g1", null)
    ).toDF("lat", "lon", "granule_id", "v")
    val out = GridAggregation.aggregate(
      pixels,
      JobConfig(grid = grid, stats = StatSwitches(), vars = Seq(VarSpec("v"))))
      .collect()
    assert(out.length == 1)
    assert(out.head.getLong(4) == 1L) // Pixel_Counts skips the null
  }

  test("cloud fraction: pixel-weighted mean, per-granule min/max, GRID_Counts") {
    // cell 0, granule g1: flags 0,1,3 -> TOT 3, CLD 2, frac 2/3
    //         granule g2: flags 0,-1  -> TOT 1, CLD 1, frac 1 (-1 excluded)
    // mean = (2+1)/(3+1) = 0.75; min 2/3; max 1; GRID_Counts 2
    val pixels = Seq(
      (1.0, 1.0, "g1", 0), (1.0, 1.0, "g1", 1), (1.0, 1.0, "g1", 3),
      (1.0, 1.0, "g2", 0), (1.0, 1.0, "g2", -1)
    ).toDF("lat", "lon", "granule_id", "cm_flag")
    val out = GridAggregation.cloudFraction(
      pixels, JobConfig(grid = grid, stats = StatSwitches())).collect()
    assert(out.length == 1)
    val r = out.head
    assert(math.abs(r.getDouble(1) - 2.0 / 3) < 1e-15) // min
    assert(r.getDouble(2) == 1.0) //                       max
    assert(r.getDouble(3) == 0.75) //                      mean
    assert(r.getLong(4) == 4L) //                          pixel counts
    assert(r.getLong(5) == 2L) //                          grid counts
  }

  test("cloud fraction == the two-level groupBy for string, long and null ids, any partitioning") {
    val rnd = new scala.util.Random(11)
    val base = (1 to 3000).map { _ =>
      val g = rnd.nextInt(10)
      (rnd.nextDouble() * 12 - 1, rnd.nextDouble() * 12 - 1,
        if (g == 9) None else Some(g.toLong), rnd.nextInt(6) - 1)
    }.toDF("lat", "lon", "gid", "cm_flag")
    val cfg = JobConfig(grid = grid, stats = StatSwitches())
    // reference plan: per (cell, granule) counts, then a cell-keyed merge
    def twoLevel(px: org.apache.spark.sql.DataFrame) =
      GridAggregation.withCell(px, cfg).groupBy($"cell", $"granule_id")
        .agg(sum(when($"cm_flag".between(0, 3), 1L).otherwise(0L)).as("tot"),
          sum(when($"cm_flag".between(0, 1), 1L).otherwise(0L)).as("cld"))
        .groupBy($"cell")
        .agg(min($"cld" / nullif($"tot", lit(0L))), max($"cld" / nullif($"tot", lit(0L))),
          sum($"cld") / nullif(sum($"tot"), lit(0L)), sum($"tot"), count(when($"tot" > 0, 1)))
    for (id <- Seq($"gid", concat(lit("A2008001."), $"gid".cast("string"))); parts <- Seq(1, 8)) {
      val px = base.withColumn("granule_id", id).repartition(parts)
      assert(GridAggregation.cloudFraction(px, cfg).collect().toSet ==
        twoLevel(px).collect().toSet, s"$id at $parts partitions")
    }
  }

  test("gridCounts counts granules with >=1 non-null pixel") {
    val pixels = Seq[(Double, Double, String, java.lang.Double)](
      (1.0, 1.0, "g1", 5.0),
      (1.0, 1.0, "g2", null), // g2 contributes nothing
      (6.0, 6.0, "g3", 1.0)
    ).toDF("lat", "lon", "granule_id", "v")
    val out = GridAggregation.gridCounts(
      pixels, JobConfig(grid = grid, stats = StatSwitches()), "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1L, 3L -> 1L))
  }

  test("day-definition correction nulls the reference quadrants") {
    def corrected(doy: Int, hour: Int, lon: Double): Option[Double] = {
      val out = Seq((doy, hour, lon, 1.0)).toDF("doy", "hour", "lon", "v")
        .select(GridExprs.dayDefinitionNullOut(
          $"v", $"doy", $"hour", $"lon", d0 = 1, d1 = 2).as("c"))
        .collect().head
      if (out.isNullAt(0)) None else Some(out.getDouble(0))
    }
    assert(corrected(1, 0, -120.0).isEmpty) // day D, early, [-180,-90]
    assert(corrected(1, 0, 45.0).isEmpty) //   day D, early, [0,90]
    assert(corrected(1, 0, 120.0).contains(1.0)) // day D keeps [90,180]
    assert(corrected(1, 5, -120.0).contains(1.0)) // not early
    assert(corrected(2, 1, 120.0).isEmpty) //  day D+1, early, [90,180]
    assert(corrected(2, 1, -45.0).isEmpty) //  day D+1, early, [-90,0]
    assert(corrected(2, 1, -120.0).contains(1.0))
    assert(corrected(3, 0, -120.0).contains(1.0)) // other days untouched
  }

  test("cloud-mask flag decode (status bit + 2-bit flag)") {
    val out = (0 to 7).toDF("b")
      .select($"b", GridExprs.cloudMaskFlag($"b").as("f"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    // even bytes: status 0 -> undetermined (-1); odd: bits[1,3)
    assert(out(0) == -1 && out(2) == -1 && out(4) == -1 && out(6) == -1)
    assert(out(1) == 0 && out(3) == 1 && out(5) == 2 && out(7) == 3)
  }

  test("partition differential: full pipeline identical at 1 vs 8 partitions") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 4000).map { i =>
      (rnd.nextDouble() * 12 - 1, rnd.nextDouble() * 12 - 1,
        s"g${i % 7}", rnd.nextInt(50).toDouble) // integral values: exact sums
    }
    def run(parts: Int) = GridAggregation.aggregate(
      rows.toDF("lat", "lon", "granule_id", "v").repartition(parts),
      JobConfig(grid = grid, stats = StatSwitches(hist = true),
        vars = Seq(VarSpec("v", binEdges = Seq(0.0, 10.0, 25.0, 50.0)))))
      .collect().map(r => r.getLong(0) -> r.toSeq.toVector).toMap
    assert(run(1) == run(8))
  }
}
