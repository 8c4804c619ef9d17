package graft.io

import java.io.ByteArrayInputStream


import graft.SparkSpec
import graft.model.{GridSpec, JobConfig, Region}

/** [[GridPlot]] — the reference's `displayOutput` contourf-PNG sink,
  * JDK-only. Pins the jet palette endpoints, the contourf level
  * quantization (extend='both' clamps), raster orientation (south at
  * the bottom), byte determinism, the output-exists guard, and drives
  * the renderer over the committed golden netCDF CloudFraction grid.
  */
class GridPlotSpec extends SparkSpec {
  import spark.implicits._

  private def px(img: java.awt.image.BufferedImage, x: Int, y: Int): Int =
    img.getRGB(x, y) & 0xffffff

  test("jet palette endpoints and midpoint (classic formula)") {
    assert(GridPlot.jet(0.0) == 0x000080) // dark blue
    assert(GridPlot.jet(1.0) == 0x800000) // dark red
    assert(GridPlot.jet(0.5) == 0x80ff80) // center: light green
    assert(GridPlot.divergent(0.0) == 0x0000ff)
    assert(GridPlot.divergent(0.5) == 0xffffff)
    assert(GridPlot.divergent(1.0) == 0xff0000)
  }

  test("levelColor: contourf interval midpoints, extend clamps, NaN white") {
    val lc = (v: Double) => GridPlot.levelColor(v, 0.0, 1.0, 10, GridPlot.jet)
    assert(lc(0.05) == GridPlot.jet(0.05)) // interval 0 midpoint
    assert(lc(0.83) == GridPlot.jet(0.85)) // interval 8 midpoint
    assert(lc(-5.0) == GridPlot.jet(0.05)) // extend below
    assert(lc(9.0) == GridPlot.jet(0.95)) // extend above
    assert(lc(Double.NaN) == GridPlot.FillRgb)
  }

  test("renderGrid: orientation, scaling, NaN, colorbar geometry") {
    // 2 lat bands x 3 lon cells; row 0 = SOUTH band
    val cells = Array(
      Array(0.05, 0.95, Double.NaN), // south
      Array(0.55, 0.05, 0.95)) // north
    val img = GridPlot.renderGrid(cells, 0.0, 1.0, levels = 10, cellPx = 2,
      colorbar = false)
    assert(img.getWidth == 6 && img.getHeight == 4)
    // south row renders at the BOTTOM (y = 2..3)
    assert(px(img, 0, 3) == GridPlot.jet(0.05))
    assert(px(img, 2, 3) == GridPlot.jet(0.95))
    assert(px(img, 4, 3) == GridPlot.FillRgb) // NaN cell
    // north row at the top, whole 2x2 block uniform
    assert(px(img, 0, 0) == GridPlot.jet(0.55))
    assert(px(img, 1, 1) == GridPlot.jet(0.55))
    assert(px(img, 4, 0) == GridPlot.jet(0.95))

    // colorbar: bottom=vmin level, top=vmax level (bar height >= levels)
    val withBar = GridPlot.renderGrid(cells, 0.0, 1.0, levels = 10, cellPx = 5,
      colorbar = true)
    assert(withBar.getWidth == 15 + 4 + 10 && withBar.getHeight == 10)
    assert(px(withBar, 17, 0) == GridPlot.FillRgb) // gap strip
    assert(px(withBar, 24, withBar.getHeight - 1) == GridPlot.jet(0.05))
    assert(px(withBar, 24, 0) == GridPlot.jet(0.95))
    // every level appears exactly once down the bar
    val barColors = (0 until 10).map(y => px(withBar, 24, y))
    assert(barColors == (9 to 0 by -1).map(i => GridPlot.jet((i + 0.5) / 10)))
  }

  test("pngBytes is deterministic and decodes back to the same raster") {
    val cells = Array.tabulate(5, 7)((r, c) => (r * 7 + c) / 35.0)
    val a = GridPlot.pngBytes(GridPlot.renderGrid(cells, 0.0, 1.0))
    val b = GridPlot.pngBytes(GridPlot.renderGrid(cells, 0.0, 1.0))
    assert(java.util.Arrays.equals(a, b), "same grid must give same bytes")
    val back = javax.imageio.ImageIO.read(new ByteArrayInputStream(a))
    val orig = GridPlot.renderGrid(cells, 0.0, 1.0)
    assert(back.getWidth == orig.getWidth && back.getHeight == orig.getHeight)
    for (y <- 0 until back.getHeight; x <- 0 until back.getWidth)
      assert((back.getRGB(x, y) & 0xffffff) == (orig.getRGB(x, y) & 0xffffff))
  }

  test("displayOutput: cell frame -> PNG file, exists guard, sparse cells NaN") {
    val cfg = JobConfig(grid =
      GridSpec(Region(-2.0, 2.0, -3.0, 3.0), latGap = 1.0, lonGap = 1.0))
    // 4x6 grid; populate three cells, leave the rest absent
    val grid = Seq((0L, 0.1), (7L, 0.5), (23L, 0.9)).toDF("cell", "cf_Mean")
    val dir = java.nio.file.Files.createTempDirectory("gridplot")
    val path = dir.resolve(GridPlot.DefaultFileName).toString
    val cells = GridPlot.displayOutput(grid, cfg, "cf_Mean", path, cellPx = 1)
    assert(new java.io.File(path).exists())
    assert(cells.length == 4 && cells(0).length == 6)
    assert(cells(0)(0) == 0.1 && cells(1)(1) == 0.5 && cells(3)(5) == 0.9)
    assert(cells(2)(4).isNaN)
    val img = javax.imageio.ImageIO.read(new java.io.File(path))
    assert(img.getHeight == 4)
    // cell 0 (south-west) at bottom-left; cell 23 (north-east corner of map)
    assert(px(img, 0, 3) == GridPlot.jet(0.15))
    assert(px(img, 5, 0) == GridPlot.jet(0.95))
    // reference output-exists guard (S5)
    val e = intercept[IllegalStateException] {
      GridPlot.displayOutput(grid, cfg, "cf_Mean", path)
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("golden netCDF CloudFraction grid renders: full coverage, many levels") {
    val nc = "/root/reference/resources/data/sample_output_data/" +
      "MYD08_D3.A2008001CloudFraction.nc"
    val (nLat, nLon, a) = L3Compare.decodedGrid(nc, "__xarray_dataarray_variable__")
    val cells = Array.tabulate(nLat, nLon)((r, c) => a(r * nLon + c))
    val img = GridPlot.renderGrid(cells, 0.0, 1.0, levels = 10, cellPx = 1)
    assert(img.getHeight == 180 && img.getWidth == 360 + 14)
    // a real global cloud-fraction day exercises most of the palette
    val mapColors = (for (y <- 0 until 180; x <- 0 until 360)
      yield px(img, x, y)).toSet
    assert(mapColors.size >= 8, s"expected >=8 jet levels, got $mapColors")
    // the golden nc defines every cell (L3CompareSpec pins it), and jet
    // never yields pure white -> no fill color anywhere on the map
    assert(!mapColors.contains(GridPlot.FillRgb))
  }

  test("golden-vs-golden difference panel renders through the divergent palette") {
    val dir = "/root/reference/resources/data/sample_output_data"
    val d = L3Compare.diff(spark, s"$dir/output_final.hdf5", "CF",
      s"$dir/MYD08_D3.A2008001CloudFraction.nc", "__xarray_dataarray_variable__")
      .select("lat_idx", "lon_idx", "abs_diff").collect()
    val cells = Array.fill(180, 360)(Double.NaN)
    d.foreach { r =>
      if (!r.isNullAt(2)) cells(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
    }
    // the notebook's ticks3 range, 10 intervals, NegPos-style palette
    val img = GridPlot.renderGrid(cells, -0.2, 0.2, levels = 10, cellPx = 1,
      colorbar = false, palette = GridPlot.divergent)
    assert(img.getWidth == 360 && img.getHeight == 180)
    val colors = (for (y <- 0 until 180; x <- 0 until 360)
      yield img.getRGB(x, y) & 0xffffff).toSet
    // undefined cells (the .hdf5 covers only 1776) render white; the real
    // golden diff is one-sided (h5 CF >= nc CF everywhere, 0..1.0), so
    // only the warm half of the ramp appears — pinned as such
    assert(colors.contains(GridPlot.FillRgb))
    assert(colors.exists(c => (c >> 16) == 0xff && (c & 0xff) < 0xff), "warm side")
    assert(!colors.exists(c => (c & 0xff) == 0xff && (c >> 16) < 0xff),
      "no cool side on a non-negative diff map")
  }

  test("divergent palette hits both ramp halves on a signed grid") {
    val cells = Array.tabulate(4, 8)((_, x) => (x - 3.5) / 10.0) // -0.35..0.35
    val img = GridPlot.renderGrid(cells, -0.4, 0.4, levels = 10, cellPx = 1,
      colorbar = false, palette = GridPlot.divergent)
    val colors = (for (y <- 0 until 4; x <- 0 until 8)
      yield img.getRGB(x, y) & 0xffffff).toSet
    assert(colors.exists(c => (c >> 16) == 0xff && (c & 0xff) < 0xff), "warm side")
    assert(colors.exists(c => (c & 0xff) == 0xff && (c >> 16) < 0xff), "cool side")
  }
}
