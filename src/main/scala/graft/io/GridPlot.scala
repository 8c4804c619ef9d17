package graft.io

import java.awt.image.BufferedImage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.JobConfig

/** PNG rendering of L3 grids — the plotting half of the reference's legacy
  * sink (`displayOutput`, recovered from `cfa.cpython-37.pyc`:
  * `plt.figure` → `plt.contourf(cf, cmap='jet')` → axis labels + title →
  * `plt.colorbar()` → `plt.savefig("monthlyCloudFraction-file-level-for-loop.png")`),
  * re-expressed JDK-only: `BufferedImage` + `javax.imageio` (the same
  * no-extra-deps stack `MultimodalOps` uses for decode), no matplotlib.
  *
  * Rendering contract (deterministic — same grid, same bytes):
  *   - contourf-style SEGMENTED colors: the [vmin, vmax] range is split
  *     into `levels` equal intervals; a cell's value maps to its
  *     interval's midpoint color, out-of-range clamps to the end
  *     intervals (matplotlib's `extend='both'`, the comparison
  *     notebooks' convention);
  *   - the classic piecewise-linear jet palette (public MATLAB/matplotlib
  *     formula) for value maps; a blue→white→red diverging palette for
  *     the notebooks' difference panels;
  *   - NaN / absent cells render white (matplotlib's default "bad"
  *     color on an untouched background);
  *   - row 0 of the grid (southernmost latitude band) is the BOTTOM
  *     pixel row, like `contourf`'s ascending y axis;
  *   - an optional vertical colorbar strip on the right, bottom = vmin.
  *
  * The grid is collected to the driver — at most gridLat × gridLon cells
  * (64 800 at 1°), the same driver-small bound every reference sink
  * relies on (`writeNetcdf` / `writeH5` document the identical collect).
  * Everything upstream (the aggregation that produced the grid) stays
  * distributed; a plot is a driver-sized artifact by definition.
  */
object GridPlot {

  /** Default output name — the reference's hard-coded savefig target. */
  val DefaultFileName = "monthlyCloudFraction-file-level-for-loop.png"

  /** Classic jet: piecewise-linear ramps blue→cyan→green→yellow→red
    * (r = 1.5−|4t−3|, g = 1.5−|4t−2|, b = 1.5−|4t−1|, clamped to [0,1]).
    */
  def jet(t: Double): Int = {
    val x = math.max(0.0, math.min(1.0, t))
    def ch(v: Double): Int =
      (math.max(0.0, math.min(1.0, v)) * 255.0 + 0.5).toInt
    rgb(ch(1.5 - math.abs(4.0 * x - 3.0)),
      ch(1.5 - math.abs(4.0 * x - 2.0)),
      ch(1.5 - math.abs(4.0 * x - 1.0)))
  }

  /** Diverging blue→white→red for difference maps (the comparison
    * notebooks' `NegPos` panels: negative blue, zero white, positive red).
    */
  def divergent(t: Double): Int = {
    val x = math.max(0.0, math.min(1.0, t))
    def ch(v: Double): Int = (v * 255.0 + 0.5).toInt
    if (x < 0.5) rgb(ch(2.0 * x), ch(2.0 * x), 255)
    else rgb(255, ch(2.0 - 2.0 * x), ch(2.0 - 2.0 * x))
  }

  /** White — NaN/absent cells and the strip between map and colorbar. */
  val FillRgb: Int = rgb(255, 255, 255)

  private def rgb(r: Int, g: Int, b: Int): Int = (r << 16) | (g << 8) | b

  /** Midpoint color of the contour interval `v` falls in. */
  def levelColor(
      v: Double, vmin: Double, vmax: Double, levels: Int,
      palette: Double => Int): Int = {
    require(levels > 0 && vmax > vmin, s"bad plot range [$vmin,$vmax]/$levels")
    if (v.isNaN) FillRgb
    else {
      val i0 = math.floor((v - vmin) / (vmax - vmin) * levels).toInt
      val i = math.max(0, math.min(levels - 1, i0)) // extend='both'
      palette((i + 0.5) / levels)
    }
  }

  /** Render a dense grid (row = latitude band ascending from south,
    * column = longitude ascending from -180) to an image. `cells(r)(c)`
    * NaN = no data. `cellPx` scales each grid cell to a cellPx×cellPx
    * pixel block.
    */
  def renderGrid(
      cells: Array[Array[Double]],
      vmin: Double,
      vmax: Double,
      levels: Int = 10,
      cellPx: Int = 2,
      colorbar: Boolean = true,
      palette: Double => Int = jet): BufferedImage = {
    val nLat = cells.length
    require(nLat > 0, "empty grid")
    val nLon = cells(0).length
    require(cells.forall(_.length == nLon), "ragged grid")
    require(cellPx > 0, "cellPx must be positive")
    val gapPx = if (colorbar) 4 else 0
    val barPx = if (colorbar) 10 else 0
    val w = nLon * cellPx + gapPx + barPx
    val h = nLat * cellPx
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var r = 0
    while (r < nLat) {
      val yBase = (nLat - 1 - r) * cellPx // south row at the bottom
      var c = 0
      while (c < nLon) {
        val color = levelColor(cells(r)(c), vmin, vmax, levels, palette)
        var dy = 0
        while (dy < cellPx) {
          var dx = 0
          while (dx < cellPx) {
            img.setRGB(c * cellPx + dx, yBase + dy, color)
            dx += 1
          }
          dy += 1
        }
        c += 1
      }
      r += 1
    }
    if (colorbar) {
      var y = 0
      while (y < h) {
        // bottom pixel row = vmin's interval, top = vmax's
        val i = math.min(levels - 1, ((h - 1 - y).toDouble / h * levels).toInt)
        val color = palette((i + 0.5) / levels)
        var x = nLon * cellPx
        while (x < nLon * cellPx + gapPx) { img.setRGB(x, y, FillRgb); x += 1 }
        while (x < w) { img.setRGB(x, y, color); x += 1 }
        y += 1
      }
    }
    img
  }

  /** PNG-encode an image (ImageIO's PNG writer is deterministic for a
    * given raster: zlib-compressed scanlines, no timestamps).
    */
  def pngBytes(img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer")
    bos.toByteArray
  }

  /** The reference's `displayOutput`: take an aggregated grid frame
    * (cell-keyed, like every sink input), pick one value column, and
    * write the contourf-style PNG. The frame is collected and densified
    * through the same column-block path as the `.h5`/`.nc` sinks
    * ([[L3Writer.CellRows]]): each row lands at its `cell`
    * (= `lat_idx * gridLon + lon_idx`, at most one row per cell), absent
    * cells and NULL values are NaN. An existing `path` is an error
    * ([[L3Writer.requireAbsent]], the guard the reference applies to all
    * its sinks, S5).
    *
    * Returns the dense grid actually rendered (for spec/inspection).
    */
  def displayOutput(
      grid: DataFrame,
      cfg: JobConfig,
      valueCol: String,
      path: String,
      vmin: Double = 0.0,
      vmax: Double = 1.0,
      levels: Int = 10,
      cellPx: Int = 2): Array[Array[Double]] = {
    L3Writer.requireAbsent(path)
    val nLat = cfg.grid.gridLat
    val nLon = cfg.grid.gridLon
    val rows = new L3Writer.CellRows(
      grid.select(col("cell").cast("long"), col(valueCol).cast("double")), nLat, nLon)
    val value = rows.doubles(1, Double.NaN)
    rows.fill()
    val cells = Array.tabulate(nLat)(i => value.slice(i * nLon, (i + 1) * nLon))
    val img = renderGrid(cells, vmin, vmax, levels, cellPx)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), pngBytes(img))
    cells
  }
}
