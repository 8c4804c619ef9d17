package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.agg.StatsPlan._
import graft.engine.GridAggregation
import graft.expr.GridExprs
import graft.model.JobConfig

/** L3 gridded sink (S4, reference `addGridEntry`
  * `aggregate_functions.py:413-453` + sink loop `:724-757`).
  *
  * Every sink takes the grid frame [[GridAggregation.aggregate]] builds —
  * `cell` (BIGINT) plus the columns of [[GridAggregation.layout]] for the
  * same job config, each of its stat's type: DOUBLE statistics and cloud
  * fractions, BIGINT counts, `ARRAY<BIGINT>` histograms and
  * `ARRAY<ARRAY<BIGINT>>` joint histograms. A grid whose columns differ
  * from that by name or type (nullability aside) is an
  * `IllegalArgumentException` naming the column and both types. Each
  * column's [[StatsPlan.Stat]], never its name, decides how its dataset is
  * packed, initialized, shaped and labelled.
  *
  * The reference's own container is the `.h5` ([[writeH5]]); [[writeNetcdf]]
  * writes the same grid as netCDF-3 classic and [[write]] as one Parquet
  * file of grid rows (`cell`, every layout column, then `lat_idx/lon_idx/
  * lat_center/lon_center`), its final aggregate still spread over the
  * shuffle partitions. The two binary sinks collect the driver-small grid
  * ONCE and share one densifier ([[densify]]); each keeps only its own
  * encoder. The collect moves column blocks ([[CellRows]]): packing runs
  * in the projection on the executors, each partition becomes one block of
  * primitive columns there, and the driver scatters the blocks into the
  * dense `Array[Long]`/`Array[Double]`s with no row decode and no boxing —
  * the same path [[GridPlot.displayOutput]] reads. A cell that appears in
  * two rows of the grid is an error.
  *
  * Reference packing/naming rules reproduced:
  *   - int-packing `round(value/scale + offset)` with NaN/Inf/NULL -> fill
  *     (`:428-435`);
  *   - counts and histograms stay integer (scale 1, `:424-427`);
  *   - cloud-fraction statistics are forced to scale 1e-4, offset 0,
  *     fill -9999 (`:741-744`); each sink's projection computes them once,
  *     in the one form its file holds: int-packed for `.nc` and Parquet,
  *     the reference's unrounded `value/scale + offset` float64 for `.h5`
  *     (`:438-444`);
  *   - `_1km` is stripped from output dataset names (`:745-748`);
  *   - an existing output path is a hard error ([[requireAbsent]], the
  *     reference's output-exists shell guard, S5, `:610-617`).
  */
object L3Writer {

  final case class Packing(scale: Double, offset: Double, fill: Long)

  val DefaultCloudFractionPacking: Packing = Packing(1e-4, 0.0, -9999L)

  /** Int-pack one statistic column: `round(v/scale + offset)`, non-finite
    * and NULL to `fill`.
    */
  def pack(v: Column, p: Packing): Column =
    when(nonFinite(v), lit(p.fill)).otherwise(round(v / p.scale + p.offset).cast("long"))

  private def nonFinite(v: Column): Column =
    v.isNull || isnan(v) || v === Double.PositiveInfinity || v === Double.NegativeInfinity

  /** Output name for a statistic column: strip `_1km`. */
  def outputName(col: String): String = col.replace("_1km", "")

  /** The output-exists guard (S5, `:610-617`) of every sink, and of
    * [[graft.GraftCli.run]] before it reads any input.
    */
  def requireAbsent(path: String): Unit =
    if (new java.io.File(path).exists())
      throw new IllegalStateException(
        s"output path $path already exists (reference output-exists guard)")

  /** The job's L3 layout, checked against the grid: `cell` as BIGINT and
    * every layout column as its stat's type, nullability aside, and no
    * other column.
    */
  private def layoutOf(grid: DataFrame, cfg: JobConfig): Seq[GridColumn] = {
    val layout = GridAggregation.layout(cfg)
    val want = (("cell" -> LongType) +: layout.map(c => c.name -> c.stat.dataType)).toMap
    val have = grid.schema.map(f => f.name -> f.dataType).toMap
    def show(t: Option[DataType]): String = t.fold("absent")(_.simpleString)
    for (c <- (("cell" +: layout.map(_.name)) ++ grid.columns).distinct)
      require(want.get(c).zip(have.get(c)).exists { case (w, h) =>
        DataType.equalsStructurally(w, h, ignoreNullability = true)
      }, s"L3 grid column $c: ${show(have.get(c))} in the grid, " +
        s"${show(want.get(c))} in the job config's L3 layout")
    layout
  }

  /** Statistics are packed when `packings` lists them (by grid column
    * name); cloud-fraction statistics always are, at the forced reference
    * packing unless listed; counts and histograms never.
    */
  private def packingOf(c: GridColumn, packings: Map[String, Packing]): Option[Packing] =
    c.stat match {
      case _: Packable => packings.get(c.name)
      case _: CloudFraction => Some(packings.getOrElse(c.name, DefaultCloudFractionPacking))
      case _ => None
    }

  private def packed(c: GridColumn, packings: Map[String, Packing]): Column =
    packingOf(c, packings).fold(col(c.name))(pack(col(c.name), _)).as(outputName(c.name))

  /** The `.h5` form of a cloud-fraction statistic (the reference's CF
    * branch, `:438-444`, assigns before its integer cast): `value/scale +
    * offset` unrounded, non-finite and NULL to `fill`. Every other column,
    * and every column of the other sinks, is [[packed]].
    */
  private def h5Form(c: GridColumn, packings: Map[String, Packing]): Column = c.stat match {
    case _: CloudFraction =>
      val p = packingOf(c, packings).get
      val v = col(c.name)
      when(nonFinite(v), lit(p.fill.toDouble)).otherwise(v / p.scale + p.offset)
        .as(outputName(c.name))
    case _ => packed(c, packings)
  }

  /** Write the L3 grid as one Parquet file of packed grid rows. */
  def write(
      grid: DataFrame,
      cfg: JobConfig,
      path: String,
      packings: Map[String, Packing] = Map.empty): Unit = {
    requireAbsent(path)
    val cell = col("cell")
    grid.select((cell +: layoutOf(grid, cfg).map(packed(_, packings))) ++
      GridExprs.gridIndexCols(cell, cfg.grid): _*)
      // single file: the grid is <= grid_lat*grid_lon rows (tiny by design);
      // a shuffle to one partition, not coalesce(1), which would pull the
      // final aggregate into one task
      .repartition(1)
      .write.parquet(path)
  }

  /** Axis vectors `lat_bnd`/`lon_bnd` (cell-center coordinates, reference
    * `:532-536`, `:728-733`) — driver-side tiny frames.
    */
  def latBounds(cfg: JobConfig): Seq[Double] =
    (0 until cfg.grid.gridLat).map(i =>
      cfg.grid.region.latMin + cfg.grid.latGap / 2 + i * cfg.grid.latGap)
  def lonBounds(cfg: JobConfig): Seq[Double] =
    (0 until cfg.grid.gridLon).map(i =>
      cfg.grid.region.lonMin + cfg.grid.lonGap / 2 + i * cfg.grid.lonGap)

  /** The CF attributes of one L3 dataset: `units`, `long_name` (written
    * only when non-empty) and, on every dataset but `GRID_Counts`,
    * `_FillValue`, `scale_factor` and `add_offset`.
    */
  final case class CfAttrs(units: String, longName: String, scaling: Option[CfScaling])
  final case class CfScaling(fill: Double, scale: Double, offset: Double)

  /** The CF attributes of a layout column's dataset, by its stat, mirroring
    * the reference's HDF5 attrs (`addGridEntry`, `aggregate_functions.py:
    * 446-453`, and the GRID_Counts dataset `:736-741`):
    *
    *   - `GRID_Counts`: `units=none`, `long_name=grid_point_counts`;
    *   - counts/histograms: integer, `scale_factor=1, add_offset=0`
    *     (`:424-427`);
    *   - cloud-fraction statistics: forced `scale=1e-4, offset=0,
    *     fill=-9999` (`:438-444`);
    *   - other statistics: the packing's scale/offset/fill, else the
    *     variable's own;
    *   - units/long_name are those `varAttrs` holds for the column's
    *     variable.
    *
    * Every gridded dataset's dims are labelled lat_bnd/lon_bnd
    * (`:447-448`) by the encoders.
    */
  def cfAttrs(
      c: GridColumn,
      packings: Map[String, Packing],
      varAttrs: Map[String, PixelSource.VarAttrs]): CfAttrs = {
    val a = varAttrs.get(c.variable)
    def named(fill: Double, scale: Double, offset: Double) =
      CfAttrs(a.fold("none")(_.units), a.fold("")(_.longName),
        Some(CfScaling(fill, scale, offset)))
    c.stat match {
      case GranuleCounts => CfAttrs("none", "grid_point_counts", None)
      case _: Count | _: Histogram => named(a.fold(-9999.0)(_.fillValue), 1.0, 0.0)
      case _ =>
        val p = packingOf(c, packings)
        named(p.fold(a.fold(-9999.0)(_.fillValue))(_.fill.toDouble),
          p.fold(a.fold(1.0)(_.scaleFactor))(_.scale),
          p.fold(a.fold(0.0)(_.addOffset))(_.offset))
    }
  }

  /** One statistic of the collected grid as a dense row-major
    * `[lat, lon(, bins...)]` array with its CF attributes — what the `.h5`
    * and `.nc` encoders share.
    */
  private[io] sealed trait DenseVar { def name: String; def attrs: CfAttrs }
  /** Integers: packed statistics, counts, histograms (`bins` = their extra dims). */
  private[io] final case class DenseLongs(
      name: String, attrs: CfAttrs, bins: Seq[Int], data: Array[Long]) extends DenseVar
  /** Floating statistics: unpacked ones, and the `.h5`'s cloud fractions. */
  private[io] final case class DenseDoubles(name: String, attrs: CfAttrs, data: Array[Double])
      extends DenseVar

  private[io] final case class DenseL3(nLat: Int, nLon: Int, vars: Seq[DenseVar])

  /** How column `i` of a cell-keyed frame densifies into `out`, a dense
    * row-major `[lat, lon(, bins...)]` array of `width` values per cell,
    * NULL as the init. On the executors it puts each row's values into
    * one partition's buffer ([[Block]]), int64 and a float64 as its bits;
    * on the driver it scatters that buffer into `out`, which stays there.
    */
  private[io] sealed abstract class Dense(val i: Int, val width: Int) extends Serializable {
    /** Row `r`'s values into `buf` at row `n`. */
    def put(r: InternalRow, buf: Array[Long], n: Int): Unit
    /** A block's buffer into `out`, its row `k` at `cells(k)`. */
    def scatter(buf: Array[Long], cells: Array[Int]): Unit
  }

  /** A BIGINT column as int64, or (`bins` non-empty) a 1-D or 2-D
    * histogram of BIGINT counts as int64 `[bins...]` per cell, a joint
    * histogram being the row-major `[x][y]` nest; every row's shape must
    * equal `bins`.
    */
  private[io] final class LongDense(i: Int, init: Long, name: String, bins: Seq[Int], size: Int)
      extends Dense(i, bins.product) {
    @transient val out: Array[Long] = new Array[Long](size * width)
    if (init != 0L) java.util.Arrays.fill(out, init)
    private val ny = if (bins.size == 2) bins(1) else 0

    def put(r: InternalRow, buf: Array[Long], n: Int): Unit =
      if (r.isNullAt(i)) java.util.Arrays.fill(buf, n * width, (n + 1) * width, init)
      else if (bins.isEmpty) buf(n) = r.getLong(i)
      else {
        val h = r.getArray(i)
        def shape: String = (if (ny == 0) Seq(h.numElements()) else Seq(h.numElements(),
          if (h.numElements() == 0) 0 else h.getArray(0).numElements())).mkString(" x ")
        def want = bins.mkString(" x ")
        require(h.numElements() == bins.head, s"$name: histogram shape $shape != $want")
        if (ny == 0) copy(h, buf, n * width)
        else {
          var x = 0
          while (x < bins.head) {
            val hx = h.getArray(x)
            require(hx.numElements() == ny, s"$name: histogram shape $shape != $want")
            copy(hx, buf, n * width + x * ny)
            x += 1
          }
        }
      }

    private def copy(a: ArrayData, buf: Array[Long], at: Int): Unit = {
      var x = 0
      while (x < a.numElements()) { buf(at + x) = a.getLong(x); x += 1 }
    }

    def scatter(buf: Array[Long], cells: Array[Int]): Unit = {
      var k = 0
      if (width == 1) while (k < cells.length) { out(cells(k)) = buf(k); k += 1 }
      else while (k < cells.length) {
        System.arraycopy(buf, k * width, out, cells(k) * width, width)
        k += 1
      }
    }
  }

  /** A DOUBLE column as float64. */
  private[io] final class DoubleDense(i: Int, init: Double, size: Int) extends Dense(i, 1) {
    @transient val out: Array[Double] = new Array[Double](size)
    java.util.Arrays.fill(out, init)

    def put(r: InternalRow, buf: Array[Long], n: Int): Unit =
      buf(n) = java.lang.Double.doubleToRawLongBits(if (r.isNullAt(i)) init else r.getDouble(i))

    def scatter(buf: Array[Long], cells: Array[Int]): Unit = {
      var k = 0
      while (k < cells.length) { out(cells(k)) = java.lang.Double.longBitsToDouble(buf(k)); k += 1 }
    }
  }

  /** One partition of a cell-keyed frame, column by column: its cells and,
    * per [[Dense]] column, the buffer of its rows' values — or, instead,
    * the message of the first error the partition met.
    */
  private[io] final class Block(
      val cells: Array[Long], val values: Array[Array[Long]], val error: String)
      extends Serializable

  private[io] object Block {
    /** Read one partition's rows into a block, on its executor. */
    def of(rows: Iterator[InternalRow], cols: Array[Dense]): Block = try {
      var cap = 1024
      var n = 0
      var cells = new Array[Long](cap)
      val values = cols.map(c => new Array[Long](cap * c.width))
      while (rows.hasNext) {
        val r = rows.next()
        if (n == cap) {
          cap *= 2
          cells = java.util.Arrays.copyOf(cells, cap)
          for (j <- cols.indices) values(j) = java.util.Arrays.copyOf(values(j), cap * cols(j).width)
        }
        require(!r.isNullAt(0), "grid cell is NULL")
        cells(n) = r.getLong(0)
        var j = 0
        while (j < cols.length) { cols(j).put(r, values(j), n); j += 1 }
        n += 1
      }
      new Block(java.util.Arrays.copyOf(cells, n),
        cols.indices.map(j => java.util.Arrays.copyOf(values(j), n * cols(j).width)).toArray, null)
    } catch {
      case e: IllegalArgumentException => new Block(null, null, e.getMessage)
    }
  }

  /** A cell-keyed frame (column 0 = `cell`, BIGINT) densified: each
    * column asked for ([[longs]], [[doubles]], [[histogram]]) gets its
    * dense array, which [[fill]] fills from ONE collect. Each partition
    * becomes one [[Block]] on its executor, and the driver scatters the
    * blocks column by column: no row is decoded there and nothing is
    * boxed. Each row lands at its `cell` (= `lat_idx * gridLon +
    * lon_idx`, checked against the grid, and at most one row per cell);
    * cells absent from the (possibly sparse) frame keep the init.
    *
    * The frame is collected to the driver: at most gridLat x gridLon rows
    * (64,800 at 1 degree) — the same driver-small bound the reference's
    * `h5py` writes rely on.
    */
  private[io] final class CellRows(frame: DataFrame, nLat: Int, nLon: Int) {
    require(frame.schema(0).dataType == LongType,
      s"grid cell column has type ${frame.schema(0).dataType.simpleString}, not bigint")
    private val size = nLat * nLon
    private val cols = scala.collection.mutable.ArrayBuffer.empty[Dense]

    private def add[D <: Dense](d: D): D = { cols += d; d }

    def longs(i: Int, init: Long): Array[Long] =
      add(new LongDense(i, init, frame.columns(i), Nil, size)).out
    def doubles(i: Int, init: Double): Array[Double] = add(new DoubleDense(i, init, size)).out
    def histogram(c: String, i: Int, bins: Seq[Int]): Array[Long] =
      add(new LongDense(i, 0L, c, bins, size)).out

    /** Collect the frame and fill every array handed out so far. */
    def fill(): Unit = {
      val dense = cols.toArray
      val blocks = Bridge.collectPartitions(frame)(Block.of(_, dense))
      for (b <- blocks if b.error != null) throw new IllegalArgumentException(b.error)
      val seen = new java.util.BitSet(size)
      for (b <- blocks) {
        val cells = new Array[Int](b.cells.length)
        var k = 0
        while (k < cells.length) {
          val cell = b.cells(k)
          require(cell >= 0 && cell < size.toLong, s"grid cell $cell outside ${nLat}x$nLon")
          require(!seen.get(cell.toInt), s"grid cell $cell appears in more than one grid row")
          seen.set(cell.toInt)
          cells(k) = cell.toInt
          k += 1
        }
        var j = 0
        while (j < dense.length) { dense(j).scatter(b.values(j), cells); j += 1 }
      }
    }
  }

  /** Collect the grid ONCE and densify every layout column, in layout
    * order, under its output name. The projection holds `cell` and each
    * column in the one form the sink's file holds ([[packed]], or
    * [[h5Form]] when `h5`); it is collected as one block of primitive
    * columns per partition and scattered into one dense array per column
    * ([[CellRows]]).
    *
    * Each column's stat decides its dense form: cells absent from the
    * grid frame surface as `_FillValue` for statistics and 0 for
    * counts/histograms — the reference's init values (`+inf -> fill` /
    * zeros) after packing. Histograms take their bin counts from the
    * stat's edges, and every row's shape is checked against them. An
    * int-packed statistic is int64, any other float64.
    */
  private[io] def densify(
      grid: DataFrame,
      cfg: JobConfig,
      packings: Map[String, Packing],
      varAttrs: Map[String, PixelSource.VarAttrs],
      h5: Boolean): DenseL3 = {
    val layout = layoutOf(grid, cfg)
    val form: GridColumn => Column =
      if (h5) h5Form(_, packings) else packed(_, packings)
    val rows = new CellRows(grid.select(col("cell") +: layout.map(form): _*),
      cfg.grid.gridLat, cfg.grid.gridLon)

    // the dense arrays are allocated here and filled in place by `fill`
    val vars = layout.zipWithIndex.map { case (gc, k) =>
      val c = outputName(gc.name)
      val i = k + 1
      val attrs = cfAttrs(gc, packings, varAttrs)
      (gc.stat, packingOf(gc, packings)) match {
        case (h: Histogram, _) => DenseLongs(c, attrs, h.bins, rows.histogram(c, i, h.bins))
        case (_: Count, _) => DenseLongs(c, attrs, Nil, rows.longs(i, 0L))
        case (stat, Some(p)) if !(h5 && stat.isInstanceOf[CloudFraction]) =>
          DenseLongs(c, attrs, Nil, rows.longs(i, p.fill))
        case _ => DenseDoubles(c, attrs, rows.doubles(i, attrs.scaling.get.fill))
      }
    }
    rows.fill()
    DenseL3(cfg.grid.gridLat, cfg.grid.gridLon, vars)
  }

  /** Full L3 export as a REAL netCDF-3 classic file — the binary,
    * self-describing equivalent of the reference's HDF5 sink
    * (`aggregate_functions.py:724-757`), openable by any netCDF consumer.
    *
    * Layout mirrors the reference file exactly:
    *   - `lat_bnd`/`lon_bnd` axis variables (cell centers, `:727-733`),
    *     which are also the DIMENSION names of every gridded variable —
    *     netCDF's native form of the reference's `dims[i].label` calls;
    *   - one dense `[lat_bnd, lon_bnd]` variable per statistic, int-packed
    *     ([[pack]]) with `_1km` stripped (`:745-748`), cloud-fraction
    *     scaling forced (`:741-744`);
    *   - 1-D/2-D histograms as `[lat_bnd, lon_bnd, <name>_bin(_x/_y)]`
    *     variables (the reference's `reshape([lat, lon, bins...])`,
    *     `:704-717`), zero-filled where no pixels fell;
    *   - per-variable `units`, `long_name`, `_FillValue`, `scale_factor`,
    *     `add_offset` attributes ([[cfAttrs]] = reference `:446-453`).
    *
    * netCDF-3 classic has no 64-bit integer type, so packed/count values
    * must fit Int32 (checked; the reference's own packing guarantees it
    * for every canonical variable).
    */
  def writeNetcdf(
      grid: DataFrame,
      cfg: JobConfig,
      path: String,
      packings: Map[String, Packing] = Map.empty,
      varAttrs: Map[String, PixelSource.VarAttrs] = Map.empty): Unit = {
    import NetCDF3._
    requireAbsent(path)
    val l3 = densify(grid, cfg, packings, varAttrs, h5 = false)

    val dims = scala.collection.mutable.ArrayBuffer(
      Dim("lat_bnd", l3.nLat), Dim("lon_bnd", l3.nLon))
    def dimId(d: Dim): Int = {
      val i = dims.indexWhere(_.name == d.name)
      if (i >= 0) { require(dims(i).length == d.length,
        s"dim ${d.name} redefined with a different length"); i }
      else { dims += d; dims.length - 1 }
    }
    def ints(c: String, vs: Array[Long]): Array[Int] = vs.map { v =>
      require(v >= Int.MinValue && v <= Int.MaxValue,
        s"$c: packed value $v exceeds netCDF-3 classic Int32 range")
      v.toInt
    }
    def atts(a: CfAttrs, fillAsInt: Boolean): Seq[Att] =
      Seq(Att("units", CharAtt(a.units))) ++
        Some(a.longName).filter(_.nonEmpty).map(l => Att("long_name", CharAtt(l))) ++
        a.scaling.toSeq.flatMap(s => Seq(
          Att("_FillValue", if (fillAsInt) IntAtt(Seq(s.fill.toInt)) else DoubleAtt(Seq(s.fill))),
          Att("scale_factor", DoubleAtt(Seq(s.scale))),
          Att("add_offset", DoubleAtt(Seq(s.offset)))))

    val dataVars = l3.vars.map {
      case DenseLongs(c, a, bins, data) =>
        val binDims = bins match {
          case Seq(nb) => Seq(Dim(s"${c}_bin", nb))
          case Seq(nx, ny) => Seq(Dim(s"${c}_bin_x", nx), Dim(s"${c}_bin_y", ny))
          case _ => Nil
        }
        Var(c, Seq(0, 1) ++ binDims.map(dimId), NcInt, atts(a, fillAsInt = true), ints(c, data))
      case DenseDoubles(c, a, data) =>
        Var(c, Seq(0, 1), NcDouble, atts(a, fillAsInt = false), data)
    }

    val axisVars = Seq(
      Var("lat_bnd", Seq(0), NcDouble,
        Seq(Att("units", CharAtt("degrees")),
          Att("long_name", CharAtt("Latitude_boundaries"))),
        latBounds(cfg).toArray),
      Var("lon_bnd", Seq(1), NcDouble,
        Seq(Att("units", CharAtt("degrees")),
          Att("long_name", CharAtt("Longitude_boundaries"))),
        lonBounds(cfg).toArray))

    NetCDF3.write(NcFile(dims.toSeq, Seq.empty, axisVars ++ dataVars), path)
  }

  /** Full L3 export as a REAL `.h5` file — the reference's LITERAL output
    * container (`aggregate_functions.py:724` `h5py.File(output_dir+l3name,
    * 'w')`; per-dataset writes `addGridEntry` `:413-453`, sink loop
    * `:726-757`), produced by the pure-JVM [[HDF5]] codec.
    *
    * Dataset-for-dataset parity with the reference file:
    *   - `lat_bnd`/`lon_bnd`: float64 cell-center axes with
    *     `units=degrees`, `long_name=*_boundaries` (`:727-733`);
    *   - `GRID_Counts`: int64 `[lat, lon]` coverage counts (`:736`);
    *   - one dataset per statistic, `_1km` stripped (`:745-748`):
    *     counts/histograms int64 unscaled (`:424-427`); packed statistics
    *     int64 via [[pack]]; cloud-fraction statistics FLOAT64 at
    *     the forced 1e-4 scaling WITHOUT the integer cast — the reference's
    *     CF branch (`:438-444`) assigns `tmp_data` before `astype`, so the
    *     file genuinely holds unrounded `value/1e-4` doubles;
    *   - 1-D/2-D histograms as native `[lat, lon, bins(, bins)]` int64
    *     datasets (the reference's `reshape`, `:704-717`);
    *   - per-dataset `units`/`long_name`/`_FillValue`/`scale_factor`/
    *     `add_offset` attributes ([[cfAttrs]] = `:446-453`) plus a
    *     `DIMENSION_LABELS` fixed-string attribute labelling the first two
    *     dims `lat_bnd`/`lon_bnd` — the file-format footprint of the
    *     reference's `dims[i].label` calls (`:447-448`).
    *
    * One reference quirk NOT reproduced: the sink loop writes
    * `GRID_Counts`' `units`/`long_name` onto `PC` — at that point still
    * the `lon_bnd` dataset (`:736-741`) — so the genuine reference file
    * mislabels `lon_bnd` and leaves `GRID_Counts` attribute-less. This
    * export follows the evident intent (attrs on `GRID_Counts`), matching
    * [[writeNetcdf]].
    *
    * Unlike netCDF-3 classic, HDF5 carries int64 natively, so no Int32
    * range check applies.
    */
  def writeH5(
      grid: DataFrame,
      cfg: JobConfig,
      path: String,
      packings: Map[String, Packing] = Map.empty,
      varAttrs: Map[String, PixelSource.VarAttrs] = Map.empty): Unit = {
    import HDF5._
    requireAbsent(path)
    val l3 = densify(grid, cfg, packings, varAttrs, h5 = true)
    val latLon = Seq(l3.nLat, l3.nLon)

    def atts(a: CfAttrs, rank: Int, fillAsLong: Boolean): Seq[Att] =
      Seq(Att("DIMENSION_LABELS", StrArrayAtt(Seq("lat_bnd", "lon_bnd").padTo(rank, ""))),
        Att("units", StrAtt(a.units))) ++
        Some(a.longName).filter(_.nonEmpty).map(l => Att("long_name", StrAtt(l))) ++
        a.scaling.toSeq.flatMap(s => Seq(
          Att("_FillValue", if (fillAsLong) LongAtt(s.fill.toLong) else DoubleAtt(s.fill)),
          Att("scale_factor", DoubleAtt(s.scale)),
          Att("add_offset", DoubleAtt(s.offset))))

    val dataSets = l3.vars.map {
      case DenseLongs(c, a, bins, data) =>
        Dataset(c, latLon ++ bins, H5Int64, atts(a, 2 + bins.size, fillAsLong = true), data)
      case DenseDoubles(c, a, data) =>
        Dataset(c, latLon, H5Float64, atts(a, 2, fillAsLong = false), data)
    }

    val axes = Seq(
      Dataset("lat_bnd", Seq(l3.nLat), H5Float64,
        Seq(Att("units", StrAtt("degrees")),
          Att("long_name", StrAtt("Latitude_boundaries"))),
        latBounds(cfg).toArray),
      Dataset("lon_bnd", Seq(l3.nLon), H5Float64,
        Seq(Att("units", StrAtt("degrees")),
          Att("long_name", StrAtt("Longitude_boundaries"))),
        lonBounds(cfg).toArray))

    HDF5.write(H5File(axes ++ dataSets), path)
  }
}
