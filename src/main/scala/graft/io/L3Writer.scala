package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.GridAggregation
import graft.model.JobConfig

/** L3 gridded sink (S4, reference `addGridEntry`
  * `aggregate_functions.py:413-453` + sink loop `:724-757`).
  *
  * The reference's own container is the `.h5` ([[writeH5]]); [[writeNetcdf]]
  * writes the same grid as netCDF-3 classic and [[write]] as one Parquet
  * file of grid rows (one row per cell with `lat_idx/lon_idx/lat_center/
  * lon_center` plus every statistic column). The two binary sinks collect
  * the driver-small grid ONCE and share one densifier ([[densify]]); each
  * keeps only its own encoder.
  *
  * Reference packing/naming rules reproduced:
  *   - int-packing `round(value/scale + offset)` with NaN/Inf/NULL -> fill
  *     (`:428-435`);
  *   - counts and histograms stay integer (scale 1, `:424-427`);
  *   - `Cloud_Fraction*` datasets are forced to scale 1e-4, offset 0,
  *     fill -9999 (`:741-744`);
  *   - `_1km` is stripped from output dataset names (`:745-748`);
  *   - an existing output path is a hard error — the reference's
  *     output-exists shell guard (S5, `:610-617`) becomes
  *     `SaveMode.ErrorIfExists`.
  */
object L3Writer {

  final case class Packing(scale: Double, offset: Double, fill: Long)

  val DefaultCloudFractionPacking: Packing = Packing(1e-4, 0.0, -9999L)

  /** Int-pack one statistic column: `round(v/scale + offset)`, non-finite
    * and NULL to `fill`.
    */
  def pack(v: Column, p: Packing): Column =
    when(v.isNull || isnan(v) || v === Double.PositiveInfinity ||
      v === Double.NegativeInfinity, lit(p.fill))
      .otherwise(round(v / p.scale + p.offset).cast("long"))

  /** Output name for a statistic column: strip `_1km`. */
  def outputName(col: String): String = col.replace("_1km", "")

  /** Apply packing + naming to a grid frame. `packings` maps statistic
    * column name -> packing; unlisted columns pass through unpacked
    * (counts, histograms, indexes). Cloud-fraction columns default to the
    * forced reference packing when not explicitly listed.
    */
  def packGrid(grid: DataFrame, packings: Map[String, Packing]): DataFrame =
    grid.select(packedCols(grid.columns.toSeq, packings): _*)

  private def packedCols(cols: Seq[String], packings: Map[String, Packing]): Seq[Column] =
    cols.map { c =>
      packingOf(c, packings).fold(col(c))(pk => pack(col(c), pk)).as(outputName(c))
    }

  /** A cloud-fraction statistic (not a count): forced packing (`:741-744`),
    * float64 in the `.h5` (`:438-444`).
    */
  private def isCloudFractionStat(c: String): Boolean =
    c.startsWith("cloud_fraction") && !c.endsWith("_Pixel_Counts")

  private def packingOf(c: String, packings: Map[String, Packing]): Option[Packing] =
    packings.get(c).orElse(
      if (isCloudFractionStat(c)) Some(DefaultCloudFractionPacking) else None)

  /** Write the L3 grid. Default mode reproduces the reference's
    * "output already exists" abort.
    */
  def write(
      grid: DataFrame,
      cfg: JobConfig,
      path: String,
      packings: Map[String, Packing] = Map.empty,
      mode: SaveMode = SaveMode.ErrorIfExists): Unit =
    packGrid(GridAggregation.withGridIndexes(grid, cfg), packings)
      // single file: the grid is <= grid_lat*grid_lon rows (tiny by design)
      .coalesce(1)
      .write.mode(mode).parquet(path)

  /** Axis vectors `lat_bnd`/`lon_bnd` (cell-center coordinates, reference
    * `:532-536`, `:728-733`) — driver-side tiny frames.
    */
  def latBounds(cfg: JobConfig): Seq[Double] =
    (0 until cfg.grid.gridLat).map(i =>
      cfg.grid.region.latMin + cfg.grid.latGap / 2 + i * cfg.grid.latGap)
  def lonBounds(cfg: JobConfig): Seq[Double] =
    (0 until cfg.grid.gridLon).map(i =>
      cfg.grid.region.lonMin + cfg.grid.lonGap / 2 + i * cfg.grid.lonGap)

  /** CF attribute set for every output dataset, mirroring the reference's
    * HDF5 attrs (`addGridEntry`, `aggregate_functions.py:446-453`, and the
    * axis/GRID_Counts datasets `:727-741`):
    *
    *   - axis datasets: `units=degrees`, `long_name=*_boundaries`;
    *   - `GRID_Counts`: `units=none`, `long_name=grid_point_counts`;
    *   - counts/histograms: integer, `scale_factor=1, add_offset=0`
    *     (`:424-427`);
    *   - `cloud_fraction*`: forced `scale=1e-4, offset=0, fill=-9999`
    *     (`:438-444`);
    *   - packed statistics: the packing's scale/offset/fill plus the
    *     variable's units/long_name from `varAttrs`;
    *   - every gridded dataset's dims are labelled lat_bnd/lon_bnd
    *     (`:447-448`).
    */
  def cfAttrs(
      outCols: Seq[String],
      packings: Map[String, Packing],
      varAttrs: Map[String, PixelSource.VarAttrs]): Map[String, Map[String, String]] = {
    val axis = Map(
      "lat_bnd" -> Map("units" -> "degrees", "long_name" -> "Latitude_boundaries"),
      "lon_bnd" -> Map("units" -> "degrees", "long_name" -> "Longitude_boundaries"))
    val data = outCols.filterNot(Set("cell", "lat_idx", "lon_idx", "lat_center", "lon_center"))
      .map { c =>
        val base = Map("dims" -> "lat_bnd,lon_bnd")
        val a = varAttrs.collectFirst { case (v, at) if c.startsWith(v) => at }
        val body =
          if (c == "GRID_Counts")
            Map("units" -> "none", "long_name" -> "grid_point_counts")
          else if (c.contains("Pixel_Counts") || c.contains("Histogram_Counts") ||
            c.contains("Jhisto_vs_"))
            Map("units" -> a.fold("none")(_.units), "long_name" -> a.fold("")(_.longName),
              "scale_factor" -> "1.0", "add_offset" -> "0.0",
              "_FillValue" -> a.fold("-9999.0")(_.fillValue.toString))
          else {
            val p = packingOf(c, packings)
            Map("units" -> a.fold("none")(_.units), "long_name" -> a.fold("")(_.longName),
              "scale_factor" -> p.fold(a.fold(1.0)(_.scaleFactor))(_.scale).toString,
              "add_offset" -> p.fold(a.fold(0.0)(_.addOffset))(_.offset).toString,
              "_FillValue" -> p.fold(a.fold(-9999.0)(_.fillValue))(_.fill.toDouble).toString)
          }
        outputName(c) -> (base ++ body)
      }.toMap
    axis ++ data
  }

  private val IndexCols = Set("cell", "lat_idx", "lon_idx", "lat_center", "lon_center")

  /** One statistic of the collected grid as a dense row-major
    * `[lat, lon(, bins...)]` array — what the `.h5` and `.nc` encoders share.
    */
  private[io] sealed trait DenseVar { def name: String }
  /** Integers: packed statistics, counts, histograms (`bins` = their extra dims). */
  private[io] final case class DenseLongs(name: String, bins: Seq[Int], data: Array[Long])
      extends DenseVar
  /** Unpacked floating statistics (no packing listed). */
  private[io] final case class DenseDoubles(name: String, data: Array[Double]) extends DenseVar
  /** A cloud-fraction statistic both int-packed and as the reference's
    * unrounded `value/scale + offset` (non-finite and absent -> fill).
    */
  private[io] final case class DenseCloudFraction(
      name: String, packed: Array[Long], unrounded: Array[Double]) extends DenseVar

  private[io] final case class DenseL3(
      nLat: Int,
      nLon: Int,
      attrs: Map[String, Map[String, String]],
      vars: Seq[DenseVar])

  /** Collect the grid ONCE and densify every statistic column, in column
    * order, under its output name. The projection holds the packed columns
    * ([[packGrid]]) plus the raw value of each cloud-fraction statistic.
    *
    * Cells absent from the (possibly sparse) grid frame surface as
    * `_FillValue` for statistics and 0 for counts/histograms — the
    * reference's init values (`+inf -> fill` / zeros) after packing.
    * Histogram bin counts come from the job's bin edges, else from the
    * first non-null row; every row's shape is checked against them.
    *
    * The grid is collected to the driver: at most gridLat x gridLon cells
    * (64,800 at 1 degree) — the same driver-small bound the reference's
    * `h5py` writes rely on.
    */
  private[io] def densify(
      grid: DataFrame,
      cfg: JobConfig,
      packings: Map[String, Packing],
      varAttrs: Map[String, PixelSource.VarAttrs]): DenseL3 = {
    val nLat = cfg.grid.gridLat
    val nLon = cfg.grid.gridLon
    val indexed = GridAggregation.withGridIndexes(grid, cfg)
    val stats = indexed.columns.toSeq.filterNot(IndexCols)
    val cfStats = stats.filter(isCloudFractionStat)
    val projection = indexed.select(packedCols(indexed.columns.toSeq, packings) ++
      cfStats.map(c => col(c).as(s"__raw_$c")): _*)
    val rows = projection.collect()
    val schema = projection.schema
    val attrs = cfAttrs(indexed.columns.toSeq, packings, varAttrs)

    val latI = schema.fieldIndex("lat_idx")
    val lonI = schema.fieldIndex("lon_idx")
    val cells = rows.map { r =>
      val lat = r.getAs[Number](latI).intValue()
      val lon = r.getAs[Number](lonI).intValue()
      require(lat >= 0 && lat < nLat && lon >= 0 && lon < nLon,
        s"grid index ($lat, $lon) outside ${nLat}x$nLon")
      lat * nLon + lon
    }
    def dense[A: scala.reflect.ClassTag](i: Int, init: A)(value: Any => A): Array[A] = {
      val out = Array.fill(nLat * nLon)(init)
      var k = 0
      while (k < rows.length) {
        if (!rows(k).isNullAt(i)) out(cells(k)) = value(rows(k).get(i))
        k += 1
      }
      out
    }
    def number(v: Any): Number = v.asInstanceOf[Number]
    def seq(v: Any): scala.collection.Seq[Any] = v.asInstanceOf[scala.collection.Seq[Any]]
    // histograms: [lat, lon, bins...] int64, zero where no pixel fell; a
    // joint (rank-2) histogram is the row-major [x][y] nest
    def histogram(c: String, i: Int, rank: Int, binsOfSpec: Option[Seq[Int]]): DenseLongs = {
      def shape(h: scala.collection.Seq[Any]): Seq[Int] =
        if (rank == 1) Seq(h.size) else Seq(h.size, h.headOption.fold(0)(seq(_).size))
      val bins = binsOfSpec
        .orElse(rows.find(!_.isNullAt(i)).map(r => shape(seq(r.get(i)))))
        .getOrElse(throw new IllegalArgumentException(s"$c: cannot infer bin count"))
      val width = bins.product
      val out = new Array[Long](nLat * nLon * width)
      for (k <- rows.indices if !rows(k).isNullAt(i)) {
        val h = seq(rows(k).get(i))
        require(h.size == bins.head && (rank == 1 || h.forall(seq(_).size == bins(1))),
          s"$c: histogram shape ${shape(h).mkString(" x ")} != ${bins.mkString(" x ")}")
        val flat = if (rank == 1) h else h.flatMap(seq)
        val base = cells(k) * width
        flat.iterator.zipWithIndex.foreach { case (n, x) => out(base + x) = number(n).longValue() }
      }
      DenseLongs(c, bins, out)
    }

    val vars = stats.map { raw =>
      val c = outputName(raw)
      val i = schema.fieldIndex(c)
      // bin counts for histogram columns, from the job spec (output names
      // are _1km-stripped, so match on stripped var names too)
      val v = cfg.vars.find(v => c.startsWith(outputName(v.name)))
      def fill = attrs.get(c).flatMap(_.get("_FillValue")).map(_.toDouble).getOrElse(-9999.0)
      if (isCloudFractionStat(raw)) {
        val p = packingOf(raw, packings).get
        val f = p.fill.toDouble
        DenseCloudFraction(c, dense(i, fill.toLong)(number(_).longValue()),
          dense(schema.fieldIndex(s"__raw_$raw"), f) { x =>
            val d = number(x).doubleValue()
            if (d.isNaN || d.isInfinite) f else d / p.scale + p.offset
          })
      } else schema(i).dataType match {
        case LongType | IntegerType =>
          val isCount = c == "GRID_Counts" || c.contains("Pixel_Counts")
          DenseLongs(c, Nil, dense(i, if (isCount) 0L else fill.toLong)(number(_).longValue()))
        // DecimalType: user parquet (DuckDB/Hive writers) routinely types
        // arithmetic results DECIMAL; stats over them surface here too
        case DoubleType | FloatType | _: DecimalType =>
          DenseDoubles(c, dense(i, fill)(number(_).doubleValue()))
        case ArrayType(ArrayType(LongType | IntegerType, _), _) =>
          val nx = v.map(_.binEdges.size - 1)
          val ny = v.flatMap(_.joint).map(_.jointEdges.size - 1)
          histogram(c, i, rank = 2, nx.zip(ny).map { case (x, y) => Seq(x, y) })
        case ArrayType(LongType | IntegerType, _) =>
          histogram(c, i, rank = 1, v.map(x => Seq(x.binEdges.size - 1)))
        case other =>
          throw new IllegalArgumentException(
            s"$c: unsupported grid column type $other for L3 export")
      }
    }
    DenseL3(nLat, nLon, attrs, vars)
  }

  /** The single-file sinks' output-exists guard (S5, `:610-617`): throws
    * under `ErrorIfExists`; false = skip the write (`Ignore`).
    */
  private[io] def mayWrite(path: String, mode: SaveMode): Boolean = {
    val exists = new java.io.File(path).exists()
    if (exists && mode == SaveMode.ErrorIfExists)
      throw new IllegalStateException(
        s"output path $path already exists (reference output-exists guard)")
    !(exists && mode == SaveMode.Ignore)
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
    *     by [[packGrid]] with `_1km` stripped (`:745-748`), cloud-fraction
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
      varAttrs: Map[String, PixelSource.VarAttrs] = Map.empty,
      mode: SaveMode = SaveMode.ErrorIfExists): Unit = {
    import NetCDF3._
    if (!mayWrite(path, mode)) return
    val l3 = densify(grid, cfg, packings, varAttrs)

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
    def atts(c: String, fillAsInt: Boolean): Seq[Att] = {
      val m = l3.attrs.getOrElse(c, Map.empty)
      Seq(
        m.get("units").map(u => Att("units", CharAtt(u))),
        m.get("long_name").filter(_.nonEmpty).map(l => Att("long_name", CharAtt(l))),
        m.get("_FillValue").map { f =>
          if (fillAsInt) Att("_FillValue", IntAtt(Seq(f.toDouble.toInt)))
          else Att("_FillValue", DoubleAtt(Seq(f.toDouble)))
        },
        m.get("scale_factor").map(s => Att("scale_factor", DoubleAtt(Seq(s.toDouble)))),
        m.get("add_offset").map(o => Att("add_offset", DoubleAtt(Seq(o.toDouble))))
      ).flatten
    }

    val dataVars = l3.vars.map {
      case DenseLongs(c, bins, data) =>
        val binDims = bins match {
          case Seq(nb) => Seq(Dim(s"${c}_bin", nb))
          case Seq(nx, ny) => Seq(Dim(s"${c}_bin_x", nx), Dim(s"${c}_bin_y", ny))
          case _ => Nil
        }
        Var(c, Seq(0, 1) ++ binDims.map(dimId), NcInt, atts(c, fillAsInt = true), ints(c, data))
      case DenseDoubles(c, data) =>
        Var(c, Seq(0, 1), NcDouble, atts(c, fillAsInt = false), data)
      case DenseCloudFraction(c, packed, _) =>
        Var(c, Seq(0, 1), NcInt, atts(c, fillAsInt = true), ints(c, packed))
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
    *     int64 via [[packGrid]]; `Cloud_Fraction*` statistics FLOAT64 at
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
      varAttrs: Map[String, PixelSource.VarAttrs] = Map.empty,
      mode: SaveMode = SaveMode.ErrorIfExists): Unit = {
    import HDF5._
    if (!mayWrite(path, mode)) return
    val l3 = densify(grid, cfg, packings, varAttrs)
    val latLon = Seq(l3.nLat, l3.nLon)

    def atts(c: String, rank: Int, fillAsLong: Boolean): Seq[Att] = {
      val m = l3.attrs.getOrElse(c, Map.empty)
      Seq(
        Some(Att("DIMENSION_LABELS", StrArrayAtt(Seq("lat_bnd", "lon_bnd").padTo(rank, "")))),
        m.get("units").map(u => Att("units", StrAtt(u))),
        m.get("long_name").filter(_.nonEmpty).map(l => Att("long_name", StrAtt(l))),
        m.get("_FillValue").map { f =>
          if (fillAsLong) Att("_FillValue", LongAtt(f.toDouble.toLong))
          else Att("_FillValue", DoubleAtt(f.toDouble))
        },
        m.get("scale_factor").map(s => Att("scale_factor", DoubleAtt(s.toDouble))),
        m.get("add_offset").map(o => Att("add_offset", DoubleAtt(o.toDouble)))
      ).flatten
    }

    val dataSets = l3.vars.map {
      case DenseLongs(c, bins, data) =>
        Dataset(c, latLon ++ bins, H5Int64, atts(c, 2 + bins.size, fillAsLong = true), data)
      case DenseDoubles(c, data) =>
        Dataset(c, latLon, H5Float64, atts(c, 2, fillAsLong = false), data)
      case DenseCloudFraction(c, _, unrounded) =>
        Dataset(c, latLon, H5Float64, atts(c, 2, fillAsLong = false), unrounded)
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
