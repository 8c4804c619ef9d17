package graft.io

import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model._

class IoSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------- GranuleCatalog

  private def touch(dir: Path, names: String*): Unit =
    names.foreach(n => Files.createFile(dir.resolve(n)))

  test("hourPrefixes expands the range plus the 3h next-day spill") {
    val ps = GranuleCatalog.hourPrefixes(
      LocalDate.of(2008, 1, 1), LocalDate.of(2008, 1, 2))
    assert(ps.length == 48 + 3)
    assert(ps.take(24).forall(_._2 == 1))
    assert(ps.slice(24, 48).forall(_._2 == 2))
    assert(ps.takeRight(3) == Seq((2008, 3, "00"), (2008, 3, "01"), (2008, 3, "02")))
    // year rollover
    val ny = GranuleCatalog.hourPrefixes(
      LocalDate.of(2008, 12, 31), LocalDate.of(2008, 12, 31))
    assert(ny.takeRight(3).forall(p => p._1 == 2009 && p._2 == 1))
  }

  test("pairedCatalog pairs by acquisition key and flags unpaired files") {
    val dataDir = Files.createTempDirectory("myd06")
    val geoDir = Files.createTempDirectory("myd03")
    touch(dataDir,
      "MYD06_L2.A2008001.0005.061.x.hdf",
      "MYD06_L2.A2008001.0100.061.x.hdf",
      "MYD06_L2.A2008002.0200.061.x.hdf") // spill-hour granule of day 2
    touch(geoDir,
      "MYD03.A2008001.0005.061.x.hdf",
      "MYD03.A2008001.0100.061.x.hdf",
      "MYD03.A2008002.0200.061.x.hdf")
    val cat = GranuleCatalog.pairedCatalog(
      spark,
      dataDir.toString, "MYD06_L2.A", geoDir.toString, "MYD03.A",
      LocalDate.of(2008, 1, 1), LocalDate.of(2008, 1, 1))
      .orderBy($"granule_id").collect()
    assert(cat.length == 3)
    assert(cat.map(_.getString(0)).toSeq ==
      Seq("A2008001.0005", "A2008001.0100", "A2008002.0200"))
    assert(cat.map(_.getInt(1)).toSeq == Seq(1, 1, 2))
    assert(cat.map(_.getInt(2)).toSeq == Seq(0, 1, 2))

    // unpaired geolocation file -> strict mode aborts like the reference
    touch(dataDir, "MYD06_L2.A2008001.0500.061.x.hdf")
    intercept[IllegalArgumentException] {
      GranuleCatalog.pairedCatalog(
        spark, dataDir.toString, "MYD06_L2.A", geoDir.toString, "MYD03.A",
        LocalDate.of(2008, 1, 1), LocalDate.of(2008, 1, 1))
    }
  }

  // ---------------------------------------------------------- ConfigScans

  test("parseDataPaths reads the two-section whitespace csv") {
    val lines = Seq(
      "Data_input_path                File_prefix_name",
      "/data/myd06/                   MYD06_L2.A",
      "/data/myd03/                   MYD03.A",
      "Data_output_path               File_prefix_name",
      "/out/                          MYD08_L3")
    val ((d, dp), (g, gp), (o, op)) = ConfigScans.parseDataPaths(lines)
    assert((d, dp) == ("/data/myd06/", "MYD06_L2.A"))
    assert((g, gp) == ("/data/myd03/", "MYD03.A"))
    assert((o, op) == ("/out/", "MYD08_L3"))
  }

  test("parseVariables + parseJointSpecs resolve names, edges and joint index") {
    val vars = ConfigScans.parseVariables(Seq(
      "Variable_name                Intervals",
      "Cloud_Top_Pressure           50.0,150.0,1050.0",
      "cloud_fraction_CM            0.0,0.5,1.0"))
    assert(vars.map(_.name) == Seq("Cloud_Top_Pressure", "cloud_fraction_CM"))
    assert(vars.head.binEdges == Seq(50.0, 150.0, 1050.0))

    val joined = ConfigScans.parseJointSpecs(Seq(
      "Variable_name      Joint_Variable_name  Variable_Index  Joint_Intervals",
      "Cloud_Top_Pressure cloud_fraction       1               0.25,0.75,0.975"),
      vars)
    val j = joined.head.joint.get
    assert(j.jointVar == "cloud_fraction_CM") // index 1 resolved to name
    assert(j.jointEdges == Seq(0.25, 0.75, 0.975))
    assert(joined(1).joint.isEmpty)
  }

  // ------------------------------------------------------------- L3Writer

  test("pack applies scale/offset and maps non-finite to fill") {
    val p = L3Writer.Packing(0.01, 100.0, -9999L)
    val out = Seq[java.lang.Double](2.5, Double.NaN, null, Double.PositiveInfinity)
      .toDF("v").select(L3Writer.pack($"v", p).as("p")).as[Long].collect()
    assert(out.toSeq == Seq(350L, -9999L, -9999L, -9999L)) // 2.5/0.01+100
  }

  test("write refuses to overwrite an existing path (output-exists guard)") {
    val cfg = JobConfig(grid = GridSpec(Region(0, 10, 0, 10), 5.0, 5.0),
      stats = StatSwitches(min = false, max = false, count = false, std = false),
      vars = Seq(VarSpec("v")))
    val grid = Seq((0L, 1.0)).toDF("cell", "v_Mean")
    val out = Files.createTempDirectory("l3").resolve("out").toString
    L3Writer.write(grid, cfg, out)
    val files = spark.read.parquet(out)
    assert(files.columns.contains("lat_idx") && files.count() == 1)
    intercept[Exception] { L3Writer.write(grid, cfg, out) }
  }

  test("write keeps the final aggregate parallel: one task per shuffle partition, same rows") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import scala.jdk.CollectionConverters._
    val cfg = JobConfig(grid = GridSpec(Region(-90, 90, -180, 180), 10.0, 10.0),
      stats = StatSwitches(std = false), vars = Seq(VarSpec("v")))
    // three input partitions, so the scan stage is told apart from the
    // shuffle's four
    val pixels = spark.range(0, 6000, 1, 3).select(lit("g1").as("granule_id"),
      ($"id" % 180 - 89.5).as("lat"), ($"id" * 7 % 360 - 179.5).as("lon"),
      ($"id" % 97).cast("double").as("v"))
    val grid = graft.engine.GridAggregation.aggregate(pixels, cfg)
    val out = Files.createTempDirectory("l3par").resolve("out").toString

    // (stage id, tasks, shuffle records read) of every stage the write ran
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long)]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages.add((i.stageId, i.numTasks, i.taskMetrics.shuffleReadMetrics.recordsRead))
      }
    }
    // AQE would fold these kilobyte shuffles into one partition (at real
    // scale it would not); the property under test is the plan's
    // distribution, so coalescing is off for the write and restored after
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.conf.set(coalesceKey, "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      L3Writer.write(grid, cfg, out)
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      prev.fold(spark.conf.unset(coalesceKey))(spark.conf.set(coalesceKey, _))
    }
    // the first stage reading a shuffle reads the aggregate's exchange:
    // the final aggregate runs there
    val finalAgg = stages.asScala.filter(_._3 > 0).minBy(_._1)
    assert(finalAgg._2 == spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"stages (id, tasks, shuffle records read): ${stages.asScala.toSeq}")

    // still one file, holding exactly the grid's rows
    val written = spark.read.parquet(out)
    assert(written.inputFiles.length == 1)
    assert(written.columns.toSeq == Seq("cell", "v_Minimum", "v_Maximum", "v_Mean",
      "v_Pixel_Counts", "lat_idx", "lon_idx", "lat_center", "lon_center"))
    val expected = grid.select(($"cell" +: grid.columns.tail.toSeq.map(col)) ++
      graft.expr.GridExprs.gridIndexCols($"cell", cfg.grid): _*)
    assert(written.collect().toSet == expected.collect().toSet)
    assert(written.count() == pixels.select(
      graft.expr.GridExprs.cellId($"lat", $"lon", cfg.grid)).distinct().count())
  }

  test("decodePacked applies fill->NULL then (raw-offset)*scale, attrs round-trip") {
    val attrs = PixelSource.VarAttrs(
      units = "hPa", longName = "Cloud Top Pressure",
      fillValue = -32768, scaleFactor = 0.1, addOffset = -15000.0)
    val df = PixelSource.withDecodedVar(
      Seq(-32768.0, 0.0, 5000.0).toDF("ctp"), "ctp", attrs)
    val out = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(None, Some(1500.0), Some(2000.0)))
    // metadata survives and parses back
    assert(PixelSource.readAttrs(df, "ctp").contains(attrs))
  }

  test("axis bounds are cell centers") {
    val cfg = JobConfig(grid = GridSpec(Region(-90, 90, -180, 180), 1.0, 1.0))
    val lats = L3Writer.latBounds(cfg)
    assert(lats.length == 180 && lats.head == -89.5 && lats.last == 89.5)
    val lons = L3Writer.lonBounds(cfg)
    assert(lons.length == 360 && lons.head == -179.5 && lons.last == 179.5)
  }

  /** The binary sinks' fixture: a 6 x 12 grid (30-degree cells) holding
    * the layout of `cfg` — a mean, counts, a 3-bin histogram and a 3x3
    * joint histogram of one `_1km` variable, then the cloud fraction and
    * GRID_Counts; cells 0=(0,0) and 13=(1,1) populated.
    */
  private object L3Fixture {
    val cfg = JobConfig(
      grid = GridSpec(Region(-90, 90, -180, 180), 30.0, 30.0),
      stats = StatSwitches(min = false, max = false, std = false, hist = true, jhist = true),
      vars = Seq(
        VarSpec("Cloud_Top_Pressure_1km",
          binEdges = Seq(0.0, 300.0, 700.0, 1100.0),
          joint = Some(JointSpec("Cloud_Top_Temperature_1km", Seq(180.0, 240.0, 280.0, 310.0)))),
        VarSpec(graft.engine.GridAggregation.CloudFractionVar)))
    def grid = Seq(
      (0L, 812.5, 10L, Seq(1L, 2L, 7L),
        Seq(Seq(1L, 0L, 2L), Seq(0L, 3L, 4L), Seq(5L, 0L, 0L)),
        0.125, 0.5, 0.25, 8L, 3L),
      (13L, 401.0, 4L, Seq(0L, 4L, 0L),
        Seq(Seq(0L, 1L, 0L), Seq(2L, 0L, 1L), Seq(0L, 0L, 6L)),
        0.5, 0.5, 0.5, 2L, 7L))
      .toDF("cell", "Cloud_Top_Pressure_1km_Mean",
        "Cloud_Top_Pressure_1km_Pixel_Counts",
        "Cloud_Top_Pressure_1km_Histogram_Counts",
        "Cloud_Top_Pressure_1km_Jhisto_vs_Cloud_Top_Temperature_1km",
        "cloud_fraction_Minimum", "cloud_fraction_Maximum", "cloud_fraction_Mean",
        "cloud_fraction_Pixel_Counts", "GRID_Counts")
    val packings = Map("Cloud_Top_Pressure_1km_Mean" -> L3Writer.Packing(0.1, -15000.0, -32768L))
    val varAttrs = Map("Cloud_Top_Pressure_1km" -> PixelSource.VarAttrs(
      units = "hPa", longName = "Cloud Top Pressure",
      fillValue = -32768, scaleFactor = 0.1, addOffset = -15000.0))
  }

  test("writeNetcdf emits the reference-shaped binary L3 file (netCDF-3 classic)") {
    import graft.io.NetCDF3._
    import L3Fixture._
    val out = Files.createTempDirectory("nc").resolve("l3.nc").toString
    L3Writer.writeNetcdf(grid, cfg, out, packings, varAttrs)

    val nc = NetCDF3.read(out)
    // dims: the two axes plus the histogram bin dims, _1km stripped
    assert(nc.dims.take(2) == Seq(Dim("lat_bnd", 6), Dim("lon_bnd", 12)))
    assert(nc.dims.contains(Dim("Cloud_Top_Pressure_Histogram_Counts_bin", 3)))
    assert(nc.dims.contains(
      Dim("Cloud_Top_Pressure_Jhisto_vs_Cloud_Top_Temperature_bin_x", 3)))
    assert(nc.dims.contains(
      Dim("Cloud_Top_Pressure_Jhisto_vs_Cloud_Top_Temperature_bin_y", 3)))

    def v(name: String): Var = nc.vars.find(_.name == name).getOrElse(
      fail(s"variable $name missing: ${nc.vars.map(_.name)}"))

    // axis variables are the cell centers with the reference attrs
    assert(v("lat_bnd").data.asInstanceOf[Array[Double]].toSeq ==
      (0 until 6).map(i => -90.0 + 15.0 + i * 30.0))
    assert(v("lon_bnd").data.asInstanceOf[Array[Double]].toSeq ==
      (0 until 12).map(i => -180.0 + 15.0 + i * 30.0))
    assert(v("lat_bnd").atts.contains(Att("long_name", CharAtt("Latitude_boundaries"))))

    // packed mean: cell 0 -> dense [0], cell 13 -> dense [1*12 + 1];
    // everything else the fill value
    val mean = v("Cloud_Top_Pressure_Mean")
    assert(mean.dimIds == Seq(0, 1) && mean.ncType == NcInt)
    val md = mean.data.asInstanceOf[Array[Int]]
    assert(md(0) == math.round(812.5 / 0.1 + -15000.0).toInt)
    assert(md(13) == math.round(401.0 / 0.1 + -15000.0).toInt)
    assert(md(1) == -32768 && md.count(_ != -32768) == 2)
    assert(mean.atts.contains(Att("_FillValue", IntAtt(Seq(-32768)))))
    assert(mean.atts.contains(Att("scale_factor", DoubleAtt(Seq(0.1)))))
    assert(mean.atts.contains(Att("units", CharAtt("hPa"))))

    // counts: absent cells are 0, not fill
    val cnt = v("Cloud_Top_Pressure_Pixel_Counts").data.asInstanceOf[Array[Int]]
    assert(cnt(0) == 10 && cnt(13) == 4 && cnt.sum == 14)

    // forced cloud-fraction packing (reference :741-744)
    val cf = v("cloud_fraction_Mean")
    assert(cf.data.asInstanceOf[Array[Int]](0) == 2500)
    assert(v("cloud_fraction_Maximum").data.asInstanceOf[Array[Int]](0) == 5000)
    assert(cf.atts.contains(Att("scale_factor", DoubleAtt(Seq(1e-4)))))
    assert(cf.atts.contains(Att("_FillValue", IntAtt(Seq(-9999)))))

    // GRID_Counts and the cloud-fraction counts pass through unpacked
    val gc = v("GRID_Counts").data.asInstanceOf[Array[Int]]
    assert(gc(0) == 3 && gc(13) == 7 && gc.sum == 10)
    val cfc = v("cloud_fraction_Pixel_Counts").data.asInstanceOf[Array[Int]]
    assert(cfc(0) == 8 && cfc(13) == 2 && cfc.sum == 10)

    // histogram: [lat, lon, bin] dense layout, zero elsewhere
    val h = v("Cloud_Top_Pressure_Histogram_Counts")
    assert(h.dimIds.length == 3)
    val hd = h.data.asInstanceOf[Array[Int]]
    assert(hd.slice(0, 3).toSeq == Seq(1, 2, 7))
    assert(hd.slice(13 * 3, 13 * 3 + 3).toSeq == Seq(0, 4, 0))
    assert(hd.sum == 1 + 2 + 7 + 4)

    // joint histogram: [lat, lon, bin_x, bin_y], row-major x then y
    val j = v("Cloud_Top_Pressure_Jhisto_vs_Cloud_Top_Temperature")
    assert(j.dimIds.length == 4)
    val jd = j.data.asInstanceOf[Array[Int]]
    assert(jd.slice(0, 9).toSeq == Seq(1, 0, 2, 0, 3, 4, 5, 0, 0))
    assert(jd.slice(13 * 9, 13 * 9 + 9).toSeq == Seq(0, 1, 0, 2, 0, 1, 0, 0, 6))
    assert(jd.sum == (1 + 2 + 3 + 4 + 5) + (1 + 2 + 1 + 6))

    // the file really is netCDF-3 classic: magic bytes + re-write identity
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F' && bytes(3) == 1)
    assert(NetCDF3.toBytes(nc).toSeq == bytes.toSeq)

    // output-exists guard
    intercept[Exception] { L3Writer.writeNetcdf(grid, cfg, out) }
  }

  test("writeH5 emits the reference's literal .h5 container (HDF5 classic)") {
    import graft.io.HDF5._
    import L3Fixture._
    val out = Files.createTempDirectory("h5").resolve("l3.h5").toString
    L3Writer.writeH5(grid, cfg, out, packings, varAttrs)

    val h5 = HDF5.read(out)
    def d(name: String): Dataset = h5.datasets.find(_.name == name).getOrElse(
      fail(s"dataset $name missing: ${h5.datasets.map(_.name)}"))

    // axis datasets: float64 cell centers with the reference attrs
    assert(d("lat_bnd").dtype == H5Float64)
    assert(d("lat_bnd").data.asInstanceOf[Array[Double]].toSeq ==
      (0 until 6).map(i => -90.0 + 15.0 + i * 30.0))
    assert(d("lon_bnd").data.asInstanceOf[Array[Double]].toSeq ==
      (0 until 12).map(i => -180.0 + 15.0 + i * 30.0))
    assert(d("lat_bnd").atts.contains(Att("long_name", StrAtt("Latitude_boundaries"))))

    // packed mean: int64 dense [lat, lon] with _1km stripped
    val mean = d("Cloud_Top_Pressure_Mean")
    assert(mean.dims == Seq(6, 12) && mean.dtype == H5Int64)
    val md = mean.data.asInstanceOf[Array[Long]]
    assert(md(0) == math.round(812.5 / 0.1 + -15000.0))
    assert(md(13) == math.round(401.0 / 0.1 + -15000.0))
    assert(md(1) == -32768L && md.count(_ != -32768L) == 2)
    assert(mean.atts.contains(Att("_FillValue", LongAtt(-32768L))))
    assert(mean.atts.contains(Att("scale_factor", DoubleAtt(0.1))))
    assert(mean.atts.contains(Att("units", StrAtt("hPa"))))
    assert(mean.atts.contains(Att("DIMENSION_LABELS",
      StrArrayAtt(Seq("lat_bnd", "lon_bnd")))),
      "dims[i].label footprint (reference :447-448)")

    // counts: int64, absent cells 0
    val cnt = d("Cloud_Top_Pressure_Pixel_Counts").data.asInstanceOf[Array[Long]]
    assert(cnt(0) == 10L && cnt(13) == 4L && cnt.sum == 14L)

    // Cloud_Fraction: FLOAT64 at forced 1e-4 scaling, UNROUNDED — the
    // reference's CF branch skips the astype(int) (:438-444)
    val cf = d("cloud_fraction_Mean")
    assert(cf.dtype == H5Float64, "reference CF datasets are float64")
    val cfd = cf.data.asInstanceOf[Array[Double]]
    assert(cfd(0) == 0.25 / 1e-4 && cfd(13) == 0.5 / 1e-4)
    assert(cfd(1) == -9999.0 && cfd.count(_ != -9999.0) == 2)
    assert(d("cloud_fraction_Maximum").data.asInstanceOf[Array[Double]](0) == 0.5 / 1e-4)
    assert(cf.atts.contains(Att("scale_factor", DoubleAtt(1e-4))))
    assert(cf.atts.contains(Att("_FillValue", DoubleAtt(-9999.0))))

    // GRID_Counts and the cloud-fraction counts: int64, passed through
    val gc = d("GRID_Counts")
    assert(gc.dtype == H5Int64 && gc.atts.contains(Att("units", StrAtt("none"))))
    val gcd = gc.data.asInstanceOf[Array[Long]]
    assert(gcd(0) == 3L && gcd(13) == 7L && gcd.sum == 10L)
    val cfc = d("cloud_fraction_Pixel_Counts")
    assert(cfc.dtype == H5Int64 && cfc.data.asInstanceOf[Array[Long]].sum == 10L)

    // histograms: native N-D int64 datasets (the reference's reshape)
    val h = d("Cloud_Top_Pressure_Histogram_Counts")
    assert(h.dims == Seq(6, 12, 3) && h.dtype == H5Int64)
    val hd = h.data.asInstanceOf[Array[Long]]
    assert(hd.slice(0, 3).toSeq == Seq(1L, 2L, 7L))
    assert(hd.slice(13 * 3, 13 * 3 + 3).toSeq == Seq(0L, 4L, 0L))
    assert(hd.sum == 14L)

    val j = d("Cloud_Top_Pressure_Jhisto_vs_Cloud_Top_Temperature")
    assert(j.dims == Seq(6, 12, 3, 3))
    val jd = j.data.asInstanceOf[Array[Long]]
    assert(jd.slice(0, 9).toSeq == Seq(1L, 0L, 2L, 0L, 3L, 4L, 5L, 0L, 0L))
    assert(jd.slice(13 * 9, 13 * 9 + 9).toSeq == Seq(0L, 1L, 0L, 2L, 0L, 1L, 0L, 0L, 6L))

    // counts stay integer: unscaled attrs (reference :424-427)
    val cntAtts = d("Cloud_Top_Pressure_Pixel_Counts").atts
    assert(cntAtts.contains(Att("scale_factor", DoubleAtt(1.0))) &&
      cntAtts.contains(Att("add_offset", DoubleAtt(0.0))))

    // the .nc sink densifies the same grid: every dataset but the float64
    // cloud fraction holds the same values in the same layout there
    val ncPath = Files.createTempDirectory("h5nc").resolve("l3.nc").toString
    L3Writer.writeNetcdf(grid, cfg, ncPath, packings, varAttrs)
    val nc = NetCDF3.read(ncPath)
    val compared = h5.datasets.filterNot(_.name.startsWith("cloud_fraction"))
    assert(compared.map(_.name).sorted ==
      nc.vars.map(_.name).filterNot(_.startsWith("cloud_fraction")).sorted)
    compared.foreach { ds =>
      val v = nc.vars.find(_.name == ds.name).get
      assert(v.dimIds.map(nc.dims(_).length) == ds.dims, ds.name)
      val ncVals = v.data match {
        case a: Array[Int] => a.toSeq.map(_.toDouble)
        case a: Array[Double] => a.toSeq
      }
      val h5Vals = ds.data match {
        case a: Array[Long] => a.toSeq.map(_.toDouble)
        case a: Array[Double] => a.toSeq
      }
      assert(h5Vals == ncVals, ds.name)
    }

    // the file really is HDF5: signature + re-write identity
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(out))
    assert((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'H' && bytes(2) == 'D' && bytes(3) == 'F')
    assert(HDF5.toBytes(h5).toSeq == bytes.toSeq)

    // output-exists guard
    intercept[Exception] { L3Writer.writeH5(grid, cfg, out) }
  }

  /** Two variables where one name prefixes the other, histograms on, the
    * shorter listed first — the real MODIS variable-list shape.
    */
  private object PrefixFixture {
    val cfg = JobConfig(
      grid = GridSpec(Region(-90, 90, -180, 180), 30.0, 30.0),
      stats = StatSwitches(hist = true),
      vars = Seq(
        VarSpec("Cloud_Top_Pressure", binEdges = Seq(0.0, 300.0, 700.0, 1100.0)),
        VarSpec("Cloud_Top_Pressure_Day", binEdges = Seq(0.0, 10.0, 20.0))))
    // cell 42 = (lat 3, lon 6) gets two pixels, cell 21 = (1, 9) one
    def grid = graft.engine.GridAggregation.aggregate(Seq(
      ("g1", 10.0, 10.0, 100.0, 5.0),
      ("g1", 10.0, 10.0, 600.0, 15.0),
      ("g1", -50.0, 100.0, 900.0, 5.0))
      .toDF("granule_id", "lat", "lon", "Cloud_Top_Pressure", "Cloud_Top_Pressure_Day"), cfg)
    private def attrs(units: String) = PixelSource.VarAttrs(
      units = units, longName = units, fillValue = -9999, scaleFactor = 1.0, addOffset = 0.0)
    val varAttrs = Map(
      "Cloud_Top_Pressure" -> attrs("hPa"), "Cloud_Top_Pressure_Day" -> attrs("Pa_day"))
  }

  test("writeH5: a variable name that prefixes another keeps its own bins and units") {
    import graft.io.HDF5._
    import PrefixFixture._
    val out = Files.createTempDirectory("h5pfx").resolve("l3.h5").toString
    L3Writer.writeH5(grid, cfg, out, varAttrs = varAttrs)
    val h5 = HDF5.read(out)
    def d(name: String): Dataset = h5.datasets.find(_.name == name).getOrElse(
      fail(s"dataset $name missing: ${h5.datasets.map(_.name)}"))

    val h = d("Cloud_Top_Pressure_Histogram_Counts")
    assert(h.dims == Seq(6, 12, 3))
    val hd = h.data.asInstanceOf[Array[Long]]
    assert(hd.slice(42 * 3, 43 * 3).toSeq == Seq(1L, 1L, 0L))
    assert(hd.slice(21 * 3, 22 * 3).toSeq == Seq(0L, 0L, 1L))
    val hDay = d("Cloud_Top_Pressure_Day_Histogram_Counts")
    assert(hDay.dims == Seq(6, 12, 2))
    val dd = hDay.data.asInstanceOf[Array[Long]]
    assert(dd.slice(42 * 2, 43 * 2).toSeq == Seq(1L, 1L))
    assert(dd.slice(21 * 2, 22 * 2).toSeq == Seq(1L, 0L))

    for (stat <- Seq("Minimum", "Maximum", "Mean", "Pixel_Counts", "Standard_Deviation",
        "Histogram_Counts")) {
      assert(d(s"Cloud_Top_Pressure_$stat").atts.contains(Att("units", StrAtt("hPa"))), stat)
      assert(d(s"Cloud_Top_Pressure_Day_$stat").atts.contains(Att("units", StrAtt("Pa_day"))),
        stat)
    }
    assert(d("Cloud_Top_Pressure_Day_Mean").data.asInstanceOf[Array[Double]](42) == 10.0)
  }

  test("the sinks reject a grid whose columns are not the job's L3 layout") {
    import PrefixFixture._
    assert(grid.columns.toSeq ==
      "cell" +: graft.engine.GridAggregation.layout(cfg).map(_.name))
    val dir = Files.createTempDirectory("l3bad")
    val extra = intercept[IllegalArgumentException] {
      L3Writer.writeH5(grid.withColumn("Cloud_Top_Pressure_Median", lit(1.0)), cfg,
        dir.resolve("extra.h5").toString)
    }
    assert(extra.getMessage.contains("Cloud_Top_Pressure_Median"))
    val missing = intercept[IllegalArgumentException] {
      L3Writer.writeNetcdf(grid.drop("Cloud_Top_Pressure_Day_Mean"), cfg,
        dir.resolve("missing.nc").toString)
    }
    assert(missing.getMessage.contains("Cloud_Top_Pressure_Day_Mean"))
  }

  /** The densifier on a 2 x 3 grid (90 x 120 degree cells) of the
    * engine's types: unpacked statistics, counts, a 1-D (3 bins) and a 2-D
    * (3 x 2) histogram and the cloud fraction. Cells 1 and 5 are
    * populated, the other four absent; cell 5's Maximum is NULL.
    */
  private object TypeFixture {
    val cfg = JobConfig(
      grid = GridSpec(Region(-90, 90, -180, 180), 90.0, 120.0),
      stats = StatSwitches(std = false, hist = true, jhist = true),
      vars = Seq(
        VarSpec("v", binEdges = Seq(0.0, 1.0, 2.0, 3.0),
          joint = Some(JointSpec("w", Seq(0.0, 1.0, 2.0)))),
        VarSpec(graft.engine.GridAggregation.CloudFractionVar)))
    def grid(hist5: Seq[Long] = Seq(0L, 3L, 0L),
        jhist5: Seq[Seq[Long]] = Seq(Seq(0L, 1L), Seq(2L, 0L), Seq(0L, 0L))) = Seq(
      (1L, 1.5, Option(6624604306319070.0), 1.2345678901234567e19, 7L,
        Seq(1L, 2L, 4L), Seq(Seq(1L, 0L), Seq(0L, 2L), Seq(3L, 1L)), 0.25, 0.75, 0.5, 8L, 2L),
      (5L, -2.25, Option.empty[Double], -1.0e-10, 3L,
        hist5, jhist5, 0.0, 1.0, 0.375, 4L, 1L))
      .toDF("cell", "v_Minimum", "v_Maximum", "v_Mean", "v_Pixel_Counts",
        "v_Histogram_Counts", "v_Jhisto_vs_w", "cloud_fraction_Minimum",
        "cloud_fraction_Maximum", "cloud_fraction_Mean", "cloud_fraction_Pixel_Counts",
        "GRID_Counts")
    val varAttrs = Map("v" -> PixelSource.VarAttrs(
      units = "K", longName = "v", fillValue = -32767, scaleFactor = 1.0, addOffset = 0.0))
  }

  test("the .h5 and .nc sinks densify every grid type the layout accepts") {
    import TypeFixture._
    val g = grid()
    val dir = Files.createTempDirectory("l3types")
    val h5Path = dir.resolve("l3.h5").toString
    val ncPath = dir.resolve("l3.nc").toString
    L3Writer.writeH5(g, cfg, h5Path, varAttrs = varAttrs)
    L3Writer.writeNetcdf(g, cfg, ncPath, varAttrs = varAttrs)
    def values(data: Any): Seq[Double] = data match {
      case a: Array[Long] => a.toSeq.map(_.toDouble)
      case a: Array[Int] => a.toSeq.map(_.toDouble)
      case a: Array[Double] => a.toSeq
    }
    val h5 = HDF5.read(h5Path).datasets.map(d => d.name -> values(d.data)).toMap
    val nc = NetCDF3.read(ncPath).vars.map(v => v.name -> values(v.data)).toMap

    // statistics: absent cells and NULL are the variable's fill
    val F = -32767.0
    val both = Map(
      "v_Minimum" -> Seq(F, 1.5, F, F, F, -2.25),
      "v_Maximum" -> Seq(F, 6624604306319070.0, F, F, F, F),
      "v_Mean" -> Seq(F, 1.2345678901234567e19, F, F, F, -1.0e-10),
      // counts and histograms: absent cells are 0
      "v_Pixel_Counts" -> Seq(0.0, 7, 0, 0, 0, 3),
      "v_Histogram_Counts" -> (Seq.fill(3)(0.0) ++ Seq(1.0, 2, 4) ++ Seq.fill(9)(0.0) ++
        Seq(0.0, 3, 0)),
      "v_Jhisto_vs_w" -> (Seq.fill(6)(0.0) ++ Seq(1.0, 0, 0, 2, 3, 1) ++ Seq.fill(18)(0.0) ++
        Seq(0.0, 1, 2, 0, 0, 0)),
      "cloud_fraction_Pixel_Counts" -> Seq(0.0, 8, 0, 0, 0, 4),
      "GRID_Counts" -> Seq(0.0, 2, 0, 0, 0, 1))
    for ((name, want) <- both) {
      assert(h5(name) == want, s"$name in the .h5")
      assert(nc(name) == want, s"$name in the .nc")
    }
    // cloud fraction: the .h5 holds value/1e-4 unrounded, the .nc the packed int
    val C = -9999.0
    for ((name, (v1, v5)) <- Seq("cloud_fraction_Minimum" -> (0.25, 0.0),
        "cloud_fraction_Maximum" -> (0.75, 1.0), "cloud_fraction_Mean" -> (0.5, 0.375))) {
      assert(h5(name) == Seq(C, v1 / 1e-4, C, C, C, v5 / 1e-4), name)
      assert(nc(name) == Seq(C, math.round(v1 / 1e-4).toDouble, C, C, C,
        math.round(v5 / 1e-4).toDouble), name)
    }

    // a histogram row of the wrong shape is still the named error
    def shapeError(bad: DataFrame): String = intercept[IllegalArgumentException] {
      L3Writer.writeH5(bad, cfg, dir.resolve(s"bad${System.nanoTime()}.h5").toString)
    }.getMessage
    assert(shapeError(grid(hist5 = Seq(0L, 3L))).contains(
      "v_Histogram_Counts: histogram shape 2 != 3"))
    assert(shapeError(grid(jhist5 = Seq(Seq(0L, 1L), Seq(2L, 0L)))).contains(
      "v_Jhisto_vs_w: histogram shape 2 x 2 != 3 x 2"))
    assert(shapeError(grid(jhist5 = Seq(Seq(0L, 1L), Seq(2L, 0L, 0L), Seq(0L, 0L)))).contains(
      "v_Jhisto_vs_w: histogram shape"))
  }

  test("the sinks reject a grid column of another type, naming the column and both types") {
    import TypeFixture._
    val dir = Files.createTempDirectory("l3typed")
    for ((c, bad, want) <- Seq(
        ("cell", IntegerType, LongType),
        ("v_Minimum", FloatType, DoubleType),
        ("v_Maximum", DecimalType(18, 2), DoubleType),
        ("v_Mean", DecimalType(30, 10), DoubleType),
        ("v_Pixel_Counts", IntegerType, LongType),
        ("v_Histogram_Counts", ArrayType(IntegerType, containsNull = false),
          ArrayType(LongType, containsNull = false)),
        ("v_Jhisto_vs_w", ArrayType(ArrayType(IntegerType)), ArrayType(ArrayType(LongType))),
        ("cloud_fraction_Mean", FloatType, DoubleType),
        ("GRID_Counts", IntegerType, LongType))) {
      val g = grid().withColumn(c, col(c).cast(bad))
      for ((sink, write) <- Seq[(String, String => Unit)](
          "h5" -> (L3Writer.writeH5(g, cfg, _)),
          "nc" -> (L3Writer.writeNetcdf(g, cfg, _)))) {
        val e = intercept[IllegalArgumentException] {
          write(dir.resolve(s"$c.$sink").toString)
        }
        assert(e.getMessage.contains(s"L3 grid column $c: ${bad.simpleString} in the grid, " +
          s"${want.simpleString} in the job config's L3 layout"), e.getMessage)
      }
    }
  }

  test("a grid with a cell in two rows fails, naming the cell") {
    import PrefixFixture._
    val dir = Files.createTempDirectory("l3dup")
    val twice = grid.union(grid)
    for (e <- Seq(
        intercept[IllegalArgumentException] {
          L3Writer.writeH5(twice, cfg, dir.resolve("twice.h5").toString)
        },
        intercept[IllegalArgumentException] {
          L3Writer.writeNetcdf(twice, cfg, dir.resolve("twice.nc").toString)
        }))
      assert("grid cell (21|42) appears in more than one grid row".r
        .findFirstIn(e.getMessage).nonEmpty, e.getMessage)
  }

  test("one grid densifies and writes the same from one, several and mostly empty partitions") {
    val cfg = JobConfig(
      grid = GridSpec(Region(-90, 90, -180, 180), 30.0, 30.0),
      stats = StatSwitches.All,
      vars = Seq(
        VarSpec("v", binEdges = Seq(0.0, 1.0, 2.0, 3.0),
          joint = Some(JointSpec("w", Seq(0.0, 1.0, 2.0)))),
        VarSpec("w"),
        VarSpec(graft.engine.GridAggregation.CloudFractionVar)))
    // the southern half of the 6 x 12 grid: 36 cells present, 36 absent
    val px = spark.range(600).select(
      (pmod($"id" * 37, lit(90)) - 89.5).as("lat"),
      (pmod($"id" * 91, lit(360)) - 179.5).as("lon"),
      when($"id" % 11 =!= 0, pmod($"id", lit(4)) * 0.9).as("v"),
      (pmod($"id", lit(3)) * 0.8).as("w"),
      pmod($"id", lit(5)).cast("double").as("cm_flag"),
      concat(lit("g"), ($"id" % 3).cast("string")).as("granule_id"))
    val grid = graft.engine.GridAggregation.aggregate(px, cfg)
    val byCell = grid.collect().map(r => r.getLong(0).toInt -> r).toMap
    assert(byCell.size == 36)

    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    val cloudFractions = graft.engine.GridAggregation.layout(cfg).collect {
      case c if c.stat.isInstanceOf[graft.agg.StatsPlan.CloudFraction] => c.name
    }.toSet
    // the .nc form of a cloud fraction is int-packed, the .h5 form unrounded
    def densify(g: DataFrame, asH5: Boolean) =
      L3Writer.densify(g, cfg, Map.empty, Map.empty, asH5)
    def arrays(l3: L3Writer.DenseL3): Seq[(String, Seq[Long])] = l3.vars.map {
      case L3Writer.DenseLongs(name, _, _, data) => name -> data.toSeq
      case L3Writer.DenseDoubles(name, _, data) => name -> data.toSeq.map(bits)
    }
    val ones = Seq(false, true).map(asH5 => asH5 -> densify(grid.repartition(1), asH5)).toMap
    // every dense value is the grid row's at its cell, or the init
    for ((asH5, one) <- ones; dv <- one.vars) {
      val i = grid.schema.fieldIndex(dv.name)
      def value(cell: Int) = byCell.get(cell).filterNot(_.isNullAt(i))
      val cf = cloudFractions(dv.name)
      for (cell <- 0 until 72) dv match {
        case L3Writer.DenseLongs(name, _, _, data) if cf =>
          assert(!asH5, name)
          assert(value(cell).fold(data(cell) == -9999L)(r =>
            math.abs(data(cell) - r.getDouble(i) / 1e-4) <= 0.5), s"$name at $cell")
        case L3Writer.DenseLongs(name, _, bins, data) =>
          val w = bins.product
          val want = value(cell).fold(Seq.fill(w)(0L))(r => bins.size match {
            case 0 => Seq(r.getLong(i))
            case 1 => r.getSeq[Long](i)
            case _ => r.getSeq[Seq[Long]](i).flatten
          })
          assert(data.slice(cell * w, (cell + 1) * w).toSeq == want, s"$name at $cell")
        case L3Writer.DenseDoubles(name, a, data) =>
          assert(!cf || asH5, name)
          val scaled = (v: Double) => if (cf) v / 1e-4 + 0.0 else v
          assert(bits(data(cell)) == bits(value(cell).fold(a.scaling.get.fill)(r =>
            scaled(r.getDouble(i)))), s"$name at $cell")
      }
    }

    val dir = Files.createTempDirectory("l3parts")
    def h5(g: DataFrame, name: String): Seq[Byte] = {
      val path = dir.resolve(name).toString
      L3Writer.writeH5(g, cfg, path)
      Files.readAllBytes(java.nio.file.Paths.get(path)).toSeq
    }
    val several = grid.repartition(5)
    val sparse = grid.repartition(96)
    val sizes = sparse.rdd.mapPartitions(rows => Iterator(rows.size)).collect()
    assert(sizes.length == 96 && sizes.count(_ == 0) >= 60)
    assert(several.rdd.mapPartitions(rows => Iterator(rows.size)).collect().count(_ > 0) > 1)
    for (g <- Seq(several, sparse); (asH5, one) <- ones)
      assert(arrays(densify(g, asH5)) == arrays(one))
    val bytes = h5(grid.repartition(1), "one.h5")
    assert(h5(several, "several.h5") == bytes)
    assert(h5(sparse, "sparse.h5") == bytes)
  }
}
