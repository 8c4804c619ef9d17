package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.io.HDF5

class GraftCliSpec extends SparkSpec {
  import spark.implicits._

  /** Write the reference-format config CSVs into a temp dir and return
    * (data_path.csv path, var csv path, jhist csv path, work dir).
    */
  private def writeConfigs(dataDir: String, outDir: String): (String, String, String) = {
    val work = Files.createTempDirectory("cli")
    val dp = work.resolve("data_path.csv")
    Files.writeString(dp,
      s"""Data_input_path   File_prefix_name
         |$dataDir   MYD06_L2.A
         |$dataDir   MYD03.A
         |
         |Data_output_path   File_prefix_name
         |$outDir   MYD08_L3
         |""".stripMargin)
    val vf = work.resolve("input_file.csv")
    Files.writeString(vf,
      """Variable_name   Intervals
        |Cloud_Top_Pressure   0.0,300.0,700.0,1100.0
        |Cloud_Top_Temperature   180.0,240.0,310.0
        |cloud_fraction_CM   0.02,0.5,0.95
        |""".stripMargin)
    val jf = work.resolve("input_jhist.csv")
    Files.writeString(jf,
      """Variable_name   Joint_Variable_name   Variable_Index   Joint_Intervals
        |Cloud_Top_Pressure   Temperature   1   180.0,240.0,310.0
        |""".stripMargin)
    (dp.toString, vf.toString, jf.toString)
  }

  /** Synthetic pixel parquet in the FIXTURES §1 layout. */
  private def writePixels(): String = {
    val dir = Files.createTempDirectory("clipix").resolve("pixels").toString
    spark.range(4000).select(
      lit("A2008005.0100").as("granule_id"),
      lit(5).as("day_of_year"),
      lit(1).as("hour"),
      (col("id") / 64).cast("int").as("row"),
      (col("id") % 64).cast("int").as("col"),
      (pmod(col("id") * 37, lit(1800)) / 10.0 - 90.0).as("lat"),
      (pmod(col("id") * 91, lit(3600)) / 10.0 - 180.0).as("lon"),
      pmod(col("id"), lit(8)).cast("int").as("cm_byte"),
      (pmod(col("id") * 13, lit(900)) + lit(200.0)).as("Cloud_Top_Pressure"),
      (pmod(col("id") * 17, lit(130)) + lit(180.0)).as("Cloud_Top_Temperature"))
      .withColumn("cm_flag", graft.expr.GridExprs.cloudMaskFlag(col("cm_byte")))
      .write.parquet(dir)
    dir
  }

  private def exampleArgs(dp: String, vf: String, jf: String): Array[String] =
    // the reference's Example-1 shape (MODIS_Aggregation_Local_Commands.sh:21)
    Array(dp, "2008/01/05", "2008/01/05", "[-90,90,-180,180]", "[30,30]",
      "[1]", "1", "1", "1", "1", "1", "1", "1", vf, jf)

  test("argv-parity: the reference's Example-1 command runs argv-to-.h5") {
    val pixels = writePixels()
    val outDir = Files.createTempDirectory("cliout").toString
    val (dp, vf, jf) = writeConfigs(pixels, outDir)
    val cli = GraftCli.parse(exampleArgs(dp, vf, jf))

    assert(cli.cfg.grid.gridLat == 6 && cli.cfg.grid.gridLon == 12)
    assert(cli.cfg.stats == graft.model.StatSwitches.All)
    assert(cli.cfg.vars.map(_.name) ==
      Seq("Cloud_Top_Pressure", "Cloud_Top_Temperature", "cloud_fraction_CM"))
    assert(cli.cfg.vars.head.joint.exists(_.jointVar == "Cloud_Top_Temperature"))
    assert(cli.cfg.vars.head.joint.exists(_.jointEdges == Seq(180.0, 240.0, 310.0)))
    assert(cli.l3Name == "MYD08_L3.A2008005-2008006.h5")

    val out = GraftCli.run(spark, cli)
    assert(out.endsWith("MYD08_L3.A2008005-2008006.h5"))
    val h5 = HDF5.read(out)
    val names = h5.datasets.map(_.name).toSet
    assert(names.contains("lat_bnd") && names.contains("lon_bnd"))
    assert(names.contains("Cloud_Top_Pressure_Mean"))
    assert(names.contains("Cloud_Top_Pressure_Histogram_Counts"))
    assert(names.contains("cloud_fraction_Mean"))
    assert(names.contains("GRID_Counts"))
    // grid content is real: some cell has pixels
    val counts = h5.datasets.find(_.name == "Cloud_Top_Pressure_Pixel_Counts").get
      .data.asInstanceOf[Array[Long]]
    assert(counts.sum > 0)

    // reference STEP 6: an existing output aborts before compute — not
    // even the input's schema-inference job starts
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val ex = intercept[IllegalStateException] { GraftCli.run(spark, cli) }
      assert(ex.getMessage.contains("already exists"))
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0)
  }

  test("--format granule drives the DSv2 source argv-to-.h5, pruned and byte-stable") {
    def granuleRun(): (String, Array[Byte]) = {
      val outDir = Files.createTempDirectory("cliout-gran").toString
      val (dp, vf, jf) = writeConfigs("/unused-in-granule-mode", outDir)
      val cli = GraftCli.parse(Array("--format", "granule") ++
        exampleArgs(dp, vf, jf))
      assert(cli.format == "granule")
      val out = GraftCli.run(spark, cli)
      (out, Files.readAllBytes(Paths.get(out)))
    }

    // catalog: 24 granules for day 5 + all 24 of spill day 6
    val cli = GraftCli.parse(Array("--format", "granule") ++ {
      val outDir = Files.createTempDirectory("x").toString
      val (dp, vf, jf) = writeConfigs("/unused", outDir)
      exampleArgs(dp, vf, jf)
    })
    val ids = GraftCli.granuleIds(cli.start, cli.end)
    assert(ids.size == 48)
    assert(ids.head == "A2008005.0005" && ids.last == "A2008006.2305")

    // rangeL3's day/hour predicate prunes the spill day's hours >= 3 at
    // PLANNING time: 24 (day 5) + 3 (day 6 spill) granule partitions
    val src = spark.read.format("graft.sources.GranuleSource")
      .option("granules", ids.mkString(",")).load()
      .filter(($"day_of_year" >= 5 && $"day_of_year" <= 5) ||
        ($"day_of_year" === 6 && $"hour" < 3))
    assert(src.rdd.getNumPartitions == 27,
      "expected granule-grade pruning to 27 partitions")

    // end to end argv -> .h5, with real grid content
    val (out, bytes1) = granuleRun()
    assert(out.endsWith("MYD08_L3.A2008005-2008006.h5"))
    val h5 = HDF5.read(out)
    val names = h5.datasets.map(_.name).toSet
    assert(names.contains("Cloud_Top_Pressure_Mean") &&
      names.contains("cloud_fraction_Mean") && names.contains("GRID_Counts"))
    val counts = h5.datasets.find(_.name == "Cloud_Top_Pressure_Pixel_Counts").get
      .data.asInstanceOf[Array[Long]]
    assert(counts.sum > 0)

    // byte-stable: the synthetic decode is deterministic, the grid pivot
    // is driver-side sorted, and the writer is canonical — a second
    // identical run yields the identical file
    val (_, bytes2) = granuleRun()
    assert(java.util.Arrays.equals(bytes1, bytes2))
  }

  test("--format granule Example-1 runs as ONE SQL execution (one scan, one collect)") {
    val outDir = Files.createTempDirectory("cliout-once").toString
    val (dp, vf, jf) = writeConfigs("/unused-in-granule-mode", outDir)
    val cli = GraftCli.parse(Array("--format", "granule") ++ exampleArgs(dp, vf, jf))
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = executions.incrementAndGet()
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = executions.incrementAndGet()
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      GraftCli.run(spark, cli)
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(executions.get == 1)
  }

  test("argv errors match the reference's aborts") {
    val pixels = writePixels()
    val outDir = Files.createTempDirectory("cliout2").toString
    val (dp, vf, jf) = writeConfigs(pixels, outDir)

    // wrong arg count (reference :459-471)
    intercept[IllegalArgumentException] { GraftCli.parse(Array("a", "b")) }
    // grid must divide the region extent (reference :524-530)
    intercept[IllegalArgumentException] {
      GraftCli.parse(exampleArgs(dp, vf, jf)
        .updated(4, "[7,30]"))
    }
    // switches must be 1/0
    intercept[IllegalArgumentException] {
      GraftCli.parse(exampleArgs(dp, vf, jf).updated(6, "yes"))
    }
    // jhist switch without the joint CSV (reference indexes argv[15])
    intercept[IllegalArgumentException] {
      GraftCli.parse(exampleArgs(dp, vf, jf).dropRight(1))
    }
    // bracketed literals are required verbatim
    intercept[IllegalArgumentException] {
      GraftCli.parse(exampleArgs(dp, vf, jf).updated(5, "1"))
    }
  }

  test("jhist off skips the joint CSV and the 15-arg form parses") {
    val pixels = writePixels()
    val outDir = Files.createTempDirectory("cliout3").toString
    val (dp, vf, _) = writeConfigs(pixels, outDir)
    val args = Array(dp, "2008/01/05", "2008/01/05", "[-90,90,-180,180]",
      "[30,30]", "[2]", "1", "1", "1", "1", "0", "0", "0", vf)
    val cli = GraftCli.parse(args)
    assert(!cli.cfg.stats.jhist && !cli.cfg.stats.std)
    assert(cli.cfg.sampling == 2)
    assert(cli.cfg.vars.forall(_.joint.isEmpty))
  }

  test("decimal-typed pixel parquet (DuckDB/Hive writers) exports cleanly") {
    // external writers routinely type arithmetic results DECIMAL; the
    // h5/netCDF sinks must treat them as the doubles they are
    val dir = Files.createTempDirectory("clidec").resolve("pixels").toString
    spark.range(2000).select(
      lit("A2008005.0100").as("granule_id"),
      lit(5).as("day_of_year"), lit(1).as("hour"),
      (col("id") / 64).cast("int").as("row"),
      (col("id") % 64).cast("int").as("col"),
      (pmod(col("id") * 37, lit(1800)) / 10.0 - 90.0)
        .cast("decimal(8,1)").as("lat"),
      (pmod(col("id") * 91, lit(3600)) / 10.0 - 180.0)
        .cast("decimal(8,1)").as("lon"),
      pmod(col("id"), lit(8)).cast("int").as("cm_byte"),
      (pmod(col("id") * 13, lit(900)) + lit(200.0))
        .cast("decimal(21,1)").as("Cloud_Top_Pressure"),
      (pmod(col("id") * 17, lit(130)) + lit(180.0))
        .cast("decimal(21,1)").as("Cloud_Top_Temperature"))
      .withColumn("cm_flag", graft.expr.GridExprs.cloudMaskFlag(col("cm_byte")))
      .write.parquet(dir)
    val outDir = Files.createTempDirectory("clidecout").toString
    val (dp0, vf, jf) = writeConfigs(dir, outDir)
    val cli = GraftCli.parse(exampleArgs(dp0, vf, jf))
    val out = GraftCli.run(spark, cli)
    val h5 = HDF5.read(out)
    // no explicit packing on the CLI path -> the decimal stat exports as
    // the float64 it is (counts stay int64)
    val mean = h5.datasets.find(_.name == "Cloud_Top_Pressure_Mean").get
    assert(mean.dtype == HDF5.H5Float64)
    assert(mean.data.asInstanceOf[Array[Double]].exists(v =>
      v >= 200.0 && v < 1100.0))
    val cnt = h5.datasets.find(_.name == "Cloud_Top_Pressure_Pixel_Counts").get
    assert(cnt.dtype == HDF5.H5Int64 &&
      cnt.data.asInstanceOf[Array[Long]].sum > 0)
  }

  test("l3 name reproduces the reference's year-rollover quirk verbatim") {
    val pixels = writePixels()
    val outDir = Files.createTempDirectory("cliout4").toString
    val (dp, vf, jf) = writeConfigs(pixels, outDir)
    val cli = GraftCli.parse(exampleArgs(dp, vf, jf)
      .updated(1, "2008/12/31").updated(2, "2008/12/31"))
    // reference :592-601 DECREMENTS the year when the spill crosses Dec 31
    // (sic) and pins the spill day to that year's length: A2008366-2007365
    assert(cli.l3Name == "MYD08_L3.A2008366-2007365.h5")
  }
}
