package graft

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.engine.ModisEngine
import graft.io.{ConfigScans, L3Writer}
import graft.model._

/** The reference's COMMAND LINE, verbatim (`read_user_inputs`,
  * `aggregate_functions.py:455-667`; invocation documented in
  * `examples/local_execution/MODIS_Aggregation_Local_Commands.sh`):
  *
  * {{{
  * runMain graft.GraftCli <data_path.csv> <start yyyy/mm/dd> <end yyyy/mm/dd>
  *   [latMin,latMax,lonMin,lonMax] [latGapDeg,lonGapDeg] [samplingN]
  *   <min 1/0> <max 1/0> <mean 1/0> <count 1/0> <std 1/0> <hist 1/0> <jhist 1/0>
  *   <variable csv> [<joint-histogram csv>]
  * }}}
  *
  * A reference user switches engines by replacing
  * `python3 MODIS_Aggregation_Local.py` with `runMain graft.GraftCli` —
  * same argument order, same bracketed literals, same config CSVs, same
  * `<prefix>.A{yyyy}{doy}-{yyyy}{doy}.h5` output name, same errors:
  * wrong arg count, non-dividing grid size, existing output file.
  *
  * Faithful parse rules (each cites the reference line):
  *   - polygon `[lower lat, upper lat, left lon, right lon]` with the
  *     brackets stripped (`:474`); grid `[latGap, lonGap]` (`:475`,
  *     `gap_x, gap_y = grid[1], grid[0]` `:527`); sampling `[n]` (`:473`);
  *   - seven 1/0 switches in reference order min/max/mean/count/std/hist/
  *     jhist (`:482-483`); the joint-histogram CSV is read only when the
  *     jhist switch is 1 (`:497-502`);
  *   - data_path.csv's two whitespace sections give input dirs and the
  *     output (dir, prefix) (`:508-515`);
  *   - the date range expands day by day; the END day contributes the
  *     3-hour spill into the next day (`:588-601`), handled by
  *     [[ModisEngine.rangeL3]]'s `(dEnd, dEnd+1)` day-definition window;
  *   - output file `prefix.A{y0}{doy0:03d}-{y1}{doy1:03d}.h5` where the
  *     pair is the END day and its spill day, with year rollover exactly
  *     as the reference computes it (`:592-601`, `:612`); an existing
  *     output aborts BEFORE any compute (`:613-617`).
  *
  * One deployment difference, documented in SURVEY §7.3: granule bytes.
  * The reference reads HDF4 granules (none exist in its repo —
  * `.MISSING_LARGE_BLOBS`); this engine reads the pixel-frame parquet the
  * HDF->Parquet conversion contract produces. `<data dir>` must therefore
  * hold the pixel parquet; everything else is argv-identical.
  */
object GraftCli {

  /** Parsed CLI: the job config plus paths and the derived date window.
    * `format` selects the input mode: `"parquet"` (default — the
    * HDF->Parquet conversion contract's pixel frame at `<data dir>`) or
    * `"granule"` (the [[graft.sources.GranuleSource]] DSv2 source driven
    * end to end: catalog -> scan -> L3 -> `.h5`).
    */
  final case class Cli(
      cfg: JobConfig,
      dataDir: String,
      outDir: String,
      outPrefix: String,
      start: LocalDate,
      end: LocalDate,
      format: String = "parquet") {
    /** END day + spill day, with the reference's year-rollover rule. */
    def l3Name: String = {
      val doyEnd = end.getDayOfYear
      val (y1, d1) =
        if (doyEnd + 1 > end.lengthOfYear) (end.getYear - 1,
          LocalDate.of(end.getYear - 1, 12, 31).getDayOfYear)
        else (end.getYear, doyEnd + 1)
      f"$outPrefix.A${end.getYear}%04d$doyEnd%03d-$y1%04d$d1%03d.h5"
    }
  }

  private def stripBrackets(s: String): String = {
    require(s.startsWith("[") && s.endsWith("]"),
      s"expected a bracketed literal like [a,b], got '$s'")
    s.substring(1, s.length - 1)
  }

  private def parseDate(s: String): LocalDate = {
    val p = s.split("/").map(_.toInt)
    require(p.length == 3, s"expected yyyy/mm/dd, got '$s'")
    LocalDate.of(p(0), p(1), p(2))
  }

  /** Parse the reference argv (15 args, 16 with the joint CSV). A
    * leading `--format granule|parquet` pair (an engine extension, not
    * reference argv) is stripped before the positional parse.
    */
  def parse(rawArgs: Array[String]): Cli = {
    val (format, args) =
      if (rawArgs.length >= 2 && rawArgs(0) == "--format") {
        require(rawArgs(1) == "parquet" || rawArgs(1) == "granule",
          s"--format must be parquet|granule, got '${rawArgs(1)}'")
        (rawArgs(1), rawArgs.drop(2))
      } else ("parquet", rawArgs)
    // the reference checks len(sys.argv) == 16|17 INCLUDING the program
    // name (:459), i.e. it requires 15|16 real args — the jhist-off form
    // still passes a (unused) joint-CSV slot. Accepting 14 args with the
    // joint CSV omitted is a deliberate relaxation: every valid reference
    // invocation still parses, the 14-arg form is just more convenient
    require(args.length == 14 || args.length == 15,
      "wrong user input: expected <data_path.csv> <start> <end> " +
        "[lat0,lat1,lon0,lon1] [latGap,lonGap] [sampling] " +
        "<7x 1/0 switches> <var csv> [<jhist csv>] " +
        s"(got ${args.length} args)")
    val poly = stripBrackets(args(3)).split(",").map(_.trim.toInt)
    require(poly.length == 4, s"polygon needs 4 bounds, got ${poly.length}")
    val grid = stripBrackets(args(4)).split(",").map(_.trim.toDouble)
    require(grid.length == 2, s"grid needs 2 gaps, got ${grid.length}")
    val sampling = stripBrackets(args(5)).trim.toInt
    require(sampling > 0, s"sampling must be > 0, got $sampling")
    val sw = args.slice(6, 13).map { s =>
      require(s == "0" || s == "1", s"stat switch must be 1/0, got '$s'")
      s == "1"
    }
    val stats = StatSwitches(
      min = sw(0), max = sw(1), mean = sw(2), count = sw(3), std = sw(4),
      hist = sw(5), jhist = sw(6))

    val varsBase = ConfigScans.parseVariables(ConfigScans.readLines(args(13)))
    val vars =
      if (stats.jhist) {
        require(args.length == 15,
          "joint-histogram switch is 1 but no joint CSV was given")
        ConfigScans.parseJointSpecs(ConfigScans.readLines(args(14)), varsBase)
      } else varsBase

    val ((dataDir, _), (_, _), (outDir, outPrefix)) =
      ConfigScans.parseDataPaths(ConfigScans.readLines(args(0)))

    // GridSpec's constructor enforces the reference's divisibility abort
    // (`:524-530`): gaps must divide the region extent exactly
    val cfg = JobConfig(
      grid = GridSpec(
        Region(poly(0), poly(1), poly(2), poly(3)),
        latGap = grid(0), lonGap = grid(1)),
      stats = stats,
      vars = vars,
      sampling = sampling)
    Cli(cfg, dataDir, outDir, outPrefix, parseDate(args(1)), parseDate(args(2)),
      format)
  }

  /** Granule ids of the reference's date window for the DSv2 source:
    * every hour of each day in [start, end] plus ALL 24 hours of the
    * spill day. The reference's shell glob selects spill hours 0-2 at
    * file-list time (`aggregate_functions.py:588-601`); here the SAME
    * selection happens at PLANNING time — [[ModisEngine.rangeL3]]'s
    * day/hour predicate is pushed into the source, which prunes the
    * spill day's other 21 granule partitions before any task runs
    * (granule-grade partition pruning through the reference's own argv
    * surface; GraftCliSpec pins the pruned partition count).
    */
  def granuleIds(start: LocalDate, end: LocalDate): Seq[String] = {
    val days = Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(end.plusDays(1))).toSeq
    for { d <- days; h <- 0 until 24 }
      yield f"A${d.getYear}%04d${d.getDayOfYear}%03d.$h%02d05"
  }

  /** Run the parsed job on an existing session: read the pixel parquet,
    * aggregate the date range in one pass, write the `.h5`. Returns the
    * written path.
    */
  def run(spark: SparkSession, cli: Cli): String = {
    val outPath = new java.io.File(cli.outDir, cli.l3Name).getPath
    // reference STEP 6 (`:613-617`): abort on an existing output BEFORE
    // any compute — the parquet read below already starts a Spark job
    L3Writer.requireAbsent(outPath)
    require(cli.start.getYear == cli.end.getYear,
      "date ranges crossing a year boundary are not expressible in the " +
        "reference's day-of-year window either")
    val pixels = cli.format match {
      case "granule" =>
        // DSv2 end to end; granule dimensions via the same env knobs the
        // scale bench uses (64x64 default — the synthetic decode's size)
        spark.read.format("graft.sources.GranuleSource")
          .option("granules", granuleIds(cli.start, cli.end).mkString(","))
          .option("rows", sys.env.getOrElse("SPARK_GRAFT_GRANULE_ROWS", "64"))
          .option("cols", sys.env.getOrElse("SPARK_GRAFT_GRANULE_COLS", "64"))
          .load()
          .withColumn("cm_flag",
            graft.expr.GridExprs.cloudMaskFlag(org.apache.spark.sql.functions.col("cm_byte")))
      case _ => spark.read.parquet(cli.dataDir)
    }
    val grid = ModisEngine.rangeL3(
      pixels, cli.cfg, cli.start.getDayOfYear, cli.end.getDayOfYear)
    new java.io.File(cli.outDir).mkdirs()
    L3Writer.writeH5(grid, cli.cfg, outPath)
    outPath
  }

  def main(args: Array[String]): Unit = {
    val cli = parse(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val out = run(spark, cli)
      println(s"[graft-cli] $out Saved!") // reference `:759` close-out line
    } finally spark.stop()
  }
}
