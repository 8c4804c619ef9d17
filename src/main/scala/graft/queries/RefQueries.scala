package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.Binning
import graft.engine.{GridAggregation, ModisEngine}
import graft.expr.GridExprs
import graft.io.PixelSource
import graft.model._

/** The SURVEY §2 operator inventory, exercised over the driver's TPC-H-ish
  * parquet tables so every operator has a DuckDB-checkable oracle.
  *
  * MODIS analog mapping (lineitem as the pixel table):
  *   lat := l_quantity (1..50), lon := l_discount*100 (0..10),
  *   granule_id := l_orderkey, cloud-mask byte := l_linenumber,
  *   measured variable := l_quantity / l_extendedprice.
  *   Grid: region (0,50)x(0,10), gaps 5x1 -> 10x10 = 100 cells.
  *
  * Every query is a plain DataFrame plan (no UDFs except the histogram
  * TypedImperativeAggregates), so filters/projections push into the parquet
  * scan and aggregation runs partial+final.
  */
object RefQueries {

  /** The lineitem-as-pixels grid. */
  val grid: GridSpec = GridSpec(Region(0, 50, 0, 10), 5.0, 1.0)

  val histEdgesQty: Seq[Double] = Seq(1, 10, 20, 25, 30, 40, 50)
  val histEdgesDisc: Seq[Double] = Seq(0, 2, 4, 6, 8, 10)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The one place the events table's `ts` physical encoding is normalized
    * (FIXTURES.md "events timestamp encoding"). The driver has shipped the
    * column as each of:
    *   - TIMESTAMP(NANOS), which Spark reads as a nanosecond LONG
    *     (`spark.sql.legacy.parquet.nanosAsLong=true`, set in Verify/Bench
    *     sessions) — integer `div` keeps the ns->us truncation exact (a
    *     double division would lose precision at 1.7e18 ns);
    *   - TIMESTAMP_NTZ — the session timezone is pinned UTC, so casting to
    *     TimestampType preserves the instant while restoring the full
    *     timestamp function surface (`session_window`, `unix_micros`, ...
    *     reject NTZ inputs);
    *   - plain TIMESTAMP, passed through.
    * Every events-table query MUST read through here, never `t(_,_,
    * "events")` directly, so a testdata re-encode can't strand queries
    * (round-3 verdict, q_session_window).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Pixel-frame analog: lineitem + lat/lon/granule/cm_flag derivations
    * (reference scan S3 output shape, FIXTURES §1).
    */
  def pixels(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("lat", col("l_quantity"))
      .withColumn("lon", col("l_discount") * 100)
      .withColumn("granule_id", col("l_orderkey"))
      .withColumn("cm_flag", GridExprs.cloudMaskFlag(col("l_linenumber")))

  /** Matching DuckDB base subquery (the oracle's version of [[pixels]] after
    * region filter + cell derivation).
    */
  val baseSql: String =
    """(SELECT l.*, l_quantity AS lat, l_discount*100 AS lon,
      |  CAST(floor(l_quantity/5) AS BIGINT)*10 + CAST(floor(l_discount*100) AS BIGINT) AS cell,
      |  l_orderkey AS granule_id,
      |  CASE WHEN (l_linenumber & 1) = 0 THEN -1 ELSE (l_linenumber & 6) >> 1 END AS cm_flag
      | FROM lineitem l
      | WHERE l_quantity > 0 AND l_quantity < 50
      |   AND l_discount*100 > 0 AND l_discount*100 < 10) base""".stripMargin

  private def cfg(stats: StatSwitches, vars: VarSpec*): JobConfig =
    JobConfig(grid = grid, stats = stats, vars = vars)

  /** Every statistic switched off: the histogram queries switch theirs on. */
  private val statsOff =
    StatSwitches(min = false, max = false, mean = false, count = false, std = false)

  // ---------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1-A5: the flagship per-cell multi-statistic aggregation.
    "q_grid_stats" -> ((s, dir) =>
      GridAggregation.aggregate(
        pixels(s, dir),
        cfg(StatSwitches(), VarSpec("l_quantity")))),

    // Same stats over a non-integral variable. Floating sums are
    // merge-order-dependent (non-deterministic across partitionings, and
    // engine-vs-oracle), so accumulate in exact fixed point: prices as
    // integer cents -> long sums are exact, finalize derives mean/std from
    // identical integers on both sides. This is also the scalable answer to
    // SURVEY §7.4's float-reproducibility risk at 1000-executor merges.
    "q_grid_stats_price" -> ((s, dir) => {
      val base = GridAggregation.withCell(pixels(s, dir), cfg(StatSwitches()))
        .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      val sc = sum(col("cents")).cast("double")
      val cnt = count(col("cents"))
      val meanC = sc / cnt
      base.groupBy(col("cell")).agg(
        min(col("l_extendedprice")).as("price_Minimum"),
        max(col("l_extendedprice")).as("price_Maximum"),
        (meanC / 100).as("price_Mean"),
        cnt.as("price_Pixel_Counts"),
        (sqrt(sum(col("cents") * col("cents")).cast("double") / cnt - meanC * meanC) / 100)
          .as("price_Standard_Deviation"))
    }),

    // P2: cloud-mask bitfield decode (status bit + 2-bit flag).
    "q_p2_bitfield" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        GridExprs.bitsStripping(1, 2, col("l_linenumber")).as("mask_bits"),
        GridExprs.cloudMaskFlag(col("l_linenumber")).as("cm_flag"))),

    // P3: strict bounding-box region filter.
    "q_p3_region" -> ((s, dir) =>
      pixels(s, dir)
        .filter(GridExprs.inRegion(col("lat"), col("lon"), grid.region))
        .select(col("l_orderkey"), col("l_linenumber"), col("lat"), col("lon"))),

    // P5: grid-cell key derivation + in-grid guard.
    "q_p5_cellid" -> ((s, dir) =>
      GridAggregation.withCell(pixels(s, dir), cfg(StatSwitches()))
        .select(col("l_orderkey"), col("l_linenumber"), col("cell"))),

    // P6: systematic (deterministic) decimation, row%n==2 && col%n==3.
    "q_p6_sampling" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(GridExprs.systematicSample(col("l_orderkey"), col("l_linenumber"), 4))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // P7: granule filename metadata extraction (day-of-year + hour).
    "q_p7_metadata" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val gname = format_string(
        "MYD06_L2.A%04d%03d.%02d%02d",
        year(col("o_orderdate")), dayofyear(col("o_orderdate")),
        col("o_orderkey") % 24, (col("o_orderkey") * 7) % 60)
      o.select(
        col("o_orderkey"),
        gname.as("granule"),
        GridExprs.granuleDayOfYear(gname).as("doy"),
        GridExprs.granuleHour(gname).as("hour"))
    }),

    // P4: "definition of day" null-out on the events stream analog
    // (day D = Jan 1, day D+1 = Jan 2; lon analog spans [-245, 245]).
    "q_p4_day_definition" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("doy", dayofyear(col("ts")))
        .withColumn("hr", hour(col("ts")))
        .withColumn("lon", col("value") - 245)
        .filter(col("doy") <= 2)
      e.select(
        col("event_id"), col("doy"), col("hr"), col("lon"),
        GridExprs.dayDefinitionNullOut(
          col("value"), col("doy"), col("hr"), col("lon"), d0 = 1, d1 = 2)
          .as("value_corrected"))
    }),

    // A6: 1-D fixed-bin histogram — the cell aggregate with only the
    // histogram switch on, its per-cell bin array exploded to one row per
    // non-empty (cell, bin).
    "q_a6_histogram" -> ((s, dir) =>
      GridAggregation.aggregate(pixels(s, dir),
        cfg(statsOff.copy(hist = true), VarSpec("l_quantity", histEdgesQty)))
        .select(col("cell"),
          posexplode(col("l_quantity_Histogram_Counts")).as(Seq("bin", "bin_count")))
        .filter(col("bin_count") > 0)),

    // A7: 2-D joint histogram, the same plan, exploded per (cell, xbin, ybin).
    "q_a7_jhist" -> ((s, dir) =>
      GridAggregation.aggregate(pixels(s, dir),
        cfg(statsOff.copy(jhist = true),
          VarSpec("l_quantity", histEdgesQty, Some(JointSpec("lon", histEdgesDisc)))))
        .select(col("cell"), posexplode(col("l_quantity_Jhisto_vs_lon")).as(Seq("xbin", "ys")))
        .select(col("cell"), col("xbin"), posexplode(col("ys")).as(Seq("ybin", "bin_count")))
        .filter(col("bin_count") > 0)),

    // A6 quirk-parity variant: reference skips histogram accumulation for
    // granule-cells with exactly one pixel (aggregate_functions.py:259-260).
    "q_a6_hist_quirk" -> ((s, dir) =>
      GridAggregation.histogramQuirk(
        pixels(s, dir), cfg(StatSwitches()), "l_quantity", histEdgesQty)),

    // A8: GRID_Counts — granules contributing >=1 non-null pixel per cell.
    "q_a8_grid_counts" -> ((s, dir) =>
      GridAggregation.gridCounts(
        pixels(s, dir), cfg(StatSwitches()), "l_extendedprice")),

    // A9: cloud-fraction two-level aggregation.
    "q_a9_cloud_fraction" -> ((s, dir) =>
      GridAggregation.cloudFraction(pixels(s, dir), cfg(StatSwitches()))),

    // A11: legacy fixed-grid cloud-fraction pipeline (cfa.py analog):
    // cloudy = decoded 2-bit flag == 0.
    "q_a11_legacy_cf" -> ((s, dir) =>
      GridAggregation.withCell(pixels(s, dir), cfg(StatSwitches()))
        .groupBy(col("cell"))
        .agg(
          count(lit(1)).as("total_pix"),
          count(when(GridExprs.bitsStripping(1, 2, col("l_linenumber")) === 0, 1))
            .as("cloud_pix"))
        .withColumn("cf", col("cloud_pix") / col("total_pix"))),

    // S2/S3 as a native DataSource V2: granule -> pixel-rows scan with
    // partition-per-granule planning and column pruning. Emits the RAW
    // decoded pixel frame: every value is a row-local chain of exact
    // integer mixing plus correctly-rounded IEEE ops, so the DuckDB
    // oracle replays the identical arithmetic (seed literals + split-
    // multiplier 64-bit modular splitmix) and hash-matches bit for bit —
    // the one custom-source query with a full content oracle. (The
    // aggregation PATH over this source is exercised by GranuleSourceSpec
    // + QueryPlanSpec; an aggregated form would not be hash-portable:
    // float mean/std over non-integral doubles is summation-order-
    // dependent across engines.)
    "q_granule_source" -> ((s, _) =>
      s.read.format("graft.sources.GranuleSource")
        .option("granules", "A2008001.0005,A2008001.0100,A2008001.1200")
        .option("rows", "64").option("cols", "64").load()),

    // A11/P8 exact legacy semantics: fixed 180x360 grid, truncation
    // indexing with clamp at 0, dense output with the 0/1 guard.
    "q_a11_dense" -> ((s, dir) =>
      graft.engine.LegacyCfa.aggregate(s,
        t(s, dir, "lineitem").select(
          (col("l_quantity") - 25).as("lat"),
          (col("l_discount") * 1000 - 50).as("lon"),
          col("l_linenumber").as("cm_byte")))),

    // S2: packed-variable decode, HDF4 convention — fill -> NULL, then
    // `(raw - add_offset) * scale_factor` (reference
    // `aggregate_functions.py:113-114,137-138`). Two variables: one whose
    // fill value occurs in the data (fill -> NULL path), one that never
    // fills (pure transform path).
    "q_s2_decode" -> ((s, dir) => {
      val a = PixelSource.VarAttrs(units = "hPa", longName = "pressure analog",
        fillValue = 4.0, scaleFactor = 0.1, addOffset = 2.0)
      val b = PixelSource.VarAttrs(units = "K", longName = "temperature analog",
        fillValue = -9999.0, scaleFactor = 0.01, addOffset = -15000.0)
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        PixelSource.decodePacked(col("l_linenumber").cast("double"), a)
          .as("decoded_a"),
        PixelSource.decodePacked((col("l_partkey") % 1000).cast("double"), b)
          .as("decoded_b"))
    }),

    // End-to-end multi-day (monthly) pipeline: catalog day-range filter ->
    // day-definition null-out -> full per-cell statistics in ONE pass
    // (reference Example 2). Day-of-year from the shipdate, granule hour
    // from the order key; window = doy [32, 59] + 3h spill of doy 60.
    "q_monthly_e2e" -> ((s, dir) => {
      val px = pixels(s, dir)
        .withColumn("day_of_year", dayofyear(col("l_shipdate")))
        .withColumn("hour", col("l_orderkey") % 24)
      ModisEngine.rangeL3(
        px, cfg(StatSwitches(), VarSpec("l_quantity")), dStart = 32, dEnd = 59)
    }),

    // S1: date-range partition discovery (files-per-day analog).
    "q_s1_catalog" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_files"))),

    // J1: catalog pairing equi-join (small side broadcast).
    "q_j1_pairing" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"))
    }),

    // S4: L3 grid finalize — flat cell id -> (lat_idx, lon_idx, centers).
    "q_s4_l3_grid" -> ((s, dir) => {
      val a = GridAggregation.aggregate(
        pixels(s, dir),
        cfg(StatSwitches(std = false), VarSpec("l_quantity")))
      a.select((col("cell") +: GridExprs.gridIndexCols(col("cell"), cfg(StatSwitches()).grid)) :+
        col("l_quantity_Mean"): _*)
    })
  )

  // ------------------------------------------------------------- oracle SQL

  private val statsSqlQty: String =
    s"""SELECT cell,
       | min(l_quantity) AS l_quantity_Minimum,
       | max(l_quantity) AS l_quantity_Maximum,
       | sum(l_quantity)/count(l_quantity) AS l_quantity_Mean,
       | CAST(count(l_quantity) AS BIGINT) AS l_quantity_Pixel_Counts,
       | sqrt(sum(l_quantity*l_quantity)/count(l_quantity)
       |   - (sum(l_quantity)/count(l_quantity))*(sum(l_quantity)/count(l_quantity)))
       |   AS l_quantity_Standard_Deviation
       |FROM $baseSql GROUP BY cell""".stripMargin

  /** One 64-bit splitmix round (the GranuleSource decode stand-in,
    * `sources/GranuleSource.scala` `mix`) as DuckDB lateral-alias SQL,
    * entirely in HUGEINT mod 2^64: logical right shifts are integer
    * division by 2^k on the unsigned representation, and each 64x64
    * wrapping multiply splits the CONSTANT into 32-bit halves so no
    * intermediate exceeds INT128 ((a*bh mod 2^32)*2^32 + a*bl mod 2^64).
    * Emits select-list fragments defining `<pfx>m` (the mixed value) and
    * `<pfx>u` (the [0,1) unit double, (m >>> 11) / 2^53 — exact, since
    * m >>> 11 < 2^53 and the divisor is a power of two).
    */
  private[queries] def mixSql(pfx: String, input: String): String = {
    val M = "18446744073709551616" // 2^64
    s"""(($input) + 11400714819323198485) % $M AS ${pfx}z0,
       |  xor(${pfx}z0, ${pfx}z0 // 1073741824) AS ${pfx}y1,
       |  (((${pfx}y1 * 3210233709) % 4294967296) * 4294967296 + ${pfx}y1 * 484763065) % $M AS ${pfx}z1,
       |  xor(${pfx}z1, ${pfx}z1 // 134217728) AS ${pfx}y2,
       |  (((${pfx}y2 * 2496678331) % 4294967296) * 4294967296 + ${pfx}y2 * 321982955) % $M AS ${pfx}z2,
       |  xor(${pfx}z2, ${pfx}z2 // 2147483648) AS ${pfx}m,
       |  (${pfx}m // 2048)::DOUBLE / 9007199254740992.0 AS ${pfx}u""".stripMargin
  }

  /** DuckDB replay of the whole q_granule_source frame: seeds are the
    * three granule ids' Java hashCodes (masked to 32 bits) baked as
    * literals; `seed * 1315423911 + k` never wraps (seed < 2^32), so the
    * HUGEINT form equals the JVM's long arithmetic; every double is a
    * row-local chain of exact conversions and correctly-rounded IEEE
    * mul/sub — bit-identical across engines.
    */
  private val granuleSourceSql: String =
    s"""WITH g(gid, seed, doy, hr) AS (VALUES
       |  ('A2008001.0005', 4080383785::HUGEINT, 1, 0),
       |  ('A2008001.0100', 4080384741::HUGEINT, 1, 1),
       |  ('A2008001.1200', 4080415493::HUGEINT, 1, 12)),
       |px AS (SELECT gid, seed, doy, hr, t.range AS i
       |       FROM g CROSS JOIN range(0, 4096) t),
       |m AS (SELECT gid, doy, hr, i,
       |  ${mixSql("a", "seed * 1315423911 + i * 4")},
       |  ${mixSql("b", "seed * 1315423911 + i * 4 + 1")},
       |  ${mixSql("c", "seed * 1315423911 + i * 4 + 2")},
       |  ${mixSql("d", "seed * 1315423911 + i * 4 + 3")},
       |  ${mixSql("e", "seed + i")}
       |  FROM px)
       |SELECT gid AS granule_id, doy AS day_of_year, hr AS "hour",
       |  (i // 64)::INT AS "row", (i % 64)::INT AS col,
       |  au * 180.0 - 90.0 AS lat,
       |  bu * 360.0 - 180.0 AS lon,
       |  (em % 8)::INT AS cm_byte,
       |  CASE WHEN cu < 0.02 THEN NULL
       |       ELSE cu * 900.0 + 200.0 END AS Cloud_Top_Pressure,
       |  CASE WHEN du < 0.02 THEN NULL
       |       ELSE du * 130.0 + 180.0 END AS Cloud_Top_Temperature
       |FROM m""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_granule_source" -> granuleSourceSql,

    "q_grid_stats" -> statsSqlQty,

    "q_grid_stats_price" ->
      s"""SELECT cell,
         | min(l_extendedprice) AS price_Minimum,
         | max(l_extendedprice) AS price_Maximum,
         | CAST(sum(cents) AS DOUBLE)/count(cents)/100 AS price_Mean,
         | CAST(count(cents) AS BIGINT) AS price_Pixel_Counts,
         | sqrt(CAST(sum(cents*cents) AS DOUBLE)/count(cents)
         |   - (CAST(sum(cents) AS DOUBLE)/count(cents))*(CAST(sum(cents) AS DOUBLE)/count(cents)))/100
         |   AS price_Standard_Deviation
         |FROM (SELECT *, CAST(round(l_extendedprice*100) AS BIGINT) AS cents FROM $baseSql)
         |GROUP BY cell""".stripMargin,

    "q_p2_bitfield" ->
      """SELECT l_orderkey, l_linenumber,
        | (l_linenumber & 6) >> 1 AS mask_bits,
        | CASE WHEN (l_linenumber & 1) = 0 THEN -1 ELSE (l_linenumber & 6) >> 1 END AS cm_flag
        |FROM lineitem""".stripMargin,

    "q_p3_region" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS lat, l_discount*100 AS lon
        |FROM lineitem
        |WHERE l_quantity > 0 AND l_quantity < 50
        |  AND l_discount*100 > 0 AND l_discount*100 < 10""".stripMargin,

    "q_p5_cellid" ->
      s"SELECT l_orderkey, l_linenumber, cell FROM $baseSql",

    "q_p6_sampling" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey % 4 = 2 AND l_linenumber % 4 = 3""".stripMargin,

    "q_p7_metadata" ->
      """SELECT o_orderkey,
        | printf('MYD06_L2.A%04d%03d.%02d%02d',
        |   CAST(year(o_orderdate) AS BIGINT), CAST(dayofyear(o_orderdate) AS BIGINT),
        |   o_orderkey % 24, (o_orderkey * 7) % 60) AS granule,
        | CAST(regexp_extract(printf('MYD06_L2.A%04d%03d.%02d%02d',
        |   CAST(year(o_orderdate) AS BIGINT), CAST(dayofyear(o_orderdate) AS BIGINT),
        |   o_orderkey % 24, (o_orderkey * 7) % 60), '\.A\d{4}(\d{3})\.', 1) AS INTEGER) AS doy,
        | CAST(regexp_extract(printf('MYD06_L2.A%04d%03d.%02d%02d',
        |   CAST(year(o_orderdate) AS BIGINT), CAST(dayofyear(o_orderdate) AS BIGINT),
        |   o_orderkey % 24, (o_orderkey * 7) % 60), '\.A\d{7}\.(\d{2})\d{2}', 1) AS INTEGER) AS hour
        |FROM orders""".stripMargin,

    "q_p4_day_definition" ->
      """SELECT event_id,
        | CAST(dayofyear(ts) AS INTEGER) AS doy,
        | CAST(hour(ts) AS INTEGER) AS hr,
        | value - 245 AS lon,
        | CASE WHEN hour(ts) < 3 AND (
        |        (dayofyear(ts) = 1 AND ((value-245 >= -180 AND value-245 <= -90)
        |                             OR (value-245 >= 0 AND value-245 <= 90)))
        |     OR (dayofyear(ts) = 2 AND ((value-245 >= 90 AND value-245 <= 180)
        |                             OR (value-245 >= -90 AND value-245 <= 0))))
        |      THEN NULL ELSE value END AS value_corrected
        |FROM events WHERE dayofyear(ts) <= 2""".stripMargin,

    "q_a6_histogram" ->
      s"""SELECT cell, bin, CAST(count(*) AS BIGINT) AS bin_count
         |FROM (SELECT cell, ${Binning.binIndexSql("l_quantity", histEdgesQty)} AS bin
         |      FROM $baseSql)
         |WHERE bin IS NOT NULL GROUP BY cell, bin""".stripMargin,

    "q_a7_jhist" ->
      s"""SELECT cell, xbin, ybin, CAST(count(*) AS BIGINT) AS bin_count
         |FROM (SELECT cell,
         |        ${Binning.binIndexSql("l_quantity", histEdgesQty)} AS xbin,
         |        ${Binning.binIndexSql("lon", histEdgesDisc)} AS ybin
         |      FROM $baseSql)
         |WHERE xbin IS NOT NULL AND ybin IS NOT NULL GROUP BY cell, xbin, ybin""".stripMargin,

    "q_a6_hist_quirk" ->
      s"""WITH binned AS (
         |  SELECT cell, granule_id, ${Binning.binIndexSql("l_quantity", histEdgesQty)} AS bin
         |  FROM $baseSql),
         |pg AS (
         |  SELECT cell, granule_id, bin, count(*) AS n,
         |    sum(count(*)) OVER (PARTITION BY cell, granule_id) AS granule_pix
         |  FROM binned GROUP BY cell, granule_id, bin)
         |SELECT cell, bin, CAST(sum(n) AS BIGINT) AS bin_count
         |FROM pg WHERE granule_pix > 1 AND bin IS NOT NULL
         |GROUP BY cell, bin""".stripMargin,

    "q_a8_grid_counts" ->
      s"""SELECT cell, CAST(count(*) AS BIGINT) AS GRID_Counts
         |FROM (SELECT cell, granule_id FROM $baseSql
         |      WHERE l_extendedprice IS NOT NULL GROUP BY cell, granule_id)
         |GROUP BY cell""".stripMargin,

    "q_a9_cloud_fraction" ->
      s"""SELECT cell,
         | min(fraction) AS cloud_fraction_Minimum,
         | max(fraction) AS cloud_fraction_Maximum,
         | CAST(sum(cld_pix) AS DOUBLE)/CAST(nullif(sum(tot_pix), 0) AS DOUBLE) AS cloud_fraction_Mean,
         | CAST(sum(tot_pix) AS BIGINT) AS cloud_fraction_Pixel_Counts,
         | CAST(count(CASE WHEN tot_pix > 0 THEN 1 END) AS BIGINT) AS GRID_Counts
         |FROM (
         |  SELECT cell, granule_id,
         |    CAST(sum(CASE WHEN cm_flag >= 0 AND cm_flag <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS tot_pix,
         |    CAST(sum(CASE WHEN cm_flag >= 0 AND cm_flag <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS cld_pix,
         |    CAST(sum(CASE WHEN cm_flag >= 0 AND cm_flag <= 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / CAST(nullif(sum(CASE WHEN cm_flag >= 0 AND cm_flag <= 3 THEN 1 ELSE 0 END), 0) AS DOUBLE) AS fraction
         |  FROM $baseSql GROUP BY cell, granule_id)
         |GROUP BY cell""".stripMargin,

    "q_a11_legacy_cf" ->
      s"""SELECT cell,
         | CAST(count(*) AS BIGINT) AS total_pix,
         | CAST(count(CASE WHEN (l_linenumber & 6) >> 1 = 0 THEN 1 END) AS BIGINT) AS cloud_pix,
         | CAST(count(CASE WHEN (l_linenumber & 6) >> 1 = 0 THEN 1 END) AS DOUBLE)
         |   / CAST(count(*) AS DOUBLE) AS cf
         |FROM $baseSql GROUP BY cell""".stripMargin,

    // floor+clamp(0) below == the engine's truncate+clamp(0): they differ
    // only on arguments in (-1, 0), where both clamp to 0.
    "q_a11_dense" ->
      """WITH agged AS (
        |  SELECT CAST(greatest(floor(l_quantity - 25 + 89.5), 0) AS INTEGER) AS lat_idx,
        |         CAST(greatest(floor(l_discount*1000 - 50 + 179.5), 0) AS INTEGER) AS lon_idx,
        |         CAST(count(*) AS BIGINT) AS total_pix,
        |         CAST(count(CASE WHEN (l_linenumber & 6) >> 1 = 0 THEN 1 END) AS BIGINT) AS cloud_pix
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (SELECT CAST(i // 360 AS INTEGER) AS lat_idx, CAST(i % 360 AS INTEGER) AS lon_idx
        |      FROM range(0, 64800) t(i))
        |SELECT g.lat_idx, g.lon_idx,
        |  coalesce(total_pix, 0) AS total_pix,
        |  coalesce(cloud_pix, 0) AS cloud_pix,
        |  CAST(coalesce(cloud_pix, 0) AS DOUBLE) / greatest(coalesce(total_pix, 0), 1) AS cloud_fraction
        |FROM g LEFT JOIN agged ON g.lat_idx = agged.lat_idx AND g.lon_idx = agged.lon_idx""".stripMargin,

    "q_s2_decode" ->
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN CAST(l_linenumber AS DOUBLE) = 4.0 THEN NULL
        |      ELSE (CAST(l_linenumber AS DOUBLE) - 2.0) * 0.1 END AS decoded_a,
        | (CAST(l_partkey % 1000 AS DOUBLE) - (-15000.0)) * 0.01 AS decoded_b
        |FROM lineitem""".stripMargin,

    "q_monthly_e2e" ->
      s"""WITH rng AS (
         |  SELECT l_quantity, lon, cell,
         |    CAST(dayofyear(l_shipdate) AS INTEGER) AS doy,
         |    l_orderkey % 24 AS hr
         |  FROM $baseSql
         |  WHERE (dayofyear(l_shipdate) >= 32 AND dayofyear(l_shipdate) <= 59)
         |     OR (dayofyear(l_shipdate) = 60 AND l_orderkey % 24 < 3)),
         |corr AS (
         |  SELECT cell,
         |    CASE WHEN hr < 3 AND (
         |           (doy = 59 AND ((lon >= -180 AND lon <= -90) OR (lon >= 0 AND lon <= 90)))
         |        OR (doy = 60 AND ((lon >= 90 AND lon <= 180) OR (lon >= -90 AND lon <= 0))))
         |      THEN NULL ELSE l_quantity END AS v
         |  FROM rng)
         |SELECT cell,
         | min(v) AS l_quantity_Minimum,
         | max(v) AS l_quantity_Maximum,
         | sum(v)/count(v) AS l_quantity_Mean,
         | CAST(count(v) AS BIGINT) AS l_quantity_Pixel_Counts,
         | sqrt(sum(v*v)/count(v) - (sum(v)/count(v))*(sum(v)/count(v)))
         |   AS l_quantity_Standard_Deviation
         |FROM corr GROUP BY cell""".stripMargin,

    "q_s1_catalog" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS n_files
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,

    "q_j1_pairing" ->
      """SELECT o_orderkey, c_custkey, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q_s4_l3_grid" ->
      s"""SELECT cell,
         | CAST(cell // 10 AS INTEGER) AS lat_idx,
         | CAST(cell % 10 AS INTEGER) AS lon_idx,
         | (cell // 10) * 5.0 + 2.5 AS lat_center,
         | (cell % 10) * 1.0 + 0.5 AS lon_center,
         | sum(l_quantity)/count(l_quantity) AS l_quantity_Mean
         |FROM $baseSql GROUP BY cell""".stripMargin
  )
}
