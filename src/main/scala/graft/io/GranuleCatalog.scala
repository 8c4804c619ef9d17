package graft.io

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.GridExprs

/** Granule-catalog construction: the reference's file-list scan (S1,
  * `aggregate_functions.py:55-97`) + data/geolocation pairing (J1, `:294`)
  * as a driver-side catalog DataFrame.
  *
  * Reference semantics reproduced:
  *   - a daily aggregate for day D scans granules of D plus the first
  *     [[GridExprs.ShiftHour]] hours of day D+1 (`:573-606`);
  *   - per (year, day-of-year, hour) the two product directories are
  *     globbed with prefix `<PREFIX>.AYYYYDDD.HH*`;
  *   - data and geolocation files are paired by their `AYYYYDDD.HHMM`
  *     acquisition key; an unpaired file on either side is a hard error
  *     (`:87-92` count-mismatch abort), surfaced here as the `unpaired`
  *     frame instead of a positional-zip surprise.
  *
  * The catalog is tiny (files, not pixels) — driver-side globbing + a
  * broadcast-size join is the right plan at any scale; the heavy lifting
  * stays in the pixel scan, which receives explicit path lists (Spark then
  * assigns file splits to tasks).
  */
object GranuleCatalog {

  /** Acquisition key `AYYYYDDD.HHMM` extracted from a granule filename
    * (reference `:289-291`).
    */
  private val keyRe = "\\.A(\\d{7})\\.(\\d{4})\\.".r

  def acquisitionKey(fileName: String): Option[(String, String)] =
    keyRe.findFirstMatchIn(fileName).map(m => (m.group(1), m.group(2)))

  /** (year, day-of-year, hour-prefix) triples covering [start, end] plus the
    * [[GridExprs.ShiftHour]] spill into the day after `end` (reference
    * `:573-604`: hours "00".."23" per day, then the extra early hours of
    * end+1).
    */
  def hourPrefixes(start: LocalDate, end: LocalDate): Seq[(Int, Int, String)] = {
    require(!end.isBefore(start), s"end $end before start $start")
    val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).toSeq
    val full = for {
      d <- days
      h <- 0 until 24
    } yield (d.getYear, d.getDayOfYear, f"$h%02d")
    val spillDay = end.plusDays(1)
    val spill = (0 until GridExprs.ShiftHour)
      .map(h => (spillDay.getYear, spillDay.getDayOfYear, f"$h%02d"))
    full ++ spill
  }

  /** Glob one product directory for all matching granules of the date
    * range: `<dir>/<prefix>YYYYDDD.HH*` per hour prefix (reference `:70-71`
    * shell `ls` per hour). Returns (path, doy-key, hhmm) rows.
    */
  def globProduct(
      spark: SparkSession,
      dir: String,
      prefix: String,
      start: LocalDate,
      end: LocalDate): Seq[(String, String, String)] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    hourPrefixes(start, end).flatMap { case (y, doy, hh) =>
      val pattern = new Path(dir, f"$prefix$y%04d$doy%03d.$hh*")
      val statuses = Option(fs.globStatus(pattern)).map(_.toSeq).getOrElse(Nil)
      statuses.flatMap { st =>
        acquisitionKey(st.getPath.getName)
          .map { case (adoy, hhmm) => (st.getPath.toString, adoy, hhmm) }
      }
    }
  }

  /** Paired catalog: inner equi-join of the data-product and geolocation
    * listings on the acquisition key. `strict=true` errors on ANY unpaired
    * granule on either side (stronger than the reference's count-equality
    * check, which a symmetric mismatch slips past).
    */
  def pairedCatalog(
      spark: SparkSession,
      dataDir: String, dataPrefix: String,
      geoDir: String, geoPrefix: String,
      start: LocalDate, end: LocalDate,
      strict: Boolean = true): DataFrame = {
    import spark.implicits._
    val data = globProduct(spark, dataDir, dataPrefix, start, end)
      .toDF("data_path", "adoy", "hhmm")
    val geo = globProduct(spark, geoDir, geoPrefix, start, end)
      .toDF("geo_path", "adoy", "hhmm")
    if (strict) {
      // pair-wise validation, not just count equality — a data granule
      // missing its geo twin AND a geo granule missing its data twin would
      // cancel out in a count compare and then silently vanish in the join
      val keys = Seq("adoy", "hhmm")
      val dataOrphans = data.join(geo, keys, "left_anti").count()
      val geoOrphans = geo.join(data, keys, "left_anti").count()
      require(dataOrphans == 0 && geoOrphans == 0,
        s"unpaired granules: $dataOrphans data-only, $geoOrphans geo-only " +
          "(reference aborts on unpaired files)")
    }
    data.join(geo, Seq("adoy", "hhmm"), "inner")
      .select(
        concat(lit("A"), col("adoy"), lit("."), col("hhmm")).as("granule_id"),
        (substring(col("adoy"), 5, 3).cast("int")).as("day_of_year"),
        (substring(col("hhmm"), 1, 2).cast("int")).as("hour"),
        col("data_path"), col("geo_path"))
  }
}
