package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.GridAggregation
import graft.model._

class GranuleSourceSpec extends SparkSpec {
  import spark.implicits._

  private def read(granules: String, rows: Int = 8, cols: Int = 8) =
    spark.read.format("graft.sources.GranuleSource")
      .option("granules", granules)
      .option("rows", rows.toString).option("cols", cols.toString)
      .load()

  test("one partition per granule; rows x cols pixels each") {
    val df = read("A2008001.0005,A2008001.0100,A2008002.0200", rows = 4, cols = 6)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3 * 4 * 6)
    val perGranule = df.groupBy($"granule_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGranule.values.forall(_ == 24))
    assert(perGranule.keySet ==
      Set("A2008001.0005", "A2008001.0100", "A2008002.0200"))
  }

  test("filename metadata columns decode from the granule id") {
    val df = read("A2008123.1430", rows = 2, cols = 2)
    val r = df.select($"day_of_year", $"hour").distinct().collect()
    assert(r.length == 1 && r.head.getInt(0) == 123 && r.head.getInt(1) == 14)
  }

  test("a malformed granule id fails the scan's partition planning, naming the id") {
    def planningError(granules: String): IllegalArgumentException = {
      val e = intercept[Exception](read(granules).rdd.getNumPartitions)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae }
        .getOrElse(fail(s"no IllegalArgumentException in the cause chain of $e", e))
    }
    // a bad day of year, a bad hour, and an id with neither
    assert(planningError("A2008001.0005,A2008x01.0005").getMessage.contains("'A2008x01.0005'"))
    assert(planningError("A2008001.xx05").getMessage.contains("'A2008001.xx05'"))
    assert(planningError("A2008001.0005,garbage").getMessage.contains("'garbage'"))
    // well-formed ids still plan one partition each
    assert(read("A2008001.0005,A2008366.2355").rdd.getNumPartitions == 2)
  }

  test("column pruning reaches the scan") {
    val df = read("A2008001.0005").select($"lat", $"lon")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("pruned=lat,lon"), s"scan was: $scan")
  }

  test("granule-grade filters prune whole partitions at planning") {
    // day_of_year/hour/granule_id predicates are filename-decidable:
    // out-of-window granules never become tasks
    val df = read("A2008001.0005,A2008001.0100,A2008002.0200,A2008003.1200")
      .filter($"day_of_year" === 1)
    assert(df.rdd.getNumPartitions == 2, "expected 2 surviving granules")
    assert(df.count() == 2 * 64)
    val hr = read("A2008001.0005,A2008001.0100,A2008002.0200")
      .filter($"hour" < 2)
    assert(hr.rdd.getNumPartitions == 2) // 0005 (h0) and 0100 (h1)
  }

  test("pushed filters appear in the scan description; results unchanged") {
    val df = read("A2008001.0005,A2008002.0200")
      .filter($"lat" > 0.0 && $"day_of_year" === 1)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    val pushed = scan.substring(scan.indexOf("PushedFilters"))
    // granule-grade predicates push; pixel predicates are Spark's alone
    assert(pushed.contains("day_of_year") && !pushed.contains("lat"), s"scan was: $scan")
    val unpushed = read("A2008001.0005,A2008002.0200").collect()
      .filter(r => r.getDouble(5) > 0.0 && r.getInt(1) == 1)
    assert(df.count() == unpushed.length)
  }

  test("nullable-column predicates never wrongly skip at the reader") {
    val base = read("A2008001.0100")
    val viaSource = base.filter($"Cloud_Top_Pressure".isNull).count()
    val viaSpark = base.collect().count(_.isNullAt(8))
    assert(viaSource == viaSpark)
    val gt = base.filter($"Cloud_Top_Pressure" > 500.0).count()
    val gtSpark = base.collect().count(r => !r.isNullAt(8) && r.getDouble(8) > 500.0)
    assert(gt == gtSpark)
  }

  test("deterministic content: same granule -> identical pixels") {
    val a = read("A2008001.0005").collect().map(_.toSeq.toVector).toSet
    val b = read("A2008001.0005").collect().map(_.toSeq.toVector).toSet
    assert(a == b && a.size == 8 * 8)
  }

  test("source feeds the grid pipeline end to end") {
    val pixels = read("A2008001.0005,A2008001.1200", rows = 16, cols = 16)
      .withColumn("cm_flag", graft.expr.GridExprs.cloudMaskFlag($"cm_byte"))
    val cfg = JobConfig(
      grid = GridSpec(Region(-90, 90, -180, 180), 45.0, 45.0),
      vars = Seq(VarSpec("Cloud_Top_Pressure")))
    val out = GridAggregation.aggregate(pixels, cfg)
    assert(out.count() > 0)
    val counts = out.agg(sum($"Cloud_Top_Pressure_Pixel_Counts")).as[Long].head()
    // 512 pixels minus ~2% synthesized nulls
    assert(counts > 450 && counts <= 512)
  }
}
