package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.agg.HistogramFunctions
import graft.agg.StatsPlan._
import graft.model._

/** Differential test of the L3 cell aggregate against the Catalyst
  * formulation it replaced — built-in min/max/sum/count, `hist1d`/`hist2d`
  * and the two-level cloud-fraction `groupBy` — over pixels full of the
  * values that break aggregates: NULL, NaN, +-Inf, +-0.0, out-of-range
  * histogram values and all-NULL cells, with string, long and NULL granule
  * ids. Counts, histograms, min/max and the cloud fraction must be equal;
  * Mean and Standard_Deviation (summed in another order) within rel 1e-12.
  */
class CellAggregateSpec extends SparkSpec {
  import spark.implicits._

  private val grid = GridSpec(Region(0, 12, 0, 12), 2.0, 3.0) // 6 x 4 cells

  private val cfg = JobConfig(grid = grid, stats = StatSwitches.All, vars = Seq(
    VarSpec("a", binEdges = Seq(-50.0, 0.0, 10.0, 50.0),
      joint = Some(JointSpec("b", Seq(200.0, 250.0, 300.0)))),
    VarSpec("b", binEdges = Seq(200.0, 240.0, 280.0, 320.0)),
    VarSpec(GridAggregation.CloudFractionVar)))

  private val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    0.0, -0.0, -60.0, 60.0, 50.0, -50.0)

  /** Pixels: `a` mixes the special values into moderate numbers, `b` is
    * temperature-like with out-of-range values, both NULL at times; the
    * last column row of cells (lat in [10, 12)) has `a` NULL throughout.
    */
  private def pixels(n: Int, seed: Int): Seq[(Double, Double, Option[Double], Option[Double],
      Option[Double], Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val lat = rnd.nextDouble() * 13 - 0.5
      val lon = rnd.nextDouble() * 13 - 0.5
      val a =
        if (lat >= 10 || rnd.nextInt(10) == 0) None
        else if (rnd.nextInt(8) == 0) Some(special(rnd.nextInt(special.size)))
        else Some(rnd.nextDouble() * 40 - 5)
      val b = if (rnd.nextInt(9) == 0) None else Some(190 + rnd.nextDouble() * 140)
      val flag = rnd.nextInt(12) match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case k => Some((k % 6 - 1).toDouble) // -1 .. 4
      }
      (lat, lon, a, b, flag, rnd.nextInt(7).toLong)
    }
  }

  /** The Catalyst formulation of the same grid. */
  private def reference(px: DataFrame, cfg: JobConfig): DataFrame = {
    val cells = GridAggregation.withCell(px, cfg)
    val vars = cfg.vars.filterNot(_.name == GridAggregation.CloudFractionVar)
    val aggs = vars.flatMap { v =>
      val c = $"${v.name}"
      Seq(min(c).as(s"${v.name}_Minimum"), max(c).as(s"${v.name}_Maximum"),
        sum(c).as(s"${v.name}__sum"), count(c).as(s"${v.name}_Pixel_Counts"),
        sum(c * c).as(s"${v.name}__sumsq")) ++
        (if (v.binEdges.nonEmpty)
          Seq(HistogramFunctions.histogram1d(c, v.binEdges).as(s"${v.name}_Histogram_Counts"))
        else Nil) ++
        v.joint.map(j => HistogramFunctions.histogram2d(c, $"${j.jointVar}", v.binEdges,
          j.jointEdges).as(s"${v.name}_Jhisto_vs_${j.jointVar}")).toSeq
    }
    val stats = vars.foldLeft(cells.groupBy($"cell").agg(aggs.head, aggs.tail: _*)) { (df, v) =>
      val mean = col(s"${v.name}__sum") / col(s"${v.name}_Pixel_Counts")
      df.withColumn(s"${v.name}_Mean", mean)
        .withColumn(s"${v.name}_Standard_Deviation",
          sqrt(col(s"${v.name}__sumsq") / col(s"${v.name}_Pixel_Counts") - mean * mean))
    }
    val cf = cells.groupBy($"cell", $"granule_id")
      .agg(sum(when($"cm_flag".between(0, 3), 1L).otherwise(0L)).as("tot"),
        sum(when($"cm_flag".between(0, 1), 1L).otherwise(0L)).as("cld"))
      .groupBy($"cell")
      .agg(min($"cld" / nullif($"tot", lit(0L))).as("cloud_fraction_Minimum"),
        max($"cld" / nullif($"tot", lit(0L))).as("cloud_fraction_Maximum"),
        (sum($"cld") / nullif(sum($"tot"), lit(0L))).as("cloud_fraction_Mean"),
        sum($"tot").as("cloud_fraction_Pixel_Counts"),
        count(when($"tot" > 0, 1)).as("GRID_Counts"))
    stats.join(cf, "cell")
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  /** Every layout column of every cell: exact, or rel 1e-12 for Mean/Std. */
  private def assertSame(got: DataFrame, want: DataFrame, cfg: JobConfig, what: String): Unit = {
    val g = got.collect().map(r => r.getLong(0) -> r).toMap
    val w = want.collect().map(r => r.getAs[Long]("cell") -> r).toMap
    assert(g.keySet == w.keySet, s"$what: cells differ")
    for (c <- GridAggregation.layout(cfg); (cell, gr) <- g) {
      val wr = w(cell)
      val (x, y) = (gr.getAs[Any](c.name), wr.getAs[Any](c.name))
      def msg = s"$what: ${c.name} at cell $cell: $x vs $y"
      (c.stat, x, y) match {
        case (_, null, null) =>
        case (Mean | StandardDeviation, a: Double, b: Double) =>
          if (a.isNaN || a.isInfinite || b.isNaN || b.isInfinite) assert(bits(a) == bits(b), msg)
          else assert(math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b)), msg)
        case (_, a: Double, b: Double) => assert(bits(a) == bits(b), msg)
        case _ => assert(x == y, msg) // longs, and histograms as nested ArraySeqs
      }
    }
  }

  private def idColumns: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "long" -> $"gid",
    "string" -> concat(lit("A2008001."), $"gid".cast("string")),
    "null" -> when($"gid" =!= 3, $"gid"))

  test("equals the Catalyst aggregates: special values, string/long/NULL ids, 1 and 8 partitions") {
    val base = pixels(6000, 17).toDF("lat", "lon", "a", "b", "cm_flag", "gid")
    for ((kind, id) <- idColumns; parts <- Seq(1, 8)) {
      val px = base.withColumn("granule_id", id).repartition(parts)
      assertSame(GridAggregation.aggregate(px, cfg), reference(px, cfg), cfg,
        s"$kind ids at $parts partitions")
    }
  }

  test("a cell with only NULL values keeps NULL statistics and zero counts") {
    val px = Seq[(Double, Double, Option[Double], Option[Double], Option[Double], String)](
      (1, 1, None, None, None, "g1"), (1, 1, None, Some(210.0), Some(-1.0), "g2"))
      .toDF("lat", "lon", "a", "b", "cm_flag", "granule_id")
    val r = GridAggregation.aggregate(px, cfg).collect().head
    for (s <- Seq("a_Minimum", "a_Maximum", "a_Mean", "a_Standard_Deviation",
      "cloud_fraction_Minimum", "cloud_fraction_Maximum", "cloud_fraction_Mean"))
      assert(r.isNullAt(r.fieldIndex(s)), s)
    assert(r.getAs[Long]("a_Pixel_Counts") == 0L && r.getAs[Long]("b_Pixel_Counts") == 1L)
    assert(r.getAs[Long]("GRID_Counts") == 0L)
    assert(r.getAs[Any]("a_Histogram_Counts") == Seq(0L, 0L, 0L))
    assert(r.getAs[Any]("a_Jhisto_vs_b") == Seq.fill(3)(Seq(0L, 0L)))
  }

  test("a task with more cells than the partial slot bound emits early and still merges exactly") {
    val fine = cfg.copy(grid = GridSpec(Region(0, 600, 0, 600), 1.0, 1.0),
      vars = Seq(VarSpec("a", binEdges = Seq(0.0, 0.5, 1.0)),
        VarSpec(GridAggregation.CloudFractionVar)))
    val px = spark.range(0, 300000, 1, 1).select(
      (rand(3) * 600).as("lat"), (rand(4) * 600).as("lon"), rand(5).as("a"),
      floor(rand(6) * 5 - 1).cast("double").as("cm_flag"), (col("id") % 3).as("granule_id"))
    val grid = GridAggregation.aggregate(px, fine)
    assertSame(grid, reference(px, fine), fine, "fine grid")
    // every executed node, through the adaptive plan and its query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val executed = nodes(grid.queryExecution.executedPlan)
    val cells = executed.collect { case f: CellFinalExec => f.metrics("numOutputRows").value }.sum
    val partial = executed.collect { case p: CellPartialExec => p.metrics("numOutputRows").value }.sum
    assert(cells > CellAggregateExec.PartialSlots, s"$cells cells in one task")
    assert(partial > cells, s"the partial emitted $partial rows for $cells cells: no early emit")
  }

  test("the L3 plan has no Catalyst aggregate: one partial, one cell exchange, one final") {
    val px = pixels(500, 3).toDF("lat", "lon", "a", "b", "cm_flag", "gid")
      .withColumn("granule_id", $"gid")
    val grid = GridAggregation.aggregate(px, cfg)
    grid.collect()
    val plan = grid.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    for (agg <- Seq("ObjectHashAggregate", "SortAggregate", "HashAggregate"))
      assert(!plan.contains(agg), s"$agg in the L3 plan:\n$plan")
    assert("CellPartial".r.findAllMatchIn(plan).size == 1 &&
      "CellFinal".r.findAllMatchIn(plan).size == 1, plan)
    assert("Exchange hashpartitioning\\(cell#".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("a final state larger than the task's execution memory fails naming the cells") {
    val conf = new org.apache.spark.SparkConf()
      .set("spark.testing.memory", (1L << 20).toString)
      .set("spark.testing.reservedMemory", "0")
    val tmm = new org.apache.spark.memory.TaskMemoryManager(
      org.apache.spark.memory.UnifiedMemoryManager(conf, 1), 0L)
    val spec = CellAggSpec(GridAggregation.layout(JobConfig(vars = Seq(VarSpec("a")))),
      cellInput = 0, varInputs = Map("a" -> 1), flagInput = -1, granuleInput = -1)
    val partial = new CellState(spec, (_, _) => ())
    (0 until 50000).foreach(c => partial.update(new GenericInternalRow(Array[Any](c.toLong, 1.0))))
    val mem = new StateMemory(tmm, 7)
    val fin = new CellState(spec, mem.reserve)
    val e = intercept[IllegalStateException] {
      (0 until partial.size).foreach { s =>
        val n = partial.encode(s)
        fin.merge(new GenericInternalRow(Array[Any](partial.cell(s),
          java.util.Arrays.copyOf(partial.buffer, n))))
      }
    }
    assert(e.getMessage.contains("spark.sql.shuffle.partitions (now 7)"), e.getMessage)
    assert(s"holds (\\d+) cells".r.findFirstMatchIn(e.getMessage).exists(_.group(1).toInt > 0),
      e.getMessage)
    mem.release()
    assert(mem.getUsed == 0L)
  }

  test("finalized writes every stat of a slot: histograms, NULL statistics, cloud fraction") {
    val spec = CellAggSpec(GridAggregation.layout(cfg), cellInput = 0,
      varInputs = Map("a" -> 1, "b" -> 2), flagInput = 3, granuleInput = 4)
    val st = new CellState(spec, (_, _) => ())
    def row(cell: Long, a: Any, b: Any, flag: Any, g: String) = new GenericInternalRow(
      Array[Any](cell, a, b, flag, org.apache.spark.unsafe.types.UTF8String.fromString(g)))
    // cell 7: two determined granules; cell 9: `a` all NULL, no determined pixel
    Seq(row(7L, 1.0, 210.0, 0.0, "g1"), row(7L, 3.0, 260.0, 2.0, "g1"),
      row(7L, -5.0, null, 3.0, "g2"), row(7L, null, 330.0, null, "g2"),
      row(9L, null, 250.0, 5.0, "g3"), row(9L, null, null, Double.NaN, "g3"))
      .foreach(st.update)
    def finalized(s: Int): Map[String, Any] = {
      val r = st.finalized(s)
      assert(r.numFields == 1 + spec.layout.size)
      spec.layout.zipWithIndex.map { case (c, k) =>
        val o = k + 1
        c.name -> (if (r.isNullAt(o)) null else c.stat match {
          case _: HistogramCounts => r.getArray(o).toLongArray.toSeq
          case _: JointHistogram =>
            val h = r.getArray(o)
            (0 until h.numElements()).map(x => h.getArray(x).toLongArray.toSeq)
          case _: Count => r.getLong(o)
          case _ => r.getDouble(o)
        })
      }.toMap + ("cell" -> r.getLong(0))
    }
    val aMean = (1.0 + 3.0 - 5.0) / 3
    val bMean = (210.0 + 260.0 + 330.0) / 3
    assert(finalized(0) == Map(
      "cell" -> 7L,
      "a_Minimum" -> -5.0, "a_Maximum" -> 3.0, "a_Mean" -> aMean, "a_Pixel_Counts" -> 3L,
      "a_Standard_Deviation" -> math.sqrt((1.0 + 9.0 + 25.0) / 3 - aMean * aMean),
      "a_Histogram_Counts" -> Seq(1L, 2L, 0L),
      "a_Jhisto_vs_b" -> Seq(Seq(0L, 0L), Seq(1L, 1L), Seq(0L, 0L)),
      "b_Minimum" -> 210.0, "b_Maximum" -> 330.0, "b_Mean" -> bMean, "b_Pixel_Counts" -> 3L,
      "b_Standard_Deviation" ->
        math.sqrt((210.0 * 210.0 + 260.0 * 260.0 + 330.0 * 330.0) / 3 - bMean * bMean),
      "b_Histogram_Counts" -> Seq(1L, 1L, 0L),
      // g1: 1 of 2 determined pixels cloudy, g2: 0 of 1
      "cloud_fraction_Minimum" -> 0.0, "cloud_fraction_Maximum" -> 0.5,
      "cloud_fraction_Mean" -> 1.0 / 3, "cloud_fraction_Pixel_Counts" -> 3L,
      "GRID_Counts" -> 2L))
    assert(finalized(1) == Map(
      "cell" -> 9L,
      "a_Minimum" -> null, "a_Maximum" -> null, "a_Mean" -> null, "a_Pixel_Counts" -> 0L,
      "a_Standard_Deviation" -> null, "a_Histogram_Counts" -> Seq(0L, 0L, 0L),
      "a_Jhisto_vs_b" -> Seq(Seq(0L, 0L), Seq(0L, 0L), Seq(0L, 0L)),
      "b_Minimum" -> 250.0, "b_Maximum" -> 250.0, "b_Mean" -> 250.0, "b_Pixel_Counts" -> 1L,
      "b_Standard_Deviation" -> 0.0, "b_Histogram_Counts" -> Seq(0L, 1L, 0L),
      "cloud_fraction_Minimum" -> null, "cloud_fraction_Maximum" -> null,
      "cloud_fraction_Mean" -> null, "cloud_fraction_Pixel_Counts" -> 0L, "GRID_Counts" -> 0L))
    // the row is reused: finalizing slot 0 again gives the same values
    assert(finalized(0)("a_Jhisto_vs_b") == Seq(Seq(0L, 0L), Seq(1L, 1L), Seq(0L, 0L)))
  }
}
