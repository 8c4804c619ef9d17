package graft.agg

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Histogram aggregate correctness + the serial-vs-distributed differential
  * the reference never had (SURVEY §5): 1 partition and N partitions must
  * produce identical buffers, proving merge correctness.
  */
class HistogramAggSpec extends SparkSpec {
  import spark.implicits._

  private val edges = Seq(0.0, 1.0, 2.5, 5.0, 10.0)

  test("histogram1d matches a hand-computed grid") {
    val df = Seq(
      (1L, 0.5), (1L, 0.99), (1L, 1.0), (1L, 9.9), (1L, 10.0), // cell 1
      (2L, -1.0), (2L, 11.0), (2L, 2.5) //  cell 2: two out-of-range
    ).toDF("cell", "v")
    val out = df.groupBy($"cell")
      .agg(HistogramFunctions.histogram1d($"v", edges).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == Seq(2L, 1L, 0L, 2L)) // 10.0 in closed last bin
    assert(out(2L) == Seq(0L, 0L, 1L, 0L))
  }

  test("nulls and NaNs are skipped") {
    val df = Seq[(Long, java.lang.Double)](
      (1L, 0.5), (1L, null), (1L, Double.NaN), (1L, 3.0)
    ).toDF("cell", "v")
    val out = df.groupBy($"cell")
      .agg(HistogramFunctions.histogram1d($"v", edges).as("h"))
      .collect().map(r => r.getSeq[Long](1)).head
    assert(out == Seq(1L, 0L, 1L, 0L))
    assert(out.sum == 2L) // sum of counts == #valid in-range values
  }

  test("1-partition vs 8-partition results are identical (merge correctness)") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 5000).map(_ => (rnd.nextInt(20).toLong, rnd.nextDouble() * 12 - 1))
    def run(parts: Int) = rows.toDF("cell", "v").repartition(parts)
      .groupBy($"cell")
      .agg(HistogramFunctions.histogram1d($"v", edges).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(run(1) == run(8))
  }

  test("histogram2d matches hand-computed joint counts and skips half-null rows") {
    val yEdges = Seq(0.0, 10.0, 20.0)
    val df = Seq[(Long, java.lang.Double, java.lang.Double)](
      (1L, 0.5, 5.0),   // x-bin 0, y-bin 0
      (1L, 0.5, 15.0),  // x-bin 0, y-bin 1
      (1L, 3.0, 5.0),   // x-bin 2, y-bin 0
      (1L, null, 5.0),  // dropped
      (1L, 3.0, null),  // dropped (reference would mis-pair these)
      (1L, 50.0, 5.0)   // x out of range -> dropped
    ).toDF("cell", "x", "y")
    val out = df.groupBy($"cell")
      .agg(HistogramFunctions.histogram2d($"x", $"y", edges, yEdges).as("h"))
      .collect().map(r => r.getSeq[Seq[Long]](1)).head
    assert(out == Seq(Seq(1L, 1L), Seq(0L, 0L), Seq(1L, 0L), Seq(0L, 0L)))
  }

  test("histogram2d partition differential") {
    val rnd = new scala.util.Random(11)
    val yEdges = Seq(0.0, 4.0, 8.0)
    val rows = (1 to 3000).map(_ =>
      (rnd.nextInt(10).toLong, rnd.nextDouble() * 12 - 1, rnd.nextDouble() * 10 - 1))
    def run(parts: Int) = rows.toDF("cell", "x", "y").repartition(parts)
      .groupBy($"cell")
      .agg(HistogramFunctions.histogram2d($"x", $"y", edges, yEdges).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Seq[Long]](1)).toMap
    assert(run(1) == run(8))
  }
}
