package graft.props

import java.time.LocalDate

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.agg.{Binning, HistogramAgg}
import graft.io.GranuleCatalog
import graft.ops.SimilarityOps

/** Spark-free property tests of the algorithmic kernels: np.histogram bin
  * semantics, histogram-buffer monoid laws (the distributed-merge
  * correctness the reference never tested, SURVEY §5), catalog key parsing
  * and LSH weight properties.
  */
object GraftProps extends Properties("graft") {

  private val edgesGen: Gen[Array[Double]] =
    Gen.chooseNum(2, 12).flatMap { n =>
      Gen.listOfN(n, Gen.chooseNum(-100.0, 100.0))
        .map(_.distinct.sorted.toArray)
        .suchThat(_.length >= 2)
    }

  property("binIndex range and edge containment") =
    forAll(edgesGen, Gen.chooseNum(-150.0, 150.0)) { (edges, v) =>
      val b = Binning.binIndexScala(v, edges)
      val n = edges.length - 1
      if (v < edges(0) || v > edges(n)) b == -1
      else {
        // in support: some bin, and the bin brackets the value
        b >= 0 && b < n && edges(b) <= v &&
          (v < edges(b + 1) || (b == n - 1 && v <= edges(n)))
      }
    }

  property("binIndex NaN is dropped") = Prop(
    Binning.binIndexScala(Double.NaN, Array(0.0, 1.0, 2.0)) == -1)

  private def hist(edges: Array[Double], vs: Seq[Double]): Array[Long] = {
    val agg = HistogramAgg(Seq(null), Seq(edges.toSeq))
    val buf = agg.createAggregationBuffer()
    vs.foreach { v =>
      val i = Binning.binIndexScala(v, edges)
      if (i >= 0) buf(i) += 1
    }
    buf
  }

  private val valsGen = Gen.listOf(Gen.chooseNum(-120.0, 120.0))

  property("histogram merge == histogram of concatenation (any split)") =
    forAll(edgesGen, valsGen, Gen.chooseNum(0, 100)) { (edges, vs, cut) =>
      val agg = HistogramAgg(Seq(null), Seq(edges.toSeq))
      val k = if (vs.isEmpty) 0 else cut % (vs.length + 1)
      val (a, b) = vs.splitAt(k)
      val merged = agg.merge(hist(edges, a), hist(edges, b))
      merged.sameElements(hist(edges, vs))
    }

  property("histogram counts total == #in-range values; permutation-invariant") =
    forAll(edgesGen, valsGen) { (edges, vs) =>
      val h = hist(edges, vs)
      val inRange = vs.count(v => Binning.binIndexScala(v, edges) >= 0)
      h.sum == inRange && hist(edges, vs.reverse).sameElements(h)
    }

  property("histogram serialize/deserialize round-trips") =
    forAll(edgesGen, valsGen) { (edges, vs) =>
      val agg = HistogramAgg(Seq(null), Seq(edges.toSeq))
      agg.deserialize(agg.serialize(hist(edges, vs))).sameElements(hist(edges, vs))
    }

  property("acquisitionKey parses exactly the reference filename shape") = {
    val nameGen = for {
      prefix <- Gen.oneOf("MYD06_L2", "MYD03")
      y <- Gen.chooseNum(2000, 2020)
      doy <- Gen.chooseNum(1, 366)
      h <- Gen.chooseNum(0, 23)
      m <- Gen.oneOf(0, 5, 10, 55)
    } yield (f"$prefix.A$y%04d$doy%03d.$h%02d$m%02d.061.x.hdf", f"$y%04d$doy%03d", f"$h%02d$m%02d")
    forAll(nameGen) { case (name, adoy, hhmm) =>
      GranuleCatalog.acquisitionKey(name).contains((adoy, hhmm))
    }
  }

  property("acquisitionKey rejects non-granule names") = Prop(
    GranuleCatalog.acquisitionKey("random_file.parquet").isEmpty &&
      GranuleCatalog.acquisitionKey("MYD06_L2.A20080.0005.hdf").isEmpty)

  property("hourPrefixes covers days x 24 + shift spill, correct rollover") =
    forAll(Gen.chooseNum(0, 400), Gen.chooseNum(0, 5)) {
      (dayOfs, lenDays) =>
        val shift = graft.expr.GridExprs.ShiftHour
        val start = LocalDate.of(2008, 1, 1).plusDays(dayOfs)
        val end = start.plusDays(lenDays)
        val ps = GranuleCatalog.hourPrefixes(start, end)
        val expectSpillDay = end.plusDays(1)
        ps.length == (lenDays + 1) * 24 + shift &&
          ps.takeRight(shift).forall(p =>
            p._1 == expectSpillDay.getYear && p._2 == expectSpillDay.getDayOfYear)
    }

  property("planeWeight is in [-3,3] and varies across dims") =
    forAll(Gen.chooseNum(0, 63), Gen.chooseNum(0, 1023)) { (j, d) =>
      val w = SimilarityOps.planeWeight(j, d)
      w >= -3 && w <= 3
    }

  // ---- custom text expressions, interpreted eval vs a direct reference
  // (Spark-free: Literal children + .eval(null))

  import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  private val tokensGen: Gen[List[String]] =
    Gen.chooseNum(0, 25).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "cd", "efg", "h i", "", "ab")))

  private def tokLit(ts: List[String]) = Literal(
    new GenericArrayData(ts.map(UTF8String.fromString).toArray),
    ArrayType(StringType))

  /** Reference shingle-hash fold (mirrors xxhash64 chaining from seed 42). */
  private def refShingles(ts: List[String], k: Int): Seq[Long] =
    ts.sliding(k).filter(_.length == k).map { win =>
      win.foldLeft(42L)((h, t) => XXH64.hashUTF8String(UTF8String.fromString(t), h))
    }.toSeq

  property("ShingleHashes == sorted distinct reference fold") =
    forAll(tokensGen, Gen.chooseNum(1, 4)) { (ts, k) =>
      val got = graft.expr.ShingleHashes(tokLit(ts), k).eval(null)
      val want = refShingles(ts, k).distinct.sorted
      if (want.isEmpty) got == null
      else got.asInstanceOf[ArrayData].toLongArray().toSeq == want
    }

  property("ShingleMinHash == per-family min over the shingle set") =
    forAll(tokensGen, Gen.chooseNum(1, 4), Gen.chooseNum(1, 8)) { (ts, k, nh) =>
      val got = graft.expr.ShingleMinHash(tokLit(ts), k, nh).eval(null)
      val sh = refShingles(ts, k)
      if (sh.isEmpty) got == null
      else {
        val want = (0 until nh).map { i =>
          val seed = XXH64.hashInt(i, 42L)
          sh.map(s => XXH64.hashLong(s, seed)).min
        }
        got.asInstanceOf[ArrayData].toLongArray().toSeq == want
      }
    }

  property("SortedIntersectCount == set intersection size") =
    forAll(Gen.listOf(Gen.chooseNum(-50L, 50L)), Gen.listOf(Gen.chooseNum(-50L, 50L))) {
      (a, b) =>
        def lit(xs: List[Long]) = Literal(
          new GenericArrayData(xs.distinct.sorted.toArray),
          ArrayType(LongType, containsNull = false))
        val got = graft.expr.SortedIntersectCount(lit(a), lit(b)).eval(null)
        got == (a.toSet & b.toSet).size.toLong
    }

  private val scoredGen: Gen[List[(Double, Long)]] =
    Gen.listOf(Gen.zip(
      Gen.chooseNum(0, 40).map(_ / 4.0), // coarse scores force ties
      Gen.chooseNum(0L, 60L)))

  property("TopKBuffer merge == take-k of concatenation (any split)") =
    forAll(scoredGen, Gen.chooseNum(1, 6), Gen.chooseNum(0, 1000)) { (xs, k, cut) =>
      val longOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(org.apache.spark.sql.types.LongType)
      def fill(rows: Seq[(Double, Long)]): graft.agg.TopKBuffer = {
        val b = new graft.agg.TopKBuffer(k, longOrd)
        rows.foreach { case (s, i) => b.add(s, i) }
        b
      }
      def drain(b: graft.agg.TopKBuffer): List[(Double, Long)] = {
        val it = b.set.descendingIterator()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map { case (s, i) => (s, i.asInstanceOf[Long]) }.toList
      }
      val at = if (xs.isEmpty) 0 else cut % (xs.length + 1)
      val (l, r) = xs.splitAt(at)
      val merged = fill(l)
      val other = fill(r)
      val it = other.set.iterator()
      while (it.hasNext) { val (s, i) = it.next(); merged.add(s, i) }
      // expected: distinct pairs (the buffer is a set), best k by (score DESC, id ASC)
      val expected = xs.distinct.sortBy { case (s, i) => (-s, i) }.take(k)
      drain(merged) == expected && drain(fill(xs)) == expected
    }

  property("VecSumBuffer fixed-point update is split-invariant and exact") =
    forAll(
      Gen.chooseNum(1, 8).flatMap(d =>
        Gen.listOf(Gen.listOfN(d, Gen.chooseNum(-4.0, 4.0))).map(d -> _)),
      Gen.chooseNum(0, 1000)) { case ((d, rows), cut) =>
      def fixed(x: Double): Long = (x * 1e6).toLong
      def fill(rs: Seq[List[Double]]): Array[Long] = {
        val sums = new Array[Long](d)
        rs.foreach(r => r.indices.foreach(i => sums(i) += fixed(r(i))))
        sums
      }
      val at = if (rows.isEmpty) 0 else cut % (rows.length + 1)
      val (l, r) = rows.splitAt(at)
      val merged = fill(l).zip(fill(r)).map { case (a, b) => a + b }
      merged.toSeq == fill(rows).toSeq
    }
}
