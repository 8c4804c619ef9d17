package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.agg.HistogramAgg
import graft.expr.{LshPlanesBucket, ShingleHashes, ShingleMinHash, SortedIntersectCount, SubwordEstimate, TokenSetHits, VecDot}

/** SQL surface for the engine's custom expressions: after
  * `GraftFunctions.registerAll(spark)` they are callable from plain
  * `spark.sql(...)` text —
  *
  * {{{
  * SELECT vec_dot(a, b) FROM vecs
  * SELECT cell, hist1d(v, array(0.0D, 1.0D, 2.5D)) FROM px GROUP BY cell
  * SELECT cell, hist2d(x, y, array(0D,1D), array(0D,5D,10D)) ... GROUP BY cell
  * }}}
  *
  * Bin-edge arguments must be foldable array literals (they parameterize
  * the aggregation buffer, so they are fixed at plan time — same contract
  * as the reference's per-variable config CSV edges).
  */
object GraftFunctions {

  private def edgesOf(e: Expression, fn: String): Seq[Double] = {
    require(e.foldable, s"$fn bin edges must be a foldable array literal")
    val data = e.eval(null)
    require(data != null, s"$fn bin edges must not be null")
    val arr = data.asInstanceOf[ArrayData]
    val et = e.dataType.asInstanceOf[ArrayType].elementType
    require(et == DoubleType, s"$fn bin edges must be ARRAY<DOUBLE>, got ${e.dataType}")
    arr.toDoubleArray().toSeq
  }

  // Cast value children to double exactly like HistogramFunctions does —
  // the aggregates' update() reads a Double, and an INT column through
  // the SQL path would otherwise ClassCastException at runtime.
  private def dbl(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e, org.apache.spark.sql.types.DoubleType)

  // same pitfall for id children: update() reads a Long, and an INT id
  // through the SQL path would ClassCastException at runtime
  private def lng(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e, org.apache.spark.sql.types.LongType)

  /** name -> (usage doc, expression builder); shared by the programmatic
    * registration below and [[GraftExtensions]].
    */
  val builders: Map[String, (String, Seq[Expression] => Expression)] = Map(
    "vec_dot" -> ("vec_dot(a, b) - sequential-order float-array dot product",
      exprs => {
        require(exprs.length == 2, "vec_dot(a, b)")
        VecDot(exprs(0), exprs(1))
      }),
    "hist1d" -> ("hist1d(value, edges) - np.histogram-semantics bin counts",
      exprs => {
        require(exprs.length == 2, "hist1d(value, edges)")
        HistogramAgg(Seq(dbl(exprs(0))), Seq(edgesOf(exprs(1), "hist1d")))
      }),
    "hist2d" -> ("hist2d(x, y, xEdges, yEdges) - joint histogram counts",
      exprs => {
        require(exprs.length == 4, "hist2d(x, y, xEdges, yEdges)")
        HistogramAgg(Seq(dbl(exprs(0)), dbl(exprs(1))),
          Seq(edgesOf(exprs(2), "hist2d"), edgesOf(exprs(3), "hist2d")))
      }),
    "shingle_minhash" -> ("shingle_minhash(tokens, k, numHashes) - row-local MinHash signature",
      exprs => {
        require(exprs.length == 3, "shingle_minhash(tokens, k, numHashes)")
        ShingleMinHash(exprs(0), intLit(exprs(1), "k"), intLit(exprs(2), "numHashes"))
      }),
    "shingle_hashes" -> ("shingle_hashes(tokens, k) - sorted distinct shingle-hash set",
      exprs => {
        require(exprs.length == 2, "shingle_hashes(tokens, k)")
        ShingleHashes(exprs(0), intLit(exprs(1), "k"))
      }),
    "sorted_intersect_count" -> ("sorted_intersect_count(a, b) - |a ∩ b| of sorted long arrays",
      exprs => {
        require(exprs.length == 2, "sorted_intersect_count(a, b)")
        SortedIntersectCount(exprs(0), exprs(1))
      }),
    "lsh_planes_bucket" -> ("lsh_planes_bucket(vec, planeOffset, planes, dims) - packed hyperplane sign bits (one fused pass)",
      exprs => {
        require(exprs.length == 4, "lsh_planes_bucket(vec, planeOffset, planes, dims)")
        LshPlanesBucket(exprs(0), intLit(exprs(1), "planeOffset"),
          intLit(exprs(2), "planes"), intLit(exprs(3), "dims"))
      }),
    "lsh_all_buckets" -> ("lsh_all_buckets(vec, planes, dims, tables) - all OR-amplification table buckets in one fused pass",
      exprs => {
        require(exprs.length == 4, "lsh_all_buckets(vec, planes, dims, tables)")
        graft.expr.LshAllBuckets(exprs(0), intLit(exprs(1), "planes"),
          intLit(exprs(2), "dims"), intLit(exprs(3), "tables"))
      }),
    "freq_sketch" -> ("freq_sketch(key, capacity) - Misra-Gries frequent-items summary (aggregate)",
      exprs => {
        require(exprs.length == 2, "freq_sketch(key, capacity)")
        graft.agg.MisraGriesAgg(exprs(0), intLit(exprs(1), "capacity"))
          .toAggregateExpression(isDistinct = false)
      }),
    "hilbert_index" -> ("hilbert_index(x, y, order) - Hilbert-curve position of a 2-D grid cell (layout key)",
      exprs => {
        require(exprs.length == 3, "hilbert_index(x, y, order)")
        graft.expr.HilbertIndex(lng(exprs(0)), lng(exprs(1)),
          intLit(exprs(2), "order"))
      }),
    "bloom_bit_pos" -> ("bloom_bit_pos(key, salt, mBits) - Bloom/CMS bit position from the oracle-replayable splitmix64 family",
      exprs => {
        require(exprs.length == 3, "bloom_bit_pos(key, salt, mBits)")
        graft.expr.BloomBitPos(lng(exprs(0)), intLit(exprs(1), "salt"),
          intLit(exprs(2), "mBits"))
      }),
    "splitmix_hash" -> ("splitmix_hash(key, salt) - full-width 64-bit member of the same splitmix64 family (KMV order statistics)",
      exprs => {
        require(exprs.length == 2, "splitmix_hash(key, salt)")
        graft.expr.SplitmixHash(lng(exprs(0)), intLit(exprs(1), "salt"))
      }),
    "rolling_fingerprint" -> ("rolling_fingerprint(s) - code-point rolling hash mod 1e9+7",
      exprs => {
        require(exprs.length == 1, "rolling_fingerprint(s)")
        graft.expr.RollingFingerprint(exprs(0))
      }),
    "nfc_normalize" -> ("nfc_normalize(s) - Unicode NFC canonical composition",
      exprs => {
        require(exprs.length == 1, "nfc_normalize(s)")
        graft.expr.NfcNormalize(exprs(0))
      }),
    "fold_diacritics" -> ("fold_diacritics(s) - NFD + strip combining marks (match-key folding)",
      exprs => {
        require(exprs.length == 1, "fold_diacritics(s)")
        graft.expr.FoldDiacritics(exprs(0))
      }),
    "log2_fixed" -> ("log2_fixed(v) - integer fixed-point log2 (2^-20 units; NULL below 1)",
      exprs => {
        require(exprs.length == 1, "log2_fixed(v)")
        graft.expr.Log2Fixed(lng(exprs(0)))
      }),
    "token_window_hashes" -> ("token_window_hashes(tokens, k) - rolling fingerprints of every k-token window",
      exprs => {
        require(exprs.length == 2, "token_window_hashes(tokens, k)")
        require(exprs(1).foldable, "token_window_hashes k must be a literal")
        graft.expr.TokenWindowHashes(exprs(0),
          exprs(1).eval(null).toString.toInt)
      }),
    "token_set_hits" -> ("token_set_hits(tokens, words) - count of tokens in the literal word set",
      exprs => {
        require(exprs.length == 2, "token_set_hits(tokens, words)")
        TokenSetHits(exprs(0), stringSeq(exprs(1), "words"))
      }),
    "subword_estimate" -> ("subword_estimate(tokens) - BPE-ish subword count estimate",
      exprs => {
        require(exprs.length == 1, "subword_estimate(tokens)")
        SubwordEstimate(exprs(0))
      }),
    "bpe_encode" -> ("bpe_encode(tokens, mergesA, mergesB) - BPE pieces via ranked literal merges",
      exprs => {
        require(exprs.length == 3, "bpe_encode(tokens, mergesA, mergesB)")
        graft.expr.BpeEncode(exprs(0),
          stringSeq(exprs(1), "mergesA"), stringSeq(exprs(2), "mergesB"))
      }),
    "token_weight_sum" -> ("token_weight_sum(tokens, keys, weights) - Σ weight over tokens in the literal table",
      exprs => {
        require(exprs.length == 3, "token_weight_sum(tokens, keys, weights)")
        graft.expr.TokenWeightSum(exprs(0),
          stringSeq(exprs(1), "keys"), longSeq(exprs(2), "weights"))
      }),
    "char_bigram_weight_sum" -> ("char_bigram_weight_sum(s, keys, weights) - Σ weight over char bigrams of s",
      exprs => {
        require(exprs.length == 3, "char_bigram_weight_sum(s, keys, weights)")
        graft.expr.CharBigramWeightSum(exprs(0),
          stringSeq(exprs(1), "keys"), longSeq(exprs(2), "weights"))
      }),
    "topk_by_score" -> ("topk_by_score(score, id, k) - bounded top-k (score DESC, id ASC) pairs (aggregate); id keeps its input type",
      exprs => {
        require(exprs.length == 3, "topk_by_score(score, id, k)")
        graft.agg.TopKByScoreAgg(dbl(exprs(0)), exprs(1), intLit(exprs(2), "k"))
          .toAggregateExpression(isDistinct = false)
      }),
    "vec_sum_fixed" -> ("vec_sum_fixed(vec, scale) - elementwise fixed-point vector sum (aggregate)",
      exprs => {
        require(exprs.length == 2, "vec_sum_fixed(vec, scale)")
        graft.agg.FixedPointVecSumAgg(exprs(0), dblLit(exprs(1), "scale"))
          .toAggregateExpression(isDistinct = false)
      }),
    "zorder_key" -> ("zorder_key(x, y) - 2-D Morton clustering key (low 31 bits interleaved)",
      exprs => {
        require(exprs.length == 2, "zorder_key(x, y)")
        zorderExpr(exprs(0), exprs(1))
      }))

  /** Catalyst twin of [[graft.ops.PrepOps.zorderKey]] for the SQL
    * registry path (a function builder must return a resolvable
    * expression tree, not a Column wrapper); same shared mask schedule.
    */
  private def zorderExpr(x: Expression, y: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, Literal, ShiftLeft}
    def spread(c: Expression): Expression =
      graft.ops.PrepOps.spreadMasks.foldLeft[Expression](
        BitwiseAnd(lng(c), Literal(0x7FFFFFFFL))) {
        case (v, (s, m)) => BitwiseAnd(BitwiseOr(v, ShiftLeft(v, Literal(s))), Literal(m))
      }
    BitwiseOr(spread(x), ShiftLeft(spread(y), Literal(1)))
  }

  private def stringSeq(e: Expression, name: String): Seq[String] = {
    val isStrArr = e.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }
    require(e.foldable && isStrArr, s"$name must be a literal ARRAY<STRING>")
    val data = e.eval(null)
    require(data != null, s"$name must not be null")
    val arr = data.asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { i =>
      val s = arr.getUTF8String(i)
      require(s != null, s"$name must not contain NULL elements")
      s.toString
    }
  }

  private def longSeq(e: Expression, name: String): Seq[Long] = {
    val ok = e.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    require(e.foldable && ok, s"$name must be a literal ARRAY<BIGINT>")
    val data = e.eval(null)
    require(data != null, s"$name must not be null")
    data.asInstanceOf[ArrayData].toLongArray().toSeq
  }

  private def dblLit(e: Expression, name: String): Double = {
    require(e.foldable, s"$name must be a numeric literal")
    e.eval(null) match {
      case d: java.lang.Double => d
      case f: java.lang.Float => f.toDouble
      case i: java.lang.Integer => i.toDouble
      case l: java.lang.Long => l.toDouble
      // SQL parses exact numeric literals like 1000000.0 as DecimalType
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case other => throw new IllegalArgumentException(
        s"$name must be a numeric literal, got $other")
    }
  }

  private def intLit(e: Expression, name: String): Int = {
    require(e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType,
      s"$name must be an integer literal")
    e.eval(null).asInstanceOf[Int]
  }

  def registerAll(spark: SparkSession): Unit =
    builders.foreach { case (name, (_, builder)) =>
      Bridge.registerFunction(spark, name, builder)
    }
}
