package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Codegen'd MinHash signature over a token array: for each of `numHashes`
  * hash families, the minimum over all word k-shingles of
  * `xxhash64(i, xxhash64(tok_j, ..., tok_{j+k-1}))` — BIT-IDENTICAL to the
  * exploded-index formulation
  * (`min(xxhash64(lit(i), sh))` over [[graft.ops.DedupOps.shingleIndexHashed]],
  * asserted in DedupOpsSpec) but computed in ONE row-local generated loop:
  * no shingle explosion, no distinct, no aggregation — signatures for a
  * 100 TB corpus are a pure map over the scan, and the only shuffle left in
  * MinHash/LSH dedup is the banded candidate join itself.
  *
  * Cost: n*k string hashes + m*numHashes long mixes per document, all
  * inside whole-stage codegen (the interpreted alternatives measured
  * 4-8x slower per element; the exploded form additionally shuffled the
  * whole shingle index twice).
  *
  * NULL when the document has fewer than k tokens (such docs have no
  * shingles — the exploded form emits no row; callers filter). Null tokens
  * skip their shingles.
  */
case class ShingleMinHash(child: Expression, k: Int, numHashes: Int)
  extends UnaryExpression {

  require(k >= 1, s"shingle size must be >= 1, got $k")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_minhash needs ARRAY<STRING>, got $t")
  }

  /** Seed of family i == `xxhash64(lit(i), _)`'s chain prefix: xxhash64
    * folds its arguments left to right from seed 42, so hashing the int i
    * first yields the running seed the shingle hash is folded into.
    */
  private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val m = n - (k - 1)
    if (m <= 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < m) {
      var h = 42L
      var ok = true
      var t = 0
      while (t < k && ok) {
        if (toks.isNullAt(j + t)) ok = false
        else h = XXH64.hashUTF8String(toks.getUTF8String(j + t), h)
        t += 1
      }
      if (ok) {
        any = true
        var i = 0
        while (i < numHashes) {
          val v = XXH64.hashLong(h, seeds(i))
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!any) null else new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
    val xxh = classOf[XXH64].getName
    val n = ctx.freshName("n")
    val m = ctx.freshName("m")
    val mins = ctx.freshName("mins")
    val any = ctx.freshName("any")
    val j = ctx.freshName("j")
    val t = ctx.freshName("t")
    val i = ctx.freshName("i")
    val h = ctx.freshName("h")
    val ok = ctx.freshName("ok")
    val v = ctx.freshName("v")
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      ArrayData ${ev.value} = null;
      if (!${c.isNull}) {
        int $n = ${c.value}.numElements();
        int $m = $n - ${k - 1};
        if ($m > 0) {
          long[] $mins = new long[$numHashes];
          java.util.Arrays.fill($mins, Long.MAX_VALUE);
          boolean $any = false;
          for (int $j = 0; $j < $m; $j++) {
            long $h = 42L;
            boolean $ok = true;
            for (int $t = 0; $t < $k && $ok; $t++) {
              if (${c.value}.isNullAt($j + $t)) { $ok = false; }
              else { $h = $xxh.hashUTF8String(${c.value}.getUTF8String($j + $t), $h); }
            }
            if ($ok) {
              $any = true;
              for (int $i = 0; $i < $numHashes; $i++) {
                long $v = $xxh.hashLong($h, $seedsRef[$i]);
                if ($v < $mins[$i]) $mins[$i] = $v;
              }
            }
          }
          if ($any) {
            ${ev.isNull} = false;
            ${ev.value} = UnsafeArrayData.fromPrimitiveArray($mins);
          }
        }
      }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHash =
    copy(child = newChild)
  override def prettyName: String = "shingle_minhash"
}

/** Codegen'd SORTED DISTINCT word-k-shingle hash set of a token array —
  * the per-document shingle set as one row-local array<long> (same hash
  * chain as [[ShingleMinHash]] / [[graft.ops.DedupOps.shingleIndexHashed]]).
  * Sorted output makes exact intersection a linear merge
  * ([[SortedIntersectCount]]) — candidate-pair Jaccard verification with
  * zero interpreted lambdas and no inverted-index join.
  * NULL when the document has fewer than k tokens.
  */
case class ShingleHashes(child: Expression, k: Int)
  extends UnaryExpression {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes needs ARRAY<STRING>, got $t")
  }

  /** Sort + in-place unique; returns the deduped prefix length. */
  private def sortUnique(a: Array[Long], len: Int): Int = {
    java.util.Arrays.sort(a, 0, len)
    var w = 0
    var r = 0
    while (r < len) {
      if (w == 0 || a(r) != a(w - 1)) { a(w) = a(r); w += 1 }
      r += 1
    }
    w
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements() - (k - 1)
    if (m <= 0) return null
    val buf = new Array[Long](m)
    var w = 0
    var j = 0
    while (j < m) {
      var h = 42L
      var ok = true
      var t = 0
      while (t < k && ok) {
        if (toks.isNullAt(j + t)) ok = false
        else h = XXH64.hashUTF8String(toks.getUTF8String(j + t), h)
        t += 1
      }
      if (ok) { buf(w) = h; w += 1 }
      j += 1
    }
    if (w == 0) return null
    val n = sortUnique(buf, w)
    new GenericArrayData(java.util.Arrays.copyOf(buf, n))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val xxh = classOf[XXH64].getName
    val m = ctx.freshName("m")
    val buf = ctx.freshName("buf")
    val w = ctx.freshName("w")
    val r = ctx.freshName("r")
    val j = ctx.freshName("j")
    val t = ctx.freshName("t")
    val h = ctx.freshName("h")
    val ok = ctx.freshName("ok")
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      ArrayData ${ev.value} = null;
      if (!${c.isNull}) {
        int $m = ${c.value}.numElements() - ${k - 1};
        if ($m > 0) {
          long[] $buf = new long[$m];
          int $w = 0;
          for (int $j = 0; $j < $m; $j++) {
            long $h = 42L;
            boolean $ok = true;
            for (int $t = 0; $t < $k && $ok; $t++) {
              if (${c.value}.isNullAt($j + $t)) { $ok = false; }
              else { $h = $xxh.hashUTF8String(${c.value}.getUTF8String($j + $t), $h); }
            }
            if ($ok) { $buf[$w++] = $h; }
          }
          if ($w > 0) {
            java.util.Arrays.sort($buf, 0, $w);
            int $r = 0;
            int ${w}u = 0;
            for ($r = 0; $r < $w; $r++) {
              if (${w}u == 0 || $buf[$r] != $buf[${w}u - 1]) { $buf[${w}u++] = $buf[$r]; }
            }
            ${ev.isNull} = false;
            ${ev.value} = UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf($buf, ${w}u));
          }
        }
      }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "shingle_hashes"
}

/** Codegen'd intersection size of two SORTED long arrays (linear merge
  * walk). Inputs must be sorted ascending and duplicate-free —
  * [[ShingleHashes]]' contract. NULL if either side is NULL.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count needs two ARRAY<BIGINT>, got $l / $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var (i, j, n) = (0, 0, 0L)
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        ${ev.value} = 0L;
        int $i = 0; int $j = 0;
        while ($i < $x.numElements() && $j < $y.numElements()) {
          long $xv = $x.getLong($i);
          long $yv = $y.getLong($j);
          if ($xv == $yv) { ${ev.value}++; $i++; $j++; }
          else if ($xv < $yv) { $i++; } else { $j++; }
        }
      """
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectCount = copy(left = l, right = r)
  override def prettyName: String = "sorted_intersect_count"
}

/** Count of code points that are neither ASCII alphanumerics nor Java-\s
  * whitespace — exactly what
  * `length(s) - length(regexp_replace(s, "[^a-zA-Z0-9\\s]", ""))`
  * computes (Java \s = [ \t\n\x0B\f\r]; every non-ASCII code point is in
  * the negated class on both engines), but as ONE byte walk: the regex
  * form materializes a REPLACED COPY of every document to diff lengths —
  * measured 13.9 s vs 0.3 s over 200k docs (PERF.md). UTF-8
  * continuation bytes are skipped, so multi-byte code points count once.
  */
case class PunctCount(child: Expression) extends UnaryExpression {

  // INT like the `length - length(replace)` spec form it replaces
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"punct_count needs STRING, got $t")
  }

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val bytes = s.getBytes
    var n = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b >= 0x80) { if ((b & 0xc0) != 0x80) n += 1 } // lead byte of non-ASCII cp
      else if (!((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9') || b == ' ' || b == '\t' || b == '\n' ||
        b == 0x0b || b == '\f' || b == '\r')) n += 1
      i += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bts = ctx.freshName("bts")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      s"""
         |byte[] $bts = $c.getBytes();
         |int $n = 0;
         |for (int $i = 0; $i < $bts.length; $i++) {
         |  int $b = $bts[$i] & 0xff;
         |  if ($b >= 0x80) { if (($b & 0xc0) != 0x80) $n++; }
         |  else if (!(($b >= 'a' && $b <= 'z') || ($b >= 'A' && $b <= 'Z') ||
         |      ($b >= '0' && $b <= '9') || $b == ' ' || $b == '\\t' ||
         |      $b == '\\n' || $b == 0x0b || $b == '\\f' || $b == '\\r')) $n++;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PunctCount =
    copy(child = newChild)
  override def prettyName: String = "punct_count"
}

object TextExprs {
  /** MinHash signature column (codegen'd, row-local). */
  def shingleMinHash(tokens: Column, k: Int, numHashes: Int): Column =
    Bridge.column(ShingleMinHash(Bridge.expression(tokens), k, numHashes))

  /** Sorted distinct shingle-hash set column (codegen'd, row-local). */
  def shingleHashes(tokens: Column, k: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(tokens), k))

  /** Intersection size of two sorted long arrays (codegen'd merge walk). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))

  /** Non-alphanumeric-non-whitespace code-point count (codegen'd byte walk). */
  def punctCount(s: Column): Column =
    Bridge.column(PunctCount(Bridge.expression(s)))
}
