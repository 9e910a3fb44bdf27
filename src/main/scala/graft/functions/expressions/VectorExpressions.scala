package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

private[expressions] object VectorExpressions {
  def checkArrayInputs(
      name: String, expected: DataType,
      left: Expression, right: Expression): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(et, _) => et == expected
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires two array<$expected> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
}

/** Native Catalyst expressions for the vector hot paths — the
  * preference-order step up from composed higher-order functions
  * (SURVEY.md §7.3 / builder guide: built-ins < native Expression).
  *
  * `aggregate(zip_with(...))` chains are interpreted per-row and allocate
  * an intermediate array per product; these expressions are single-pass
  * primitive loops inside whole-stage codegen — the difference between an
  * ANN scan being memory-bound vs allocation-bound at 100 TB.
  */

/** cosine_similarity(array<float>, array<float>) → double.
  *
  * Accumulates dot and both norms in index order in double precision —
  * bit-compatible with the HOF formulation it replaces
  * (the test-scope `graft.HofReference.cosineSimilarityHof`), which the
  * ScalaTest cross-checks. Array elements must be non-null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkArrayInputs("cosine_similarity", FloatType, left, right)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = $a.getFloat($i);
         |  final double $yi = $b.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

/** squared_distance_long(array<bigint>, array<bigint>) → bigint: integer
  * squared Euclidean distance Σ(aᵢ−bᵢ)².
  *
  * THE engine-portable k-means primitive: on quantized embeddings
  * ([[graft.similarity.SimilarityOps.quantizeEmb]]) every distance,
  * argmin and centroid mean stays in exact BIGINT arithmetic, so cell
  * assignments replay bit-identically in any engine (integer sums are
  * order-free, unlike the float `avg` the previous k-means used — THE
  * reason d06/s03/s12 could not be oracled before). Range: components
  * < 2²², so a squared difference < 2⁴⁴ and a 64-dim sum < 2⁵⁰ — no
  * overflow headroom concerns even at 4096 dims.
  */
case class SquaredDistanceLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkArrayInputs("squared_distance_long", LongType, left, right)
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $d = $a.getLong($i) - $b.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "squared_distance_long"
}

/** hamming_distance(array<int>, array<int>) → bigint: count of positions
  * whose values differ (LSH signature / SimHash bit-vector distance). */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkArrayInputs("hamming_distance", IntegerType, left, right)
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0L
    var i = 0
    while (i < n) {
      if (x.getInt(i) != y.getInt(i)) d += 1L
      i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $d = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getInt($i) != $b.getInt($i)) $d++;
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hamming_distance"
}

/** sorted_intersect_size(array<bigint>, array<bigint>) → bigint: size of
  * the intersection of two ASCENDING-SORTED long arrays via a two-pointer
  * merge — O(n+m) with zero allocation, vs the hash-set build of
  * `array_intersect` per row. Caller contract: inputs sorted, distinct.
  * Used by n-gram Jaccard dedup over xxhash64'd shingles. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkArrayInputs("sorted_intersect_size", LongType, left, right)
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      s"""
         |final int $n = $a.numElements(); final int $m = $b.numElements();
         |int $i = 0, $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  final long $xi = $a.getLong($i); final long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $c++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_size"
}

/** simhash64(array<bigint>) → bigint: 64-bit SimHash of a token-hash
  * array — bit b of the result is 1 iff the count of tokens with bit b
  * set is ≥ half the token count (the ±1-sum ≥ 0 formulation). Single
  * primitive double loop per row; replaces an interpreted aggregate over
  * 64-element arrays, and makes Hamming distance a built-in
  * `bit_count(a ^ b)`. */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<bigint>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val sums = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = x.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (sums(b) >= 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val b = ctx.freshName("b")
      val n = ctx.freshName("n"); val h = ctx.freshName("h")
      val sums = ctx.freshName("sums"); val sig = ctx.freshName("sig")
      s"""
         |final int $n = $a.numElements();
         |final int[] $sums = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $sums[$b]++; else $sums[$b]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) { if ($sums[$b] >= 0) $sig |= (1L << $b); }
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

/** winnow_sketch(text, n, k) → array<bigint>: the k smallest xxhash64
  * values over the string's character n-grams, ascending — a bottom-k
  * (winnowing-style) document fingerprint.
  *
  * Slides over the UTF-8 bytes tracking character starts, hashing each
  * n-char window's byte range in place with the same XXH64/seed-42 Spark's
  * `xxhash64` uses — bit-identical to
  * `slice(array_sort(transform(grams, xxhash64)), 1, k)` without
  * materializing a single substring (the HOF pipeline allocates ~|text|
  * strings + an array sort per row). Strings shorter than n hash whole. */
case class WinnowSketch(child: Expression, gramLen: Int, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"winnow_sketch requires string, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val nBytes = s.numBytes()
    // byte offsets of each character start, plus the end sentinel
    val starts = new Array[Int](s.numChars() + 1)
    var i = 0; var c = 0
    while (i < nBytes) {
      starts(c) = i; c += 1
      i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(
        s.getByte(i))
    }
    starts(c) = nBytes
    val nChars = c
    val nGrams = math.max(nChars - gramLen + 1, 1)
    // bottom-k via bounded insertion (k is tiny); `filled` tracks real
    // entries so duplicate-heavy inputs yield min(k, nDistinct) values,
    // matching slice(array_sort(array_distinct(...)), 1, k)
    val cap = math.min(k, nGrams)
    val top = Array.fill(cap)(Long.MaxValue)
    var filled = 0
    var g = 0
    while (g < nGrams) {
      val from = starts(g)
      val until = starts(math.min(g + gramLen, nChars))
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, offset + from, until - from, 42L)
      if (filled < cap || h < top(cap - 1)) {
        var dup = false
        var q = 0
        while (q < filled && !dup) { dup = top(q) == h; q += 1 }
        if (!dup) {
          if (filled < cap) filled += 1
          var p = filled - 1
          while (p > 0 && top(p - 1) > h) { top(p) = top(p - 1); p -= 1 }
          top(p) = h
        }
      }
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(top.take(filled))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "winnow_sketch"
}

/** winnow_sketch_md5(text, n, k) → array<string>: the k smallest
  * 16-hex-char md5 PREFIXES over the string's character n-grams,
  * ascending — [[WinnowSketch]] with the hash family swapped from
  * Spark's xxhash64 to an engine-portable one. Fixed-width lowercase hex
  * sorts lexicographically exactly as the unsigned 64-bit prefix sorts
  * numerically, so `substr(md5(gram), 1, 16)` in ANY engine with md5
  * (the DuckDB oracle included) reproduces the sketch bit-for-bit:
  * this is the variant whose catalog entry (t04) is fully oracled,
  * where xxhash64's Spark-private family forces a rows-only check.
  * Cost: one md5 per gram (~10× the xxhash64 family) — same one-pass
  * bounded-insertion bottom-k, no substring/array materialization;
  * prefer [[WinnowSketch]] when the sketch never leaves this engine. */
case class WinnowSketchMd5(child: Expression, gramLen: Int, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"winnow_sketch_md5 requires string, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val bytes = s.getBytes
    val nBytes = bytes.length
    val starts = new Array[Int](s.numChars() + 1)
    var i = 0; var c = 0
    while (i < nBytes) {
      starts(c) = i; c += 1
      i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(c) = nBytes
    val nChars = c
    val nGrams = math.max(nChars - gramLen + 1, 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    // bottom-k over the UNSIGNED first-8-byte prefix (big-endian, i.e.
    // hex-string order); -1L is unsigned max, the empty-slot sentinel
    val cap = math.min(k, nGrams)
    val top = Array.fill(cap)(-1L)
    var filled = 0
    var g = 0
    while (g < nGrams) {
      val from = starts(g)
      val until = starts(math.min(g + gramLen, nChars))
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      if (filled < cap || java.lang.Long.compareUnsigned(h, top(cap - 1)) < 0) {
        var dup = false
        var q = 0
        while (q < filled && !dup) { dup = top(q) == h; q += 1 }
        if (!dup) {
          if (filled < cap) filled += 1
          var p = filled - 1
          while (p > 0 && java.lang.Long.compareUnsigned(top(p - 1), h) > 0) {
            top(p) = top(p - 1); p -= 1
          }
          top(p) = h
        }
      }
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      top.take(filled).map(h =>
        org.apache.spark.unsafe.types.UTF8String.fromString(f"$h%016x")))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "winnow_sketch_md5"
}

/** md5_prefix64(text) → bigint: the first 8 bytes of md5(text), read
  * big-endian as a (signed) 64-bit value — the same bits any engine
  * gets from the md5 hex string's first 16 chars, so `CAST('0x' ||
  * substr(md5(t), 1, 16) AS UBIGINT)` in DuckDB reproduces the hash
  * bit-for-bit (two's complement: only the bits matter, and SimHash /
  * Hamming logic never interprets the sign). The engine-portable token
  * hash family behind the fully-oracled d04 (where xxhash64's
  * Spark-private family forces rows-only); ~10× slower per hash than
  * xxhash64 — keep xxhash64 for hashes that never leave the engine. */
case class Md5Prefix64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_prefix64 requires string, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    var h = 0L
    var b = 0
    while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    h
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "md5_prefix64"
}

object MinHashSignature {
  /** 31-bit universal-hash domain: a·h+b stays < 2^62 (no overflow under
    * ANSI semantics — not that eval-side Java would throw, but parity
    * with the documented engine spec). */
  val MersennePrime: Long = (1L << 31) - 1

  /** Deterministic coefficients, seed 42 — part of the engine spec. */
  def coefficients(k: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42)
    val a = Array.fill(k)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val b = Array.fill(k)(rnd.nextInt(Int.MaxValue).toLong)
    (a, b)
  }
}

/** minhash_signature(array<bigint>, k) → array<bigint>: k-permutation
  * MinHash signature of a shingle-hash array in one pass — for each
  * input hash h and permutation j, sig[j] = min(sig[j], (a_j·(h mod p) +
  * b_j) mod p). Replaces k separate interpreted
  * `array_min(transform(...))` lambdas (k× recompute of the hash array).
  * Interpreted eval with primitive loops (CodegenFallback): the per-row
  * loop body is compiled Scala, which is what matters at 10⁴…10⁹ rows. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  private lazy val (coeffA, coeffB) = MinHashSignature.coefficients(numHashes)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_signature requires array<bigint>, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val p = MinHashSignature.MersennePrime
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val hm = {
        val m = hs.getLong(i) % p
        if (m < 0) m + p else m
      }
      var j = 0
      while (j < numHashes) {
        val v = (coeffA(j) * hm + coeffB(j)) % p
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

/** plane_project_e4(array<float>, array<long>) → array<long>: signed
  * ±1-hyperplane projection of an embedding to e4-quantized integer
  * coordinates — the JL pre-transform's corpus-pass primitive (s20).
  *
  * The second argument is the bit-packed plane matrix: planes stored
  * row-major, `ceil(d/64)` longs per plane, bit i of plane p set ⇔
  * component (p, i) is +1 (the md5 family of
  * [[graft.similarity.SimilarityOps]]); r = bits.length / ceil(d/64)
  * output coordinates. One codegen'd r×d multiply-add loop replaces r
  * interpreted `aggregate(zip_with(...))` chains and r literal plane
  * arrays in the plan.
  *
  * Bit-compatibility contract (what makes s20 fully oracle-able):
  * coordinate p accumulates `acc += (bit ? x : -x)` over components in
  * index order in double — the identical IEEE sequence as
  * `list_dot_product(v::DOUBLE[], plane)` against a ±1.0 plane (±1
  * multiplication is exact) — then quantizes with
  * `BigDecimal.setScale(0, HALF_UP)`, the exact semantics of Spark's
  * `round(x·1e4)` and DuckDB's `round()` for doubles (away-from-zero
  * at .5, which plain Math.round gets WRONG for negative dots).
  */
case class PlaneProjectE4(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "plane_project_e4 requires (array<float> embedding, array<long> " +
          s"packed planes), got ${left.dataType.catalogString} and " +
          right.dataType.catalogString)
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val bits = b.asInstanceOf[ArrayData]
    val d = v.numElements()
    val wpp = (d + 63) >>> 6
    val r = bits.numElements() / wpp
    val out = new Array[Long](r)
    var p = 0
    while (p < r) {
      var acc = 0.0
      var i = 0
      while (i < d) {
        val x = v.getFloat(i).toDouble
        val pos = ((bits.getLong(p * wpp + (i >>> 6)) >>> (i & 63)) & 1L) == 1L
        acc += (if (pos) x else -x)
        i += 1
      }
      out(p) = java.math.BigDecimal.valueOf(acc * 10000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d = ctx.freshName("d")
      val wpp = ctx.freshName("wpp")
      val r = ctx.freshName("r")
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val pos = ctx.freshName("pos")
      s"""
         |final int $d = $a.numElements();
         |final int $wpp = ($d + 63) >>> 6;
         |final int $r = $b.numElements() / $wpp;
         |final long[] $out = new long[$r];
         |for (int $p = 0; $p < $r; $p++) {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $d; $i++) {
         |    final double $x = (double) $a.getFloat($i);
         |    final boolean $pos =
         |      (($b.getLong($p * $wpp + ($i >>> 6)) >>> ($i & 63)) & 1L) == 1L;
         |    $acc += $pos ? $x : -$x;
         |  }
         |  $out[$p] = java.math.BigDecimal.valueOf($acc * 10000.0)
         |    .setScale(0, java.math.RoundingMode.HALF_UP).longValue();
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "plane_project_e4"
}
