package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.{columnOf, expressionOf}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/**
 * Native Catalyst expressions for the fuzzy-dedup and vector hot paths.
 *
 * The oracle-checkable MinHash/SimHash operators in [[graft.operators.Dedup]]
 * have a higher-order-function spelling (`aggregate`/`zip_with`/`transform`)
 * that is correct and portable but `CodegenFallback`: every element runs
 * through the interpreted expression evaluator with boxing. The portable
 * expressions here compute the same md5-derived values in one tight JVM loop
 * per row and take part in whole-stage codegen, so the DuckDB oracle can
 * recompute every signature they produce. The integer-vector kernels are
 * pure arithmetic and equally portable.
 */
object HashExpressions {

  /** Column API: exact integer dot product of two array<long> columns in one
    * tight JVM loop. Value-identical to the `aggregate(zip_with(...))`
    * formulation (and to a flat `element_at` sum), so operators built on it
    * stay DuckDB-oracle-checkable. Exists because BOTH spellings fall off
    * whole-stage codegen at embedding dimensions (HOFs are CodegenFallback;
    * a dim-64 element_at sum blows the generated-method budget), measured
    * 3.5-9x slower on the near-dup verify stage. */
  def longDot(a: Column, b: Column): Column =
    columnOf(LongDotExpr(expressionOf(a), expressionOf(b)))

  /** Column API: exact dot product of an array<long> column with a LITERAL
    * weight vector (LSH plane, IVF centroid) — one JVM loop, weights shipped
    * once as a codegen reference object instead of a dim-wide literal array
    * expression per row. Value-identical to `aggregate(zip_with(v, array(
    * lits), *))`. */
  def longDotLit(vec: Column, weights: Seq[Long]): Column =
    columnOf(LongDotLitExpr(expressionOf(vec), weights))

  /** Column API: squared euclidean distance of an array<long> column to a
    * LITERAL center — value-identical to the `element_at` squared-diff sum
    * (which blows the generated-method budget at embedding dims). */
  def longSqDistLit(vec: Column, center: Seq[Long]): Column =
    columnOf(LongSqDistLitExpr(expressionOf(vec), center))

  /** Column API: PORTABLE MinHash signature — bit-identical to the
    * `aggregate(zip_with(...))` spelling over [[Text.portableHash31]]
    * (md5-derived, DuckDB-replicable), evaluated in one JVM loop per row.
    * Same cross-engine values as the HOF form, ~20x less CPU per document. */
  def portableMinhashSignature(shingles: Column, numHashes: Int): Column =
    columnOf(PortableMinHash31Expr(expressionOf(shingles), numHashes))

  /** Column API: PORTABLE 64-char SimHash bit string — bit-identical to the
    * vote fold over [[Text.portableHashBits]] (md5-derived), one JVM loop
    * per row; lets the operator drop its explode+groupBy shuffle. */
  def portableSimhashBits(tokens: Column): Column =
    columnOf(PortableSimHashBitsExpr(expressionOf(tokens)))
}

/** Shared md5 kernel for the portable expressions: thread-local digest
  * instance, helpers mirroring `substring(md5(s),1,8/16)` exactly. */
private[functions] object PortableMd5 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** First 4 digest bytes as unsigned — `conv(substring(md5(s),1,8),16,10)`. */
  def head32(bytes: Array[Byte]): Long = {
    val d = md.get(); d.reset()
    val h = d.digest(bytes)
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }
  /** First 8 digest bytes as a (signed-bits) long — the unsigned value
    * `conv(substring(md5(s),1,16),16,...)` denotes, in two's complement. */
  def head64(bytes: Array[Byte]): Long = {
    val d = md.get(); d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v
  }
}

/** Dot product with a literal weight vector: `array<long> -> long`, summed
  * over the shorter of (vector, weights); null elements contribute 0. */
case class LongDotLitExpr(child: Expression, weights: Seq[Long]) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<long>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot_lit"
  private lazy val w = weights.toArray

  override def nullSafeEval(input: Any): Any =
    LongDotLitExpr.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("weights", w, "long[]")
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.LongDotLitExpr.compute($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): LongDotLitExpr =
    copy(child = newChild)
}

object LongDotLitExpr {
  def compute(a: ArrayData, w: Array[Long]): Long = {
    val n = math.min(a.numElements(), w.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) acc += a.getLong(i) * w(i)
      i += 1
    }
    acc
  }
}

/** Squared euclidean distance to a literal center: `array<long> -> long`. */
case class LongSqDistLitExpr(child: Expression, center: Seq[Long]) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<long>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "long_sqdist_lit"
  private lazy val c0 = center.toArray

  override def nullSafeEval(input: Any): Any =
    LongSqDistLitExpr.compute(input.asInstanceOf[ArrayData], c0)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("center", c0, "long[]")
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.LongSqDistLitExpr.compute($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): LongSqDistLitExpr =
    copy(child = newChild)
}

object LongSqDistLitExpr {
  def compute(a: ArrayData, c: Array[Long]): Long = {
    val n = math.min(a.numElements(), c.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) { val d = a.getLong(i) - c(i); acc += d * d }
      i += 1
    }
    acc
  }
}

/** Portable MinHash signature: `array<string> -> array<long>` (length k).
  * Value-identical to the HOF spelling in [[graft.operators.Dedup]]:
  * h = conv(substring(md5(s),1,8),16,10) % P31, then per hash function i
  * (left-assoc, exactly as the Column expression parses):
  * ((MulA*(i+1)) % p * h + (MulB*(i+13)) % p) % p, min over elements.
  * Empty array yields all-P31 sentinels like the HOF's `array_repeat` seed;
  * null elements are skipped (transform maps them to null, and least(null)
  * keeps the accumulator in the HOF form). */
case class PortableMinHash31Expr(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0, "numHashes must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_minhash_signature"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      PortableMinHash31Expr.compute(input.asInstanceOf[ArrayData], numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  graft.functions.PortableMinHash31Expr.compute($c, $numHashes));""".stripMargin
    )

  override protected def withNewChildInternal(newChild: Expression): PortableMinHash31Expr =
    copy(child = newChild)
}

object PortableMinHash31Expr {
  import graft.functions.{Hashing => H}

  def compute(arr: ArrayData, k: Int): Array[Long] = {
    val p = H.P31
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    var i = 0
    while (i < k) {
      a(i) = (H.MulA * (i + 1)) % p
      b(i) = (H.MulB * (i + 13)) % p
      i += 1
    }
    val mins = Array.fill(k)(p)
    val n = arr.numElements()
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        val h = PortableMd5.head32(arr.getUTF8String(e).getBytes) % p
        var j = 0
        while (j < k) {
          val v = (a(j) * h + b(j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      e += 1
    }
    mins
  }
}

/** Portable 64-char SimHash bit string: `array<string> -> string`.
  * Value-identical to the vote fold over `portableHashBits` (char j is bit
  * 63-j of the md5-head64 value): +1 per set bit, -1 per clear bit, final
  * char '1' iff the vote is strictly positive. Null tokens are skipped;
  * an empty array yields all zeros (zero votes). */
case class PortableSimHashBitsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $other")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "portable_simhash_bits"

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      PortableSimHashBitsExpr.compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c =>
        s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
           |  graft.functions.PortableSimHashBitsExpr.compute($c));""".stripMargin
    )

  override protected def withNewChildInternal(newChild: Expression): PortableSimHashBitsExpr =
    copy(child = newChild)
}

object PortableSimHashBitsExpr {
  def compute(arr: ArrayData): String = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        val h = PortableMd5.head64(arr.getUTF8String(e).getBytes)
        var j = 0
        while (j < 64) {
          if (((h >>> (63 - j)) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      e += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var j = 0
    while (j < 64) {
      sb.append(if (votes(j) > 0) '1' else '0')
      j += 1
    }
    sb.toString
  }
}

/** Exact dot product: `(array<long>, array<long>) -> long`, summed over the
  * shorter length; null elements contribute 0. */
case class LongDotExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires (array<long>, array<long>), got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    LongDotExpr.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => s"${ev.value} = graft.functions.LongDotExpr.compute($a, $b);"
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotExpr =
    copy(left = newLeft, right = newRight)
}

object LongDotExpr {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }
}
