package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd Catalyst expressions for the per-row hot loops that Spark's
  * higher-order functions (`transform`/`aggregate`/`zip_with`) execute as
  * CodegenFallback — the SURVEY §4 "custom Expression, perf only" case.
  *
  * Numerics are bit-identical to the HOF formulations they replace (sequential
  * left-fold over the array, each float widened to double before multiply), so
  * swapping them in cannot move a DuckDB-oracle hash.
  */
object VectorExprs {
  private def c(e: Expression): Column = GraftSqlBridge.column(e)
  private def e(col: Column): Expression = GraftSqlBridge.expression(col)

  /** Σ a(i)·b(i) as double, sequential. */
  def vecDot(a: Column, b: Column): Column = c(VecDot(e(a), e(b)))

  /** DJB2-xor uint32 lock key (reference `hashStringToInt`) — see
    * [[Djb2Uint32]]. */
  def djb2Uint32(s: Column): Column = c(Djb2Uint32(e(s)))

  /** Top 60 bits of md5(s) as a long — see [[Md5Top60]]. */
  def md5Top60(s: Column): Column = c(Md5Top60(e(s)))

  /** Σ (a(i)−b(i))² as double, sequential (L2 distance squared). */
  def l2Sq(a: Column, b: Column): Column = c(VecL2Sq(e(a), e(b)))

  /** Cosine distance `1 − ⟨a,q⟩/(|a|·|q|)` in one pass — see [[VecCosineDist]]. */
  def cosineDist(a: Column, q: Column): Column = c(VecCosineDist(e(a), e(q)))
}

/** Portable md5-derived 60-bit hash (static forwarder — callable from
  * generated Java). `h1` = hex chars 1-15 of md5 parsed base-16: exactly
  * `CAST('0x'||substr(md5(s),1,15) AS BIGINT)` in DuckDB /
  * `conv(substring(md5(s),1,15),16,10)` in Spark SQL, so every value is
  * reproducible in any engine with md5, and 60 bits keep it non-negative in
  * a signed 64-bit long. */
object Md5Hash {
  private val local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def be(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  /** h1 of a single token. */
  def h160(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = local.get()
    md.reset()
    be(md.digest(s.getBytes), 0) >>> 4
  }
}

private[graft] trait ArrayNumericCheck { self: Expression =>
  protected def checkNumericArray(e: Expression, side: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$side must be array<float|double>, got ${t.sql}")
    }

  /** Java accessor returning the i-th element widened to double. */
  protected def getter(e: Expression, arr: String, i: String): String =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }

  protected def getElem(e: Expression, arr: ArrayData, i: Int): Double =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => arr.getFloat(i).toDouble
      case _ => arr.getDouble(i)
    }
}

case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ArrayNumericCheck {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    checkNumericArray(left, "left") match {
      case TypeCheckResult.TypeCheckSuccess => checkNumericArray(right, "right")
      case f => f
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += getElem(left, x, i) * getElem(right, y, i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${getter(left, a, i)} * ${getter(right, b, i)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

case class VecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression with ArrayNumericCheck {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    checkNumericArray(left, "left") match {
      case TypeCheckResult.TypeCheckSuccess => checkNumericArray(right, "right")
      case f => f
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = getElem(left, x, i) - getElem(right, y, i)
      s += d * d
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ${getter(left, a, i)} - ${getter(right, b, i)};
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecL2Sq =
    copy(left = l, right = r)
}

/** Cosine distance `1 − d / (sqrt(na) · sqrt(nq))` with d = Σ a(i)·q(i),
  * na = Σ a(i)², nq = Σ q(i)², all three accumulated in one pass.
  *
  * Bit-identical to `1 − vecDot(a,q) / (sqrt(vecDot(a,a)) · sqrt(vecDot(q,q)))`:
  * each sum is the same strictly left-to-right fold from 0.0 that [[VecDot]]
  * makes (d over the common prefix, each norm over its own array), and the
  * final arithmetic is the same sequence of double operations. Unlike that
  * composition it leaves no foldable `sqrt(vecDot(q, q))` for Catalyst to
  * turn into a per-query double literal in the generated Java, so every
  * query compiles to the same class. A zero-norm side gives 0/0 = NaN
  * (plain Java division), which sorts after every number. */
case class VecCosineDist(left: Expression, right: Expression)
    extends BinaryExpression with ArrayNumericCheck {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    checkNumericArray(left, "left") match {
      case TypeCheckResult.TypeCheckSuccess => checkNumericArray(right, "right")
      case f => f
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0
    var na = 0.0
    var nq = 0.0
    var i = 0
    while (i < n) {
      val p = getElem(left, x, i)
      val q = getElem(right, y, i)
      d += p * q
      na += p * p
      nq += q * q
      i += 1
    }
    while (i < x.numElements()) { val p = getElem(left, x, i); na += p * p; i += 1 }
    i = n
    while (i < y.numElements()) { val q = getElem(right, y, i); nq += q * q; i += 1 }
    1.0 - d / (math.sqrt(na) * math.sqrt(nq))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val na = ctx.freshName("na")
      val nq = ctx.freshName("nq")
      val p = ctx.freshName("p")
      val q = ctx.freshName("q")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0;
         |double $na = 0.0;
         |double $nq = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $p = ${getter(left, a, i)};
         |  double $q = ${getter(right, b, i)};
         |  $d += $p * $q;
         |  $na += $p * $p;
         |  $nq += $q * $q;
         |}
         |for (int $i = $n; $i < $a.numElements(); $i++) {
         |  double $p = ${getter(left, a, i)};
         |  $na += $p * $p;
         |}
         |for (int $i = $n; $i < $b.numElements(); $i++) {
         |  double $q = ${getter(right, b, i)};
         |  $nq += $q * $q;
         |}
         |${ev.value} = 1.0 - $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nq));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosineDist =
    copy(left = l, right = r)
}

/** DJB2-xor advisory-lock key, bit-for-bit the reference's
  * `hashStringToInt` (src/internal/hashing/string-to-int.ts:1-9):
  * `h = ToInt32(h*33) XOR charCodeAt(i)`, seeded 5381, folded `>>> 0` to
  * uint32. Computed in the nonnegative mod-2^32 long domain (congruent to
  * JS int32 wrap-around, identical bit patterns) over UTF-16 code units —
  * exactly `charCodeAt`, so non-ASCII keys hash identically too. Replaces
  * the interpreted per-character `aggregate(split(s, ''))` HOF fold in the
  * lock-schedule hot path with one static call inside whole-stage codegen. */
case class Djb2Uint32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"need string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    Djb2Uint32.hash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Djb2Uint32.hash($s);")

  override protected def withNewChildInternal(c: Expression): Djb2Uint32 =
    copy(child = c)
}

object Djb2Uint32 {
  def hash(u: org.apache.spark.unsafe.types.UTF8String): Long = {
    val s = u.toString // UTF-16, charAt == JS charCodeAt
    var h = 5381L
    var i = 0
    while (i < s.length) {
      h = ((h * 33L) & 0xffffffffL) ^ s.charAt(i).toLong
      i += 1
    }
    h
  }
}

/** Top 60 bits of md5(s) as a nonnegative long — bit-identical to
  * `conv(substring(md5(s), 1, 15), 16, 10)` (the first 15 hex digits) but
  * read straight off the digest bytes: no 32-char hex string materialized,
  * no base-16 parse, one static call inside whole-stage codegen. The
  * placement-hash kernel of the consistent/rendezvous hashing rows. */
case class Md5Top60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"need string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    Md5Hash.h160(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Md5Hash.h160($s);")

  override protected def withNewChildInternal(c: Expression): Md5Top60 =
    copy(child = c)
}
