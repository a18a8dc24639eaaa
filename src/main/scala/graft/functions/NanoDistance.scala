package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Exact nano-unit vector kernels for the embedding operators.
  *
  * The operators' exact squared-L2 contract is: quantize each component to
  * DECIMAL(10,9) (NULL on NaN / |x| ≥ 10, exactly like the non-ANSI CAST),
  * scale to integer nano-units, and sum the squared differences in
  * DECIMAL(38,0). The original implementation was a SQL
  * `aggregate(zip_with(...))` chain — higher-order functions are
  * CodegenFallback, interpreted per element with a Decimal(38,0) allocation
  * per step, and the pair loops of q385/q400/q411 paid ~100 µs per pair for
  * a 64-dim distance (q411: 4.8 s of its 4.8 s bench cost; guide §1.2
  * per-task work, the q279-HOF lesson applied to vectors).
  *
  * Two tight-loop expressions replace it:
  *  - [[NanoUnits]]: `array<float|double>` → `array<long>` nano units, ONCE
  *    per row (the conversion rides the scan projection instead of being
  *    re-done per pair);
  *  - [[NanoD2Longs]]: two `array<long>` → DECIMAL(38,0) squared distance,
  *    a pure long/128-bit loop per pair.
  *
  * NULL semantics: a NULL / NaN / out-of-grid component makes its nano unit
  * NULL, and ANY NULL element (or a length mismatch — zip_with pads the
  * short side with NULLs) makes the whole distance NULL. This matches the
  * old chain under non-ANSI casts; under Spark 4's default ANSI mode the
  * old chain THREW on an out-of-grid/NaN component instead — a difference
  * with no reachable caller, because every call site rejects such vectors
  * first via requireNanoGridSafe (which throws with a better message).
  */
case class NanoUnits(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "nano_units"

  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }

  /** The kernel, callable from generated code. */
  def computeUnits(v: Any): GenericArrayData = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        // CAST(x AS DECIMAL(10,9)) semantics: NaN/Inf → NULL; HALF_UP to 9
        // decimals of the value's shortest decimal representation
        // (BigDecimal.valueOf == Spark's Decimal(double) path); overflow
        // past precision 10 (|rounded| ≥ 10) → NULL
        if (!d.isNaN && !d.isInfinite) {
          val nano = java.math.BigDecimal.valueOf(d)
            .setScale(9, java.math.RoundingMode.HALF_UP).unscaledValue()
          if (nano.bitLength() <= 63) {
            val l = nano.longValue()
            if (l > -10000000000L && l < 10000000000L) out(i) = l
          }
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = computeUnits(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nanoUnitsKernel", this, classOf[NanoUnits].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeUnits($a);")
  }

  override protected def withNewChildInternal(c: Expression): NanoUnits = copy(child = c)
}

/** Exact squared-L2 over two nano-unit long arrays as DECIMAL(38,0); NULL
  * on any NULL element or a length mismatch (see [[NanoUnits]] scaladoc). */
case class NanoD2Longs(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = true
  override def prettyName: String = "nano_d2"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two ARRAY<BIGINT>, got ${l.sql}, ${r.sql}")
    }

  /** The kernel, callable from generated code. Returns null (boxed) on any
    * NULL element per the zip_with-pad semantics, and when the sum exceeds
    * DECIMAL(38,0), as the non-ANSI SUM does. */
  def computeD2(a0: Any, b0: Any): Any = {
    val a = a0.asInstanceOf[ArrayData]
    val b = b0.asInstanceOf[ArrayData]
    val la = a.numElements()
    val lb = b.numElements()
    if (la != lb) return null // zip_with pads with NULL → sticky NULL sum
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < la) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      val pLo = d * d
      hi = Int128.sumHi(hi, lo, java.lang.Math.multiplyHigh(d, d), pLo)
      lo += pLo
      i += 1
    }
    Int128.toDecimal(hi, lo)
  }

  override def nullSafeEval(a: Any, b: Any): Any = computeD2(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nanoD2Kernel", this, classOf[NanoD2Longs].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = (org.apache.spark.sql.types.Decimal) $ref.computeD2($a, $b);
      ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): NanoD2Longs = copy(left = l, right = r)
}
