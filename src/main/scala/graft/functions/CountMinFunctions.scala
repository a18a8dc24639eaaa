package graft.functions

import graft.sketch.CountMin

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

object CountMinFunctions {
  /** Independent from the other sketch seeds so a count-min probe can never
    * silently agree with a bloom/topk hash of the same value. */
  val HashSeed = 91L
}

/** `cm_estimate(bin, key)` — point-frequency estimate of `key` in a stored
  * count-min sketch (never underestimates). Runs over sketch ROWS, so
  * CodegenFallback costs nothing; the sketch is re-parsed only when the
  * byte-array reference changes (same caching as [[MightContain]]). */
case class CmEstimate(sketchExpr: Expression, child: Expression)
  extends BinaryExpression with CodegenFallback {

  override def left: Expression = sketchExpr
  override def right: Expression = child
  override def dataType: DataType = LongType
  override def prettyName: String = "cm_estimate"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (sketchExpr.dataType != BinaryType)
      return TypeCheckResult.TypeCheckFailure(
        s"cm_estimate: first argument must be a BINARY count-min sketch, got ${sketchExpr.dataType.sql}")
    child.dataType match {
      case dt if org.apache.spark.sql.graft.GraftBridge.isAtomic(dt) =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"cm_estimate: unsupported key type ${dt.sql}")
    }
  }

  @transient private lazy val hashFn: Any => Long =
    TypedXxHash.kernel(child.dataType, CountMinFunctions.HashSeed)

  @transient private var lastRef: Array[Byte] = _
  @transient private var lastParsed: CountMin = _

  override def nullSafeEval(sketchBytes: Any, key: Any): Any = {
    val bytes = sketchBytes.asInstanceOf[Array[Byte]]
    if (bytes.isEmpty) return null
    if (!(bytes eq lastRef)) {
      lastParsed = CountMin.deserialize(bytes)
      lastRef = bytes
    }
    java.lang.Long.valueOf(lastParsed.estimateHash(hashFn(key)))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmEstimate =
    copy(sketchExpr = newLeft, child = newRight)
}

/** `cm_total(bin)` — total offered weight N of a stored count-min sketch
  * (the N in the ε·N error bound). */
case class CmTotal(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "cm_total"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"cm_total expects a BINARY count-min sketch, got ${dt.sql}")
  }
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[Array[Byte]]
    if (bytes.isEmpty) null
    else java.lang.Long.valueOf(CountMin.deserialize(bytes).totalWeight)
  }
  override protected def withNewChildInternal(c: Expression): CmTotal = copy(child = c)
}
