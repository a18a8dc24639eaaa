package graft.functions

import graft.sketch.CountSketch

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

object AgmsFunctions {
  /** Independent from every other family's seed — parallel sketches must
    * agree with EACH OTHER, never accidentally with a CM/bloom hash. */
  val HashSeed = 131L
}

/** `agms_join_size(a, b)` — equi-join cardinality estimate from two
  * parallel count-sketches (median over rows of the bucket inner
  * product). Sketch-row volume only; CodegenFallback costs nothing. */
case class AgmsJoinSize(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "agms_join_size"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"agms_join_size expects two BINARY count-sketches, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ab = a.asInstanceOf[Array[Byte]]
    val bb = b.asInstanceOf[Array[Byte]]
    if (ab.isEmpty || bb.isEmpty) return null
    java.lang.Double.valueOf(
      CountSketch.deserialize(ab).joinSize(CountSketch.deserialize(bb)))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AgmsJoinSize =
    copy(left = newLeft, right = newRight)
}

/** `agms_f2(bin)` — second-moment (self-join size) estimate of a stored
  * count-sketch. */
case class AgmsF2(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "agms_f2"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"agms_f2 expects a BINARY count-sketch, got ${dt.sql}")
  }
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[Array[Byte]]
    if (bytes.isEmpty) null
    else java.lang.Double.valueOf(CountSketch.deserialize(bytes).f2())
  }
  override protected def withNewChildInternal(c: Expression): AgmsF2 = copy(child = c)
}
