package graft.functions

import graft.sketch.ThetaSketch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Shared input checking/decoding for the scalar theta combinators. Like the
  * HLL scalar functions ([[SketchExprs]]) these run over sketch ROWS (one per
  * group/day), not raw data, so CodegenFallback costs nothing at scale. */
private[graft] object ThetaExprs {
  def check(fn: String, dt: DataType): TypeCheckResult = dt match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects a BINARY serialized theta sketch, got ${other.sql}")
  }

  def sketchOf(v: Any): ThetaSketch = {
    val b = v.asInstanceOf[Array[Byte]]
    if (b == null || b.isEmpty) null else ThetaSketch.deserialize(b)
  }
}

/** `theta_estimate(s)` — distinct-count estimate of a stored theta sketch. */
case class ThetaEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "theta_estimate"
  override def checkInputDataTypes(): TypeCheckResult =
    ThetaExprs.check(prettyName, child.dataType)
  override def nullSafeEval(v: Any): Any = {
    val s = ThetaExprs.sketchOf(v)
    if (s == null) null else java.lang.Long.valueOf(s.estimate)
  }
  override protected def withNewChildInternal(c: Expression): ThetaEstimate = copy(child = c)
}

/** `theta_retained(s)` — number of retained entries; with `theta_fraction`
  * this exposes the sketch's own error bound (RSE ≈ √(1−θ)/√(c−1)) to SQL,
  * which is how q72's gate is computed in-query. */
case class ThetaRetained(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "theta_retained"
  override def checkInputDataTypes(): TypeCheckResult =
    ThetaExprs.check(prettyName, child.dataType)
  override def nullSafeEval(v: Any): Any = {
    val s = ThetaExprs.sketchOf(v)
    if (s == null) null else java.lang.Long.valueOf(s.retained.toLong)
  }
  override protected def withNewChildInternal(c: Expression): ThetaRetained = copy(child = c)
}

/** `theta_fraction(s)` — the sampling fraction θ ∈ (0, 1]. */
case class ThetaFraction(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_fraction"
  override def checkInputDataTypes(): TypeCheckResult =
    ThetaExprs.check(prettyName, child.dataType)
  override def nullSafeEval(v: Any): Any = {
    val s = ThetaExprs.sketchOf(v)
    if (s == null) null else java.lang.Double.valueOf(s.thetaFraction)
  }
  override protected def withNewChildInternal(c: Expression): ThetaFraction = copy(child = c)
}

private[graft] sealed abstract class ThetaBinaryOp extends BinaryExpression
  with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = ThetaExprs.check(prettyName, left.dataType)
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else ThetaExprs.check(prettyName, right.dataType)
  }
  protected def op(a: ThetaSketch, b: ThetaSketch): ThetaSketch
  /** The identity for union is the empty set; for intersect/difference a
    * missing side makes the result undefined → NULL. */
  protected def unionLike: Boolean
  // eval is overridden (not just nullSafeEval) so SQL NULL — what the
  // aggregates emit for an empty group — is treated as the empty set:
  // BinaryExpression.eval would otherwise short-circuit a NULL child to
  // NULL before nullSafeEval runs, making theta_union(NULL, s) NULL
  // instead of s. Empty BINARY and NULL are interchangeable empties.
  override def eval(input: InternalRow): Any = {
    val lv = left.eval(input)
    val rv = right.eval(input)
    if (!unionLike && (lv == null || rv == null)) return null
    val a = ThetaExprs.sketchOf(lv)
    val b = ThetaExprs.sketchOf(rv)
    if (a == null) { if (unionLike && b != null) b.serialize() else null }
    else if (b == null) { if (unionLike) a.serialize() else null }
    else op(a, b).serialize()
  }
  override def nullSafeEval(lv: Any, rv: Any): Any =
    throw new IllegalStateException(s"$prettyName: eval is overridden")
}

/** `theta_union(a, b)` — sketch of A ∪ B (canonical, same as the aggregate
  * merge). */
case class ThetaUnion(left: Expression, right: Expression) extends ThetaBinaryOp {
  override def prettyName: String = "theta_union"
  override protected def unionLike: Boolean = true
  override protected def op(a: ThetaSketch, b: ThetaSketch): ThetaSketch =
    ThetaSketch.union(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ThetaUnion =
    copy(left = l, right = r)
}

/** `theta_intersect(a, b)` — sketch of A ∩ B with error proportional to the
  * INTERSECTION size (the bounded-error answer to the reference stub's "set
  * intersection" TODO, UDFCardinalityEstimator.java:30 — vs the
  * inclusion–exclusion `sketch_intersection_estimate`, whose error scales
  * with the union). */
case class ThetaIntersect(left: Expression, right: Expression) extends ThetaBinaryOp {
  override def prettyName: String = "theta_intersect"
  override protected def unionLike: Boolean = false
  override protected def op(a: ThetaSketch, b: ThetaSketch): ThetaSketch =
    ThetaSketch.intersect(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ThetaIntersect =
    copy(left = l, right = r)
}

/** `theta_jaccard(a, b)` — Jaccard similarity estimate |A∩B| / |A∪B| from
  * two stored theta sketches: both set expressions are evaluated at the
  * common θ = min(θ_A, θ_B), so this is the standard theta/KMV Jaccard
  * estimator (the sketch-level analogue of the exact n-gram Jaccard the
  * dedup operators compute per pair — usable on corpus-level sketches
  * where materializing either set is off the table). NULL and the empty
  * sketch are the empty set: J(∅, B) = 0, J(∅, ∅) = NULL (0/0). */
case class ThetaJaccard(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_jaccard"
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = ThetaExprs.check(prettyName, left.dataType)
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else ThetaExprs.check(prettyName, right.dataType)
  }
  // same NULL-as-empty discipline as the union-like ThetaBinaryOps
  override def eval(input: InternalRow): Any = {
    val a = ThetaExprs.sketchOf(left.eval(input))
    val b = ThetaExprs.sketchOf(right.eval(input))
    if (a == null && b == null) null
    else if (a == null || b == null) java.lang.Double.valueOf(0.0)
    else {
      val u = ThetaSketch.union(a, b).estimateDouble
      if (u == 0.0) null
      else java.lang.Double.valueOf(ThetaSketch.intersect(a, b).estimateDouble / u)
    }
  }
  override def nullSafeEval(lv: Any, rv: Any): Any =
    throw new IllegalStateException(s"$prettyName: eval is overridden")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ThetaJaccard =
    copy(left = l, right = r)
}

/** `theta_difference(a, b)` — sketch of A \ B (same sampling argument as
  * intersection). */
case class ThetaDifference(left: Expression, right: Expression) extends ThetaBinaryOp {
  override def prettyName: String = "theta_difference"
  override protected def unionLike: Boolean = false
  override protected def op(a: ThetaSketch, b: ThetaSketch): ThetaSketch =
    ThetaSketch.difference(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ThetaDifference =
    copy(left = l, right = r)
}
