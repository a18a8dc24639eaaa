package graft.functions

import graft.sketch.BloomFilter

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `might_contain(bloom, x)` — probe a serialized Bloom filter. `false`
  * means x was definitely never inserted (no false negatives); `true` means
  * probably inserted (FPR per [[graft.sketch.BloomFilter]]).
  *
  * When the bloom side references no input attributes (a literal or a
  * scalar subquery — the runtime-filter shape), the filter is deserialized
  * ONCE and reused for every probe. A per-row bloom column falls back to
  * deserializing per distinct byte array (reference-cached), which is only
  * sensible for small filters.
  */
case class MightContain(bloomExpr: Expression, child: Expression)
  extends BinaryExpression {

  override def left: Expression = bloomExpr
  override def right: Expression = child
  override def dataType: DataType = BooleanType
  override def prettyName: String = "might_contain"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (bloomExpr.dataType != BinaryType)
      return TypeCheckResult.TypeCheckFailure(
        s"might_contain: first argument must be a BINARY bloom filter, got ${bloomExpr.dataType.sql}")
    child.dataType match {
      case dt if org.apache.spark.sql.graft.GraftBridge.isAtomic(dt) =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"might_contain: unsupported probe type ${dt.sql}")
    }
  }

  @transient private lazy val hashFn: Any => Long =
    TypedXxHash.kernel(child.dataType, BloomAgg.HashSeed)

  /** Parse-once path: bloom value fixed for the whole query. */
  @transient private lazy val staticBloom: BloomFilter = {
    val v = bloomExpr.eval(null)
    if (v == null) null else BloomFilter.deserialize(v.asInstanceOf[Array[Byte]])
  }
  // foldable, NOT references.isEmpty: a BoundReference (per-row bloom
  // column, e.g. probing a bloom manifest) also has no references but
  // cannot be evaluated against a null row
  @transient private lazy val isStatic: Boolean = bloomExpr.foldable

  // per-row fallback: cache keyed on the byte array reference
  @transient private var lastRef: Array[Byte] = _
  @transient private var lastParsed: BloomFilter = _

  def bloomFor(bytes: Array[Byte]): BloomFilter = {
    if (isStatic) staticBloom
    else {
      if (!(bytes eq lastRef)) {
        lastParsed = BloomFilter.deserialize(bytes)
        lastRef = bytes
      }
      lastParsed
    }
  }

  /** Kernel for generated code: probe with the bound hash function. */
  def probe(bytes: Array[Byte], value: Any): Boolean =
    bloomFor(bytes).mightContainHash(hashFn(value))

  override def nullSafeEval(bloomBytes: Any, value: Any): Any =
    probe(bloomBytes.asInstanceOf[Array[Byte]], value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mightContain", this, classOf[MightContain].getName)
    // box primitives explicitly — generated Java has no autoboxing here
    val box: String => String =
      if (CodeGenerator.isPrimitiveType(child.dataType))
        v => s"${CodeGenerator.boxedType(child.dataType)}.valueOf($v)"
      else identity
    nullSafeCodeGen(ctx, ev, (b, v) =>
      s"${ev.value} = $ref.probe($b, ${box(v)});")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MightContain =
    copy(bloomExpr = newLeft, child = newRight)
}
