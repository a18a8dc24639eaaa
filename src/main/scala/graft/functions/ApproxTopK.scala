package graft.functions

import graft.sketch.SpaceSaving

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object ApproxTopK {
  val DefaultCapacity = 1024

  /** Result element: item, estimated count, max overestimate. The true count
    * is guaranteed inside [est - err, est]; with capacity > #distinct items
    * est is exact and err = 0. */
  val elementType: StructType = StructType(Seq(
    StructField("item", StringType),
    StructField("est", LongType),
    StructField("err", LongType)))
  val resultType: ArrayType = ArrayType(elementType)
}

/** `approx_top_k(item[, k[, capacity]])` — mergeable SpaceSaving heavy
  * hitters: the frequent-items companion to `approx_distinct`, built on the
  * same `TypedImperativeAggregate` pattern (see [[ApproxDistinct]] scaladoc
  * for the Catalyst phase wiring). One capacity-bounded summary per group
  * crosses the shuffle regardless of input size, so a global top-k over
  * 100 TB ships a few KB per map task — never a per-key count table.
  *
  * `topk_sketch_agg(item[, capacity])` (emitBinary) returns the serialized
  * summary instead of the top-k, and `topk_merge_agg(bin[, k[, capacity]])`
  * (mergeBinary) re-aggregates stored summaries — together the
  * store-then-merge contract, same as the cardinality sketches: persist
  * per-partition/per-day summaries, union them later without rescanning
  * raw data.
  *
  * `approx_top_k_weighted(item, weight, ...)` (integral `weightExpr`) ranks
  * by a SUMMED MEASURE instead of occurrence count — top brands by revenue,
  * top tokens by document weight — with the same guarantees over total
  * weight instead of n.
  *
  * Returns the top-k entries as `ARRAY<STRUCT<item, est, err>>`, ordered by
  * (est DESC, item ASC) — deterministic under count ties. NULL for an empty
  * group (matching `approx_distinct`'s NULL-for-empty convention).
  */
case class ApproxTopK(
    child: Expression,
    kExpr: Expression,
    capacityExpr: Expression,
    weightExpr: Expression = Literal(1L),
    mergeBinary: Boolean = false,
    emitBinary: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSaving] {

  def this(child: Expression) = this(child, Literal(10), Literal(ApproxTopK.DefaultCapacity))
  def this(child: Expression, k: Expression) =
    this(child, k, Literal(ApproxTopK.DefaultCapacity))

  override def children: Seq[Expression] = Seq(child, kExpr, capacityExpr, weightExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1), capacityExpr = newChildren(2),
      weightExpr = newChildren(3))

  override def withNewMutableAggBufferOffset(newOffset: Int): ApproxTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ApproxTopK =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = true
  override def dataType: DataType =
    if (emitBinary) BinaryType else ApproxTopK.resultType
  override def prettyName: String =
    if (emitBinary) "topk_sketch_agg"
    else if (mergeBinary) "topk_merge_agg"
    else "approx_top_k"

  @transient private lazy val k: Int =
    Option(kExpr.eval()).map(_.asInstanceOf[Number].intValue()).getOrElse(10)
  @transient private lazy val capacity: Int =
    Option(capacityExpr.eval()).map(_.asInstanceOf[Number].intValue())
      .getOrElse(ApproxTopK.DefaultCapacity)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!kExpr.foldable || !capacityExpr.foldable)
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName: k and capacity must be foldable literals")
    if (k < 1)
      return TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be >= 1, got $k")
    if (capacity < k)
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName: capacity must be >= k, got capacity=$capacity k=$k")
    weightExpr.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case dt => return TypeCheckResult.TypeCheckFailure(
        s"$prettyName: weight must be an integral column, got ${dt.sql}")
    }
    child.dataType match {
      case BinaryType if mergeBinary => TypeCheckResult.TypeCheckSuccess
      case _ if mergeBinary => TypeCheckResult.TypeCheckFailure(
        s"topk_merge_agg expects a BINARY serialized summary, got ${child.dataType.sql}")
      case StringType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"approx_top_k expects a STRING item column (cast first), got ${dt.sql}")
    }
  }

  override def createAggregationBuffer(): SpaceSaving = new SpaceSaving(capacity)

  override def update(buffer: SpaceSaving, input: InternalRow): SpaceSaving = {
    val v = child.eval(input)
    if (v != null) {
      if (mergeBinary) SpaceSaving.mergeSerializedInto(v.asInstanceOf[Array[Byte]], buffer)
      else {
        val w = weightExpr.eval(input)
        // null weight => row contributes nothing (matches null-item skip)
        if (w != null)
          // buffer-backed UTF8String probes the map by bytes; cloned only on insert
          buffer.offer(v.asInstanceOf[UTF8String], w.asInstanceOf[Number].longValue())
      }
    }
    buffer
  }

  override def merge(buffer: SpaceSaving, input: SpaceSaving): SpaceSaving = {
    buffer.mergeInPlace(input)
    buffer
  }

  override def eval(buffer: SpaceSaving): Any = {
    if (buffer.n == 0L) null
    else if (emitBinary) buffer.serialize()
    else new GenericArrayData(buffer.topKItems(k).map { case (item, est, err) =>
      InternalRow(item, est, err)
    }.toArray[Any])
  }

  override def serialize(buffer: SpaceSaving): Array[Byte] = buffer.serialize()

  override def deserialize(bytes: Array[Byte]): SpaceSaving =
    SpaceSaving.deserialize(bytes)
}
