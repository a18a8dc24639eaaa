package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-replicate pseudo-arm moments for the deterministic re-randomization
  * test ([[graft.operators.Ml.randomizationTest]]): one buffer of R
  * (count, 128-bit sum) pairs per group. Replicate b's pseudo-arm membership
  * for a row is hex digit b of the row's md5 being `< '8'` — exactly the
  * predicate the old explode path evaluated, one digit per (row × replicate).
  *
  * This aggregate replaces the ×R `explode(sequence(0, R−1))` fan-out +
  * (group × replicate) hash aggregation with decimal(38,0) buffers — the
  * 19.2M-row pipeline that was q279/q341's whole remaining cost after r11
  * (guide §2.3: don't multiply rows to aggregate them; the per-row work here
  * is R byte compares + at most R long-pair adds, with NOTHING fanned out).
  * Sums are exact signed 128-bit integers (two longs), converted to
  * DECIMAL(38,0) only at eval — bit-identical to the old
  * `sum(when(parm, cast(v as decimal(38,0))))` for any input that fits
  * decimal(38,0), i.e. anything this engine can produce (|v| ≤ 2⁶³ per row,
  * < 2¹²⁷/rowcount rows).
  *
  * Output: `ARRAY<STRUCT<m1: BIGINT, t1: DECIMAL(38,0)>>`, index = replicate.
  * Row-count semantics match the old explode exactly:
  *  - NULL md5 ⇒ the row joins NO pseudo-arm (old: NULL mask ⇒ NULL parm ⇒
  *    both sums take their 0/ignored branch);
  *  - md5 shorter than R (impossible for real md5 — kept for parity with
  *    `ascii(substr(h, b+1, 1)) = 0 ≤ 55` on out-of-range digits) ⇒ bit set;
  *  - NULL value with a set bit ⇒ counted in m1, ignored by t1 (old: the
  *    `when(parm, v)` branch yields NULL, which SUM skips).
  */
case class ReplicateMoments(
    hashExpr: Expression,
    valueExpr: Expression,
    rExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ReplicateMoments.Buffer] {

  import ReplicateMoments._

  override def children: Seq[Expression] = Seq(hashExpr, valueExpr, rExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hashExpr = newChildren(0), valueExpr = newChildren(1), rExpr = newChildren(2))

  override def withNewMutableAggBufferOffset(newOffset: Int): ReplicateMoments =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ReplicateMoments =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false // always an R-slot array, zeros included
  override def dataType: DataType = resultType
  override def prettyName: String = "replicate_moments_agg"

  @transient private lazy val r: Int =
    Option(rExpr.eval()).map(_.asInstanceOf[Number].intValue()).getOrElse(-1)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!rExpr.foldable)
      return TypeCheckResult.TypeCheckFailure(
        "replicate_moments_agg: replicate count must be a foldable literal")
    if (r < 1 || r > 32)
      return TypeCheckResult.TypeCheckFailure(
        s"replicate_moments_agg: replicates must be in [1, 32]: $r")
    if (hashExpr.dataType != StringType)
      return TypeCheckResult.TypeCheckFailure(
        s"replicate_moments_agg: hash column must be STRING, got ${hashExpr.dataType.sql}")
    if (valueExpr.dataType != LongType)
      return TypeCheckResult.TypeCheckFailure(
        s"replicate_moments_agg: value column must be BIGINT, got ${valueExpr.dataType.sql}")
    TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): Buffer = new Buffer(r)

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    buffer.n += 1L
    val h = hashExpr.eval(input)
    if (h != null) {
      val hs = h.asInstanceOf[UTF8String]
      val len = hs.numBytes()
      val v = valueExpr.eval(input)
      val hasV = v != null
      val vl = if (hasV) v.asInstanceOf[Long] else 0L
      var b = 0
      while (b < r) {
        // hex digit b < '8' ⇔ pseudo-arm (ascii ≤ 55; out-of-range digit
        // reads as ascii('') = 0 ⇒ set, matching the old substr predicate)
        if (b >= len || (hs.getByte(b) & 0xff) <= 55) {
          buffer.m1(b) += 1L
          if (hasV) buffer.add(b, vl)
          else buffer.nullHit(b) += 1L
        }
        b += 1
      }
    }
    buffer
  }

  override def merge(buffer: Buffer, input: Buffer): Buffer = {
    buffer.n += input.n
    var b = 0
    while (b < r) {
      buffer.m1(b) += input.m1(b)
      buffer.nullHit(b) += input.nullHit(b)
      buffer.addWide(b, input.hi(b), input.lo(b))
      b += 1
    }
    buffer
  }

  override def eval(buffer: Buffer): Any = {
    val rows = new Array[Any](r)
    var b = 0
    while (b < r) {
      // SUM-null parity with the old explode: t1 is NULL iff EVERY row of
      // the group landed in the `when(parm, v)` branch with a NULL v (rows
      // with the bit unset — or a NULL hash — contribute a non-null 0 via
      // the otherwise branch)
      val t1 = if (buffer.nullHit(b) == buffer.n) null else buffer.decimal(b)
      rows(b) = InternalRow(buffer.m1(b), t1)
      b += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 32 * r)
    bb.putInt(r)
    bb.putLong(buffer.n)
    var b = 0
    while (b < r) {
      bb.putLong(buffer.m1(b)); bb.putLong(buffer.hi(b)); bb.putLong(buffer.lo(b))
      bb.putLong(buffer.nullHit(b))
      b += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buffer(n)
    buf.n = bb.getLong
    var b = 0
    while (b < n) {
      buf.m1(b) = bb.getLong; buf.hi(b) = bb.getLong; buf.lo(b) = bb.getLong
      buf.nullHit(b) = bb.getLong
      b += 1
    }
    buf
  }
}

object ReplicateMoments {
  val resultType: ArrayType = ArrayType(StructType(Seq(
    StructField("m1", LongType, nullable = false),
    StructField("t1", DecimalType(38, 0), nullable = true))),
    containsNull = false)

  /** R × (count, signed-128-bit sum as (hi, lo)) — lo is the unsigned low
    * limb, hi carries the sign — plus the bookkeeping for SUM's NULL
    * semantics (`n` group rows, `nullHit` bit-set-with-NULL-value rows). */
  final class Buffer(val r: Int) extends Serializable {
    var n: Long = 0L
    val m1: Array[Long] = new Array[Long](r)
    val hi: Array[Long] = new Array[Long](r)
    val lo: Array[Long] = new Array[Long](r)
    val nullHit: Array[Long] = new Array[Long](r)

    /** sum(b) += v, v sign-extended to 128 bits. */
    def add(b: Int, v: Long): Unit = addWide(b, v >> 63, v)

    def addWide(b: Int, addHi: Long, addLo: Long): Unit = {
      hi(b) = Int128.sumHi(hi(b), lo(b), addHi, addLo)
      lo(b) += addLo
    }

    /** Exact DECIMAL(38,0) of the 128-bit sum; null on overflow. */
    def decimal(b: Int): Decimal = Int128.toDecimal(hi(b), lo(b))
  }

  def apply(h: Expression, v: Expression, r: Int): ReplicateMoments =
    ReplicateMoments(h, v, Literal(r))
}
