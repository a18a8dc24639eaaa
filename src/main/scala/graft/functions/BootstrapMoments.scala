package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-replicate Poissonized-bootstrap moments for
  * [[graft.operators.Ml.bootstrapMeanCI]]: one buffer of B
  * (weight-sum, 128-bit weighted-value sum) pairs per group, plus the
  * unweighted (count, sum) that rides along in slot 0 for the point
  * estimate. Replicate b's weight for a row is the mean-1 law on hex digit
  * b of the row's md5 — '0'-'5' → 0, '6'-'9','a','b' → 1, 'c','d' → 2,
  * else → 3 — exactly the `ascii(substr(h, b+1, 1))` when-chain the old
  * ×B explode evaluated per (row × replicate), including its edge cases
  * (NULL md5 ⇒ weight 3 via the otherwise branch; a digit past the end of
  * the string ⇒ ascii('') = 0 ⇒ weight 0; codepoints 58–96 other than
  * 'a','b' ⇒ 2 — unreachable for real md5 but preserved bit-for-bit).
  *
  * Same rationale as [[ReplicateMoments]] (guide §2.3): the ×B
  * `explode(sequence(0, B−1))` + (group × replicate) aggregation with
  * decimal(38,0) buffers multiplied the fact table B× just to aggregate it
  * back down; this computes all B replicate cells in ONE pass with R byte
  * reads and long-pair adds per row. Weighted sums are exact signed 128-bit
  * integers (weight ≤ 3 × long value via multiplyHigh), converted to
  * DECIMAL(38,0) only at eval — bit-identical to the old
  * `sum(cast(w as decimal(38,0)) * cast(t as decimal(38,0)))`.
  *
  * Output: `ARRAY<STRUCT<wsum: BIGINT, wt: DECIMAL(38,0), n0: BIGINT,
  * s0: DECIMAL(38,0)>>`, index = replicate; `n0`/`s0` are the group's row
  * count / exact value sum in slot 0 and 0 elsewhere (matching the old
  * `when(b === 0, …)` ride-along columns).
  */
case class BootstrapMoments(
    hashExpr: Expression,
    valueExpr: Expression,
    bExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BootstrapMoments.Buffer] {

  import BootstrapMoments._

  override def children: Seq[Expression] = Seq(hashExpr, valueExpr, bExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hashExpr = newChildren(0), valueExpr = newChildren(1), bExpr = newChildren(2))

  override def withNewMutableAggBufferOffset(newOffset: Int): BootstrapMoments =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BootstrapMoments =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  override def dataType: DataType = resultType
  override def prettyName: String = "bootstrap_moments_agg"

  @transient private lazy val b: Int =
    Option(bExpr.eval()).map(_.asInstanceOf[Number].intValue()).getOrElse(-1)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!bExpr.foldable)
      return TypeCheckResult.TypeCheckFailure(
        "bootstrap_moments_agg: replicate count must be a foldable literal")
    if (b < 1 || b > 32)
      return TypeCheckResult.TypeCheckFailure(
        s"bootstrap_moments_agg: replicates must be in [1, 32]: $b")
    if (hashExpr.dataType != StringType)
      return TypeCheckResult.TypeCheckFailure(
        s"bootstrap_moments_agg: hash column must be STRING, got ${hashExpr.dataType.sql}")
    if (valueExpr.dataType != LongType)
      return TypeCheckResult.TypeCheckFailure(
        s"bootstrap_moments_agg: value column must be BIGINT, got ${valueExpr.dataType.sql}")
    TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): Buffer = new Buffer(b)

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    val h = hashExpr.eval(input)
    val v = valueExpr.eval(input)
    val hasV = v != null
    val vl = if (hasV) v.asInstanceOf[Long] else 0L
    buffer.n0 += 1L
    if (hasV) { buffer.nV += 1L; buffer.s0.add(vl) }
    val hs = if (h == null) null else h.asInstanceOf[UTF8String]
    val len = if (hs == null) 0 else hs.numBytes()
    var i = 0
    while (i < b) {
      // the old when-chain on a = ascii(substr(h, i+1, 1)), verbatim:
      // NULL h falls through every branch → 3; past-end digit reads 0 → 0
      val w: Long =
        if (hs == null) 3L
        else {
          val a = if (i < len) hs.getByte(i) & 0xff else 0
          if (a <= 53) 0L
          else if (a <= 57 || (a >= 97 && a <= 98)) 1L
          else if (a <= 100) 2L
          else 3L
        }
      buffer.wsum(i) += w
      if (w > 0L && hasV) buffer.wt(i).addProduct(w, vl)
      i += 1
    }
    buffer
  }

  override def merge(buffer: Buffer, input: Buffer): Buffer = {
    buffer.n0 += input.n0
    buffer.nV += input.nV
    buffer.s0.addWide(input.s0.hi, input.s0.lo)
    var i = 0
    while (i < b) {
      buffer.wsum(i) += input.wsum(i)
      buffer.wt(i).addWide(input.wt(i).hi, input.wt(i).lo)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Buffer): Any = {
    // SUM-null parity with the old explode: the weight w is never NULL, so
    // every row with a non-null value contributes a non-null product (even
    // 0·t) — wt and slot-0 s0 are NULL exactly when NO row had a value
    val hasAny = buffer.nV > 0L
    val s0 = if (hasAny) buffer.s0.decimal else null
    val zero = Decimal(java.math.BigDecimal.ZERO, 38, 0)
    val rows = new Array[Any](b)
    var i = 0
    while (i < b) {
      rows(i) = InternalRow(buffer.wsum(i),
        if (hasAny) buffer.wt(i).decimal else null,
        if (i == 0) buffer.n0 else 0L, if (i == 0) s0 else zero)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 32 + 24 * b)
    bb.putInt(b)
    bb.putLong(buffer.n0); bb.putLong(buffer.nV)
    bb.putLong(buffer.s0.hi); bb.putLong(buffer.s0.lo)
    var i = 0
    while (i < b) {
      bb.putLong(buffer.wsum(i)); bb.putLong(buffer.wt(i).hi); bb.putLong(buffer.wt(i).lo)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buffer(n)
    buf.n0 = bb.getLong; buf.nV = bb.getLong
    buf.s0.hi = bb.getLong; buf.s0.lo = bb.getLong
    var i = 0
    while (i < n) {
      buf.wsum(i) = bb.getLong; buf.wt(i).hi = bb.getLong; buf.wt(i).lo = bb.getLong
      i += 1
    }
    buf
  }
}

object BootstrapMoments {
  val resultType: ArrayType = ArrayType(StructType(Seq(
    StructField("wsum", LongType, nullable = false),
    StructField("wt", DecimalType(38, 0), nullable = true),
    StructField("n0", LongType, nullable = false),
    StructField("s0", DecimalType(38, 0), nullable = true))),
    containsNull = false)

  final class Buffer(val b: Int) extends Serializable {
    val wsum: Array[Long] = new Array[Long](b)
    val wt: Array[Int128] = Array.fill(b)(new Int128)
    var n0: Long = 0L
    var nV: Long = 0L // rows with a non-null value (SUM-null bookkeeping)
    val s0: Int128 = new Int128
  }

  def apply(h: Expression, v: Expression, b: Int): BootstrapMoments =
    BootstrapMoments(h, v, Literal(b))
}
