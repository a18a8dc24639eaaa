package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One 64-bit xxHash kernel per atomic input type, resolved once at bind
  * time (not per row). Shared by every hashing consumer in the engine
  * ([[ApproxDistinct]], [[BloomAgg]], [[SketchRead]]) so a value hashes
  * identically everywhere — a bloom built from a LONG column and probed
  * with the same LONG agrees by construction. */
object TypedXxHash {

  def kernel(dt: DataType, seed: Long): Any => Long = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      v => XXH64.hashLong(v.asInstanceOf[Long], seed)
    case IntegerType | DateType =>
      v => XXH64.hashLong(v.asInstanceOf[Int].toLong, seed)
    case ShortType => v => XXH64.hashLong(v.asInstanceOf[Short].toLong, seed)
    case ByteType => v => XXH64.hashLong(v.asInstanceOf[Byte].toLong, seed)
    case BooleanType => v => XXH64.hashLong(if (v.asInstanceOf[Boolean]) 1L else 0L, seed)
    case DoubleType => v => {
      val d = v.asInstanceOf[Double]
      XXH64.hashLong(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d), seed)
    }
    case FloatType => v => {
      val f = v.asInstanceOf[Float]
      XXH64.hashLong(java.lang.Double.doubleToLongBits(if (f == 0.0f) 0.0 else f.toDouble), seed)
    }
    case StringType => v => XXH64.hashUTF8String(v.asInstanceOf[UTF8String], seed)
    case BinaryType => v => {
      val b = v.asInstanceOf[Array[Byte]]
      XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, seed)
    }
    case _: DecimalType => v => {
      // one string per numeric value: trailing fractional zeros stripped, so
      // 1.5 and 1.50 agree while a value without them keeps its string
      val d = v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros
      val canon = if (d.scale < 0) d.setScale(0) else d
      XXH64.hashUTF8String(UTF8String.fromString(canon.toString), seed)
    }
    case _ => v => XXH64.hashUTF8String(UTF8String.fromString(String.valueOf(v)), seed)
  }
}
