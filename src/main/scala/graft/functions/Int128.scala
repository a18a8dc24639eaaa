package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.types.Decimal

/** A signed 128-bit integer accumulator: `hi` carries the sign, `lo` is the
  * unsigned low limb. */
final class Int128 extends Serializable {
  var hi: Long = 0L
  var lo: Long = 0L

  def add(v: Long): Unit = addWide(v >> 63, v)

  /** += w·v exactly, for any longs. */
  def addProduct(w: Long, v: Long): Unit =
    addWide(java.lang.Math.multiplyHigh(w, v), w * v)

  def addWide(addHi: Long, addLo: Long): Unit = {
    hi = Int128.sumHi(hi, lo, addHi, addLo)
    lo += addLo
  }

  def decimal: Decimal = Int128.toDecimal(hi, lo)
}

/** Exact 128-bit integer sums over `(hi, lo)` long pairs, for aggregates
  * that must match a `SUM` over DECIMAL(38,0) without paying for
  * `java.math.BigDecimal` per row. */
object Int128 {

  /** The high limb of (hi, lo) + (addHi, addLo); the low limb is
    * `lo + addLo`. */
  @inline def sumHi(hi: Long, lo: Long, addHi: Long, addLo: Long): Long = {
    val newLo = lo + addLo
    // unsigned carry-out of lo + addLo
    hi + addHi + (((lo & addLo) | ((lo | addLo) & ~newLo)) >>> 63)
  }

  private val MaxDecimal38 = BigInteger.TEN.pow(38).subtract(BigInteger.ONE)

  /** The DECIMAL(38,0) of (hi, lo), or null when |value| > 10^38 − 1: a
    * non-ANSI `SUM` over DECIMAL(38,0) yields NULL on that overflow. */
  def toDecimal(hi: Long, lo: Long): Decimal = {
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(8 + i) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    val v = new BigInteger(bytes)
    // 2^126 < 10^38 − 1, so only a 127-bit magnitude can overflow
    if (v.bitLength() > 126 && v.abs().compareTo(MaxDecimal38) > 0) null
    else Decimal(new java.math.BigDecimal(v), 38, 0)
  }
}
