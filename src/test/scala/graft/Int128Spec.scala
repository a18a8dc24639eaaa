package graft

import java.math.BigInteger

import graft.functions.{Int128, NanoD2Longs}

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The shared 128-bit helpers behind `bootstrap_moments_agg`,
  * `replicate_moments_agg` and `nano_d2`: exact carries, and DECIMAL(38,0)
  * results that turn NULL past 10^38 − 1, as a non-ANSI SUM does. */
class Int128Spec extends AnyFunSuite {

  private def limbs(v: BigInteger): (Long, Long) =
    (v.shiftRight(64).longValue(), v.longValue())

  private def decimalOf(v: BigInteger) = {
    val (hi, lo) = limbs(v)
    Option(Int128.toDecimal(hi, lo)).map(_.toJavaBigDecimal.toBigIntegerExact)
  }

  test("DECIMAL(38,0) holds ±(10^38 − 1); 10^38 and 2^127 − 1 give NULL") {
    val max = BigInteger.TEN.pow(38).subtract(BigInteger.ONE)
    val two127 = BigInteger.ONE.shiftLeft(127)
    for (v <- Seq(max, max.negate(), BigInteger.ZERO, BigInteger.ONE.negate(),
        BigInteger.valueOf(Long.MinValue), BigInteger.ONE.shiftLeft(126)))
      assert(decimalOf(v).contains(v), v)
    for (v <- Seq(max.add(BigInteger.ONE), max.add(BigInteger.ONE).negate(),
        two127.subtract(BigInteger.ONE), two127.negate()))
      assert(decimalOf(v).isEmpty, v)
  }

  test("accumulated sums and products equal BigInteger arithmetic") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val acc = new Int128
      var want = BigInteger.ZERO
      for (_ <- 1 to 50) {
        val v = rnd.nextLong()
        if (rnd.nextBoolean()) {
          acc.add(v); want = want.add(BigInteger.valueOf(v))
        } else {
          // |w·v| < 2^119, so 50 terms stay inside 128 bits
          val (w, v56) = (rnd.nextLong() >> rnd.nextInt(64), v >> 8)
          acc.addProduct(w, v56)
          want = want.add(BigInteger.valueOf(w).multiply(BigInteger.valueOf(v56)))
        }
      }
      assert((acc.hi, acc.lo) == limbs(want))
      assert(Option(acc.decimal).map(_.toJavaBigDecimal.toBigIntegerExact) ==
        Some(want).filter(_.abs.compareTo(BigInteger.TEN.pow(38)) < 0))
    }
  }

  test("nano_d2 past DECIMAL(38,0) is NULL, not an exception") {
    def arr(xs: Long*) = Literal.create(xs, ArrayType(LongType))
    // 2 · (9.2e18)^2 ≈ 1.69e38
    val over = NanoD2Longs(arr(4600000000000000000L, 4600000000000000000L),
      arr(-4600000000000000000L, -4600000000000000000L))
    assert(over.eval() == null)
    // one component: (9.2e18)^2 ≈ 8.46e37 still fits
    val one = NanoD2Longs(arr(4600000000000000000L), arr(-4600000000000000000L))
    assert(one.eval().toString == BigInteger.valueOf(9200000000000000000L).pow(2).toString)
  }
}
