package graft.text

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Python `round(x, digits)`: HALF_EVEN on the exact binary value of `x`
  * (SURVEY.md §2.8 parity watchpoint), bit-identical to
  * `new BigDecimal(x).setScale(digits, HALF_EVEN).doubleValue()`.
  *
  * Fast path: y = x * 10^digits is within half an ulp of the exact product.
  * When |y| < 2^20 (error below 2^-33) and y is at least 1e-6 from every
  * half-integer, the exact product rounds to the same integer k as
  * `rint(y)`, and k / 10^digits (both exact doubles, one correctly rounded
  * division) is the double nearest k * 10^-digits, which is what
  * `doubleValue` returns. A zero k returns +0.0, as BigDecimal has no -0.
  * Every other input (near a tie, large, NaN, infinite) takes the
  * BigDecimal path.
  */
private[graft] object HalfEven {

  private val Pow10 = Array(1.0, 10.0, 100.0, 1e3, 1e4)
  private val TieMargin = 1e-6
  private val FastRange = 1048576.0 // 2^20

  def round(x: Double, digits: Int): Double = {
    val p = Pow10(digits)
    val y = x * p
    if (math.abs(y) < FastRange && math.abs(y - math.floor(y) - 0.5) > TieMargin) {
      val k = math.rint(y)
      if (k == 0.0) 0.0 else k / p
    } else exact(x, digits)
  }

  def exact(x: Double, digits: Int): Double =
    new JBigDecimal(x).setScale(digits, RoundingMode.HALF_EVEN).doubleValue()
}
