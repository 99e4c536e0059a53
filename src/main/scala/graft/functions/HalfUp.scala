package graft.functions

/** Spark's `round(x, s)` over a DOUBLE, without a BigDecimal per call.
  *
  * Spark's RoundBase rounds a double as
  * `BigDecimal.valueOf(x).setScale(s, HALF_UP).doubleValue()` (NaN and
  * ±Inf pass through): about 0.3-0.4 µs a call, which made it the unit
  * cost of every k-means assignment, IVF cell rank, PQ projection and
  * ADC score. [[round]] returns the same double, bit for bit, in a few
  * nanoseconds for almost every input:
  *
  *  - with `y = x·10^s` (one IEEE product; 10^s is exact for s ≤ 8),
  *    the decimal `BigDecimal.valueOf` reads (Double.toString, within
  *    half an ulp of x) times 10^s lies within 1.5 ulp(y) of y, so
  *    when `frac(|y|)` is more than 4·ulp(|y|) from 0.5 both round
  *    half-up to the same integer k (rounding is continuous away from
  *    the .5 points);
  *  - `k / 10^s` is what `BigDecimal.doubleValue` computes for an
  *    unscaled value below 2^52 and a scale below 23: one correctly
  *    rounded division of two exact doubles. k = 0 gives +0.0, as the
  *    sign-free BigDecimal zero does;
  *  - everything else (a near-tie, |y| ≥ 1e15, NaN, ±Inf) takes the
  *    BigDecimal chain itself, inside this function.
  *
  * `RoundingSpec` compares the two paths by raw bits over random,
  * tie-adjacent and special inputs.
  */
object HalfUp {

  /** 10^s, exact, for the supported scales 0 to 8. */
  private val Pow10 =
    Array(1.0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7, 1e8)

  def round(x: Double, scale: Int): Double = {
    val p = Pow10(scale)
    val y = x * p
    val a = Math.abs(y)
    // false for NaN and ±Inf too
    if (a < 1e15) {
      val f = Math.floor(a)
      val frac = a - f // exact: the low bits of a
      if (Math.abs(frac - 0.5) > 4 * Math.ulp(a)) {
        val k = (if (frac > 0.5) f + 1 else f).toLong
        return (if (y < 0) -k else k).toDouble / p
      }
    }
    viaBigDecimal(x, scale)
  }

  /** RoundBase's DoubleType branch, verbatim: [[round]]'s fallback. */
  private def viaBigDecimal(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
}
