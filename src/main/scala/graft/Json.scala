package graft

/** Number rendering for every JSON line the mains print or write. */
object Json {

  /** `v` rounded half-up to `dp` decimals, negatives included; `-1` for
    * NaN or infinity. Locale-independent, unlike `%.2f`, which follows
    * the JVM's default locale and writes `1,23` under a German one.
    */
  def decimal(v: Double, dp: Int): String =
    if (v.isNaN || v.isInfinite) "-1"
    else BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toString
}
