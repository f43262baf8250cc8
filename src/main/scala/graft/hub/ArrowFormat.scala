package graft.hub

/** Float→string formatting with the exact rules of Arrow C++'s
  * `CastFunction` (vendored google/double-conversion `ToShortest`), which the
  * reference relies on when a submitted parquet file stores `output_type_id`
  * as double and the hub schema wants string: `0.0 → "0"`, `111.0 → "111"`,
  * `0.01 → "0.01"`, `2.597827508665773e-9` keeps `e-9` form (reference
  * goldens: test_model_output_integration.py:117-122,
  * test_model_output.py:277-364).
  *
  * Spark's `CAST(double AS STRING)` gives `"0.0"` / `"111.0"` /
  * `"1.0E-2"`-style output, so parity needs this formatter.
  *
  * Rules (pyarrow 16's `cast(float64, string)` output; its goldens are
  * pinned by ArrowFormatSpec "double → string matches Arrow cast goldens"):
  *  - shortest round-trip decimal digits D with decimal-point position dp
  *    (value = 0.D * 10^dp)
  *  - decimal notation iff -5 <= dp <= 10, else exponent notation
  *    `d[.ddd]e±N` (no zero-padding of N, `+` sign for positive exponents)
  *  - `0 → "0"`, `-0.0 → "-0"`, `inf/-inf/nan` lowercase.
  */
object ArrowFormat {

  /** Shortest decimal digits that round-trip to exactly `v` (v finite, > 0).
    * Returns (digits-without-trailing-zeros, decimalPointPosition).
    */
  private def shortestDigits(v: Double): (String, Int) = {
    // JDK 17 Double.toString is shortest-round-trip in almost all cases, but
    // has known extra-digit corner cases; the precision loop below is exact.
    var p = 1
    var s = ""
    var done = false
    while (!done && p <= 17) {
      s = String.format(java.util.Locale.ROOT, "%." + (p - 1) + "e", Double.box(v))
      if (java.lang.Double.parseDouble(s) == v) done = true else p += 1
    }
    // s looks like "d.dddde±NN"
    val ei = s.indexOf('e')
    val mant = s.substring(0, ei).replace(".", "")
    val exp = Integer.parseInt(s.substring(ei + 1))
    val digits = {
      val t = mant.reverse.dropWhile(_ == '0').reverse
      if (t.isEmpty) "0" else t
    }
    (digits, exp + 1)
  }

  def doubleToString(v: Double): String = {
    if (java.lang.Double.isNaN(v)) return "nan"
    if (java.lang.Double.isInfinite(v)) return if (v > 0) "inf" else "-inf"
    if (v == 0.0) return if (1.0 / v < 0) "-0" else "0"
    val neg = v < 0
    val (d, dp) = shortestDigits(math.abs(v))
    val body =
      if (dp >= -5 && dp <= 10) {
        if (dp <= 0) "0." + ("0" * -dp) + d
        else if (dp >= d.length) d + ("0" * (dp - d.length))
        else d.substring(0, dp) + "." + d.substring(dp)
      } else {
        val mant = if (d.length == 1) d else d.substring(0, 1) + "." + d.substring(1)
        val e = dp - 1
        mant + "e" + (if (e >= 0) "+" + e else e.toString)
      }
    if (neg) "-" + body else body
  }

  /** float32 → string: Arrow formats floats from their own shortest digits. */
  def floatToString(v: Float): String = {
    if (java.lang.Float.isNaN(v)) return "nan"
    if (java.lang.Float.isInfinite(v)) return if (v > 0) "inf" else "-inf"
    if (v == 0.0f) return if (1.0f / v < 0) "-0" else "0"
    // shortest digits that round-trip through Float
    var p = 1
    var s = ""
    var done = false
    val av = math.abs(v)
    while (!done && p <= 9) {
      s = String.format(java.util.Locale.ROOT, "%." + (p - 1) + "e", Double.box(av.toDouble))
      if (java.lang.Float.parseFloat(s) == av) done = true else p += 1
    }
    val ei = s.indexOf('e')
    val mant = s.substring(0, ei).replace(".", "")
    val exp = Integer.parseInt(s.substring(ei + 1))
    val digits = { val t = mant.reverse.dropWhile(_ == '0').reverse; if (t.isEmpty) "0" else t }
    val dp = exp + 1
    val body =
      if (dp >= -5 && dp <= 10) {
        if (dp <= 0) "0." + ("0" * -dp) + digits
        else if (dp >= digits.length) digits + ("0" * (dp - digits.length))
        else digits.substring(0, dp) + "." + digits.substring(dp)
      } else {
        val m = if (digits.length == 1) digits else digits.substring(0, 1) + "." + digits.substring(1)
        val e = dp - 1
        m + "e" + (if (e >= 0) "+" + e else e.toString)
      }
    (if (v < 0) "-" + body else body)
  }
}
