package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact money aggregation in primitive codegen (SURVEY.md §7.5 float
  * discipline, round-7 fast path): numerically identical to the
  * decimal-cast discipline
  *
  *   CAST(sum(CAST(x AS DECIMAL(_, s))) AS DOUBLE)
  *
  * but ~1.8× faster (tools/PricingProf (removed; last in 672d67d):
  * decimal 0.92 s vs scaled-long 0.50 s on the flagship at sf0.1),
  * because Spark's decimal sums add Decimal objects while this form
  * sums primitive longs inside whole-stage codegen.
  *
  * Mechanics: each row rounds ONCE to the oracle's decimal scale via
  * the literal decimal cast — `CAST(x AS DECIMAL(30, s)) · 10^s`, an
  * exact integer (the decimal has ≤ s fractional digits) extracted as
  * BIGINT. Round-13 review replaced the earlier `round(x·10^s, 0)`
  * form here: rounding the double PRODUCT is NOT the same rounding as
  * the decimal cast — multiplying by 10^s moves decimal half-way
  * values off the .5 boundary (1.005·100 = 100.4999…, so round gave
  * 100 while both Spark's Cast and DuckDB round the shortest decimal
  * expansion "1.005" HALF_UP to 101; JVM + DuckDB verified). Exact
  * 2-decimal fixture money never hits the gap (its product is
  * integral), which is why every gate stayed green — but the contract
  * is per-row identity with the decimal cast, not fixture luck. The
  * scaled integer then splits into whole units (`div`) and sub-unit
  * remainder (`%`), each summed as a plain long — the decimal-OBJECT
  * work this form exists to avoid is the per-group aggregation
  * buffer, not the per-row cast. Per-group overflow bound ≥ 8·10¹³
  * rows at s=4 (vs ~8·10⁹ unsplit), and ANSI mode turns any violation
  * into a loud error, never a silent wrap. The exact total
  * reassembles in DECIMAL(38) space; the decimal division by 10^s is
  * exact (the quotient has ≤ s decimals), so the single double
  * rounding happens at the very end — the same one rounding the
  * oracle performs. Bit-parity with the decimal form is pinned in
  * EdgeCaseSpec and by every consumer's DuckDB value gate.
  */
object ExactSum {

  /** `≡ CAST(sum(CAST((xSql) AS DECIMAL(_, s))) AS DOUBLE)` where
    * `scale` = 10^s (a power of ten by contract). `xSql` is a raw SQL
    * expression over the input columns (it is inlined twice, into the
    * div and mod branches — cheap codegen arithmetic, and Catalyst's
    * common-subexpression elimination shares the scaled integer).
    */
  def moneySum(xSql: String, scale: Long): Column = {
    val s = java.lang.Long.toString(scale).length - 1
    require(scale == math.pow(10, s).toLong, s"scale must be a power of 10: $scale")
    // s ≤ 6 (round-14 review): the final decimal(38,0)-by-bigint
    // division resolves to decimal(38,6) under allowPrecisionLoss, so
    // a 7+-decimal scale would HALF_UP-round the exact total at 6
    // decimals and silently break the advertised oracle bit-parity
    require(s <= 6, s"moneySum scale 10^$s exceeds the division's " +
      "6-decimal result scale — the exact total would round silently")
    // the decimal cast IS the oracle's rounding (shortest-repr
    // HALF_UP); the ×10^s multiply and BIGINT extraction are exact
    val scaled = s"CAST(CAST(($xSql) AS DECIMAL(30,$s)) * $scale AS BIGINT)"
    ((sum(expr(s"$scaled div $scale")).cast("decimal(38,0)") * lit(scale) +
      sum(expr(s"$scaled % $scale"))) / lit(scale)).cast("double")
  }
}
