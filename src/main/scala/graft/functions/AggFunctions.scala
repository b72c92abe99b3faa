package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-independent floating-point aggregates.
  *
  * Double `sum()` results depend on the order partial aggregates merge in, so
  * the same query can yield last-bit-different results between runs, between
  * partition counts, and between engines. For any result that must
  * hash-match an external oracle (or simply be reproducible across cluster
  * sizes — a 100 TB job re-run on different executor counts should produce
  * the identical answer), we accumulate in DECIMAL: decimal addition is
  * exact, hence associative, hence order-independent. The final cast back to
  * double is a single deterministic rounding.
  *
  * Cost note: decimal hash-aggregation is ~2x a double sum but stays inside
  * whole-stage codegen with map-side partial aggregation, so the shuffle
  * profile is identical to a plain `sum`.
  */
object AggFunctions {

  /** Exact sum of a double column, returned as double.
    * @param scale decimal digits kept per value — 4 covers the harness data
    *              (2-decimal money / metric values) with headroom.
    */
  def sumExact(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(38, scale))).cast("double")

  /** Exact mean: exact decimal sum over a bigint count — both operands are
    * bit-deterministic, so the double division is too. Null-skipping count
    * matches SQL AVG semantics. */
  def avgExact(c: Column, scale: Int = 4): Column =
    sumExact(c, scale) / count(c)

  /** SCALE-TIER percentile: `approx_percentile` (GK sketch). The exact
    * `percentile` aggregate materializes every group's values in its
    * aggregation buffer — at 100 TB with billions of rows per group that is
    * an executor-memory cliff — while the sketch is O(1/accuracy) memory
    * per group and merges associatively, so it is the only percentile that
    * survives arbitrary group sizes. Error bound: rank error ≤
    * groupSize/accuracy. Keep the exact form where oracle bit-parity is
    * required (catalog q37); use this tier for production-scale rollups
    * (catalog q41). */
  def percentileApprox(c: Column, p: Double, accuracy: Int = 10000): Column =
    approx_percentile(c, lit(p), lit(accuracy))

  /** Deterministic sample standard deviation via the sum-of-squares
    * identity, with both sums accumulated exactly. The closed-form double
    * arithmetic is evaluated in a fixed operation order, so results are
    * bit-stable (unlike `stddev_samp`, which merges partial moments in
    * shuffle order).
    *
    * The squared sum runs in INTEGER UNITS: quantized values ×10^scale are
    * exactly integral (no rounding — Spark's decimal downcast rounds
    * HALF_UP while DuckDB's truncates, so any mid-pipeline re-quantization
    * diverges cross-engine), their squares sum exactly in DECIMAL(38,0),
    * and the sum is truncated back to WHOLE squared units before the
    * double conversion. Kept at fractional scale the exact sum exceeds
    * double's 53-bit exact range by sf0.1 and the engines' DECIMAL→DOUBLE
    * conversions round it differently (observed 1-ulp std drift); the
    * truncated integer part stays exactly representable to Σc² < 2^53. */
  def stddevExact(c: Column, scale: Int = 4): Column = {
    // scale ≤ 6: keeps values to ~10^(18-2·scale) inside the DECIMAL(18)
    // quantization (larger would silently null out of the squared sum) and
    // 10^(2·scale) inside Long.
    require(scale >= 1 && scale <= 6, s"stddevExact scale must be in [1,6], got $scale")
    val n = count(c).cast("double")
    val s = sumExact(c, scale)
    val unit = math.pow(10, scale).toLong
    val u = (c.cast(DecimalType(18, scale)) * unit).cast(DecimalType(18, 0))
    val ssu = sum(u * u) // exact integer, units of 10^(-2·scale)
    // MAGNITUDE-TIERED conversion (mirrored in catalog.Shared.dStd — keep in
    // lockstep): truncate ssu by the smallest power of 10 that brings the
    // quotient under 2^53, so small-magnitude columns (l_discount-like,
    // ssu < 9e15) convert EXACTLY — flooring them to whole units would
    // inject up to O(1/ssu) relative error and NaN on constants — while
    // large ones keep ≥ 13 significant digits. The remainder-subtract
    // makes each division exactly integral (a direct decimal divide
    // rounds); the 10^(d-2·scale) factors are IEEE doubles both engines
    // parse identically.
    val exact = ssu.cast("double") * lit(math.pow(10.0, -2 * scale))
    // tier d: ssu < 9·10^(15+d) → divide by 10^d, quotient < 9e15 < 2^53;
    // the else-branch (d = 24, no threshold — 9·10^39 exceeds both
    // engines' decimal literal range) covers every DECIMAL(38,0) value.
    def tier(d: Int) = {
      val div = BigDecimal(10).pow(d)
      ((ssu - pmod(ssu, lit(div))) / lit(div)).cast("double") * lit(math.pow(10.0, d - 2 * scale))
    }
    val ss = (3 to 21 by 3).foldLeft(
      when(ssu < lit(BigDecimal(9) * BigDecimal(10).pow(15)), exact)) { (acc, d) =>
      acc.when(ssu < lit(BigDecimal(9) * BigDecimal(10).pow(15 + d)), tier(d))
    }.otherwise(tier(24))
    sqrt(greatest(ss - s * s / n, lit(0.0)) / (n - lit(1.0)))
  }
}
