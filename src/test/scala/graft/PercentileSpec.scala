package graft

import org.apache.spark.sql.functions._
import graft.functions.AggFunctions

/** The two percentile tiers (catalog q37 exact / q41 approx): the exact
  * aggregate is the oracle-checked form; the GK-sketch tier must track it
  * within its rank-error bound, because at 100 TB the exact form's
  * hold-all-values buffer is not an option. */
class PercentileSpec extends SparkSpec {
  import spark.implicits._

  test("approx_percentile tier tracks exact percentiles within the rank-error bound") {
    val n = 20000
    // deterministic non-uniform values, two groups
    val df = (1 to n).map(i => (if (i % 2 == 0) "a" else "b", (i * i % 9973).toDouble))
      .toDF("g", "v")
    val est = df.groupBy($"g").agg(AggFunctions.medianApprox($"v").as("m"))
    // the estimate's exact rank interval [lt+1, le] must reach the median
    // rank within the sketch's bound: n/accuracy = 100 ranks per 10k-row group
    val ranks = df.join(broadcast(est), Seq("g"))
      .groupBy($"g")
      .agg(count(lit(1)).as("n"),
        count(when($"v" < $"m", 1)).as("lt"),
        count(when($"v" <= $"m", 1)).as("le"))
      .collect()
    assert(ranks.length == 2)
    for (r <- ranks) {
      val (n, lt, le) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val slack = n / AggFunctions.ApproxAccuracy
      assert(lt <= n / 2 + slack && le >= n / 2 - slack,
        s"group ${r.getString(0)}: lt=$lt le=$le n=$n")
    }
  }

  test("q41 exact-rank audit: GK estimates pass the lt/le rank-interval check on every group") {
    // The q41 catalog form (estimate → broadcast → exact rank counts)
    // distilled: the GK element's true rank interval [lt+1, le] must
    // overlap [p−ε', p+ε']·n with ε' = 3% = 3× nominal 1/accuracy.
    // Exercised here on a TIE-HEAVY column (23 distinct values over 20k
    // rows — the case a value-bracket audit cannot handle).
    val df = (1 to 20000)
      .map(i => (if (i % 2 == 0) "a" else "b", (i * i % 23).toDouble))
      .toDF("g", "v")
    val est = df.groupBy($"g")
      .agg(AggFunctions.medianApprox($"v").as("m"))
    val audit = df.join(broadcast(est), Seq("g"))
      .groupBy($"g")
      .agg(count(lit(1)).as("n"),
        count(when($"v" < $"m", 1)).as("lt"),
        count(when($"v" <= $"m", 1)).as("le"))
      .collect()
    assert(audit.length == 2)
    for (r <- audit) {
      val (n, lt, le) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(lt * 1000 <= 530 * n, s"group ${r.getString(0)}: lt=$lt n=$n")
      assert(le * 1000 >= 470 * n, s"group ${r.getString(0)}: le=$le n=$n")
      // and on tie-heavy data the interval really is wide — the check
      // exercised the tie path, not a degenerate lt==le
      assert(le > lt, "expected ties at the median value")
    }
  }

  test("q87 hash-sampled bin edges bracket the exact quartiles (scale-tier audit)") {
    // The catalog q87 feeds its CASE binning from the deterministic ~10%
    // hash sample (the exact global percentile is a single-buffer sort
    // hazard at scale) — so exact-edge parity is audited HERE: each sampled
    // quartile must land between the exact quantiles at rank ±0.08
    // (sample rank sd ≈ sqrt(q(1-q)/600) ≈ 2% at fixture scale; 3-4 sigma).
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val key = ($"l_orderkey" * lit(8L) + $"l_linenumber").cast("long")
    val sampled = li
      .filter(graft.functions.HashFunctions.mix64(key).bitwiseAND(lit(1023L)) < lit(102L))
      .agg(
        percentile($"l_extendedprice", lit(0.25)).as("p25"),
        percentile($"l_extendedprice", lit(0.5)).as("p50"),
        percentile($"l_extendedprice", lit(0.75)).as("p75"))
      .head()
    val brackets = li.agg(
        percentile($"l_extendedprice", lit(0.17)), percentile($"l_extendedprice", lit(0.33)),
        percentile($"l_extendedprice", lit(0.42)), percentile($"l_extendedprice", lit(0.58)),
        percentile($"l_extendedprice", lit(0.67)), percentile($"l_extendedprice", lit(0.83)))
      .head()
    for ((i, lo, hi) <- Seq((0, 0, 1), (1, 2, 3), (2, 4, 5))) {
      val v = sampled.getDouble(i)
      assert(v >= brackets.getDouble(lo) && v <= brackets.getDouble(hi),
        s"sampled quartile $i = $v outside exact bracket " +
          s"[${brackets.getDouble(lo)}, ${brackets.getDouble(hi)}]")
    }
  }
}
