package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.HashFunctions

/** Deterministic, cross-engine-reproducible sketches.
  *
  * Spark's own sketch aggregates (`approx_count_distinct` HLL++,
  * `approx_percentile` GK) are correct and scale-safe but their internals are
  * engine-specific: the same data yields different estimates on a different
  * engine, so results can only be verified by error bounds, not by equality.
  * The sketches here trade a little accuracy headroom for *bit-exact
  * reproducibility*: every step is integer arithmetic on SplitMix64 hashes
  * (public-domain finalizer, same constants as
  * [[graft.functions.HashFunctions.mix64]]) plus ONE final IEEE double
  * division, so an independent engine (the DuckDB oracle replays the math in
  * SQL) produces the identical estimate. That property matters operationally
  * at 100 TB: dedup/cardinality decisions made by a sketch can be audited and
  * re-derived downstream without re-running the original job.
  *
  * Reference anchor: the reference validates row counts per table
  * (`src/etl.py:283-291` acceptance query, `src/etl.py:305-315` constraint
  * counts); these sketches are the bounded-memory scale tier of the same
  * "how many distinct / how big" questions.
  */
object Sketches {

  /** HyperLogLog register-index bits: m = 2^8 = 256 registers. */
  final val HllP = 8
  /** Count-min sketch hash rows and counters per row, and the heavy
    * hitters [[cmsTopK]] keeps per group. */
  final val CmsDepth = 4
  final val CmsWidth = 1024
  final val CmsTopK = 5
  /** Bottom-k register size of the KMV quantile sketch. */
  final val KmvK = 256
  /** Days each window of [[bitmapSlidingDistinct]] spans. */
  final val BitmapWindowDays = 7

  /** Raw-estimator HyperLogLog with deterministic SplitMix64 hashing.
    *
    * Per group: hash each key to 64 bits; low `p` bits pick one of `m = 2^p`
    * registers, the remaining `64-p` bits' leading-zero rank (rho, in
    * `1 .. 65-p`) is max-reduced per register; the estimate is the classic
    * harmonic mean `alpha_m * m^2 / sum_j 2^(-M_j)` over all `m` registers
    * (absent registers contribute `2^0`). The inverse-power sum is
    * accumulated EXACTLY: each `2^(-M_j)` is scaled by `2^(65-p)` into an
    * integer summed as decimal(38,0), so the only floating-point op is the
    * final constant/sum division — the step that makes the estimate
    * bit-identical across engines and partitionings.
    *
    * Plan shape: two hash aggregations (group+register, then group) with
    * map-side partial combine — shuffle volume is at most `m` rows per group
    * regardless of input size, the property that makes distinct-counting
    * feasible on billion-cardinality groups where exact `count(distinct)`
    * needs a full repartition of every key.
    *
    * Raw estimator only (no small/large-range correction): keeps both engine
    * implementations one expression each; accuracy is the standard
    * `~1.04/sqrt(m)` once cardinality exceeds `~2.5*m` (SketchesSpec pins
    * the harness-data error; q34 is the exact tier).
    *
    * @param keyCol distinct-counted key (hashed via `cast(long)`)
    */
  def hllDistinct(
      df: DataFrame,
      groupCols: Seq[String],
      keyCol: Column): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, groupCols, keyCol), groupCols)

  /** The register table `(groupCols..., hll_bucket, hll_reg)` of the
    * [[hllDistinct]] sketch — exposed because registers, not estimates, are
    * the thing a production pipeline PERSISTS: per-day/per-shard register
    * tables (m rows per group) are unioned + [[hllMerge]]d to answer any
    * later cross-slice distinct question without re-reading the data, the
    * same incremental shape as q74's persisted LSH band table. */
  def hllRegisters(
      df: DataFrame,
      groupCols: Seq[String],
      keyCol: Column): DataFrame = {
    val p = HllP
    val m = 1 << p
    val maxRho = 65 - p // rho when the suffix is all zeros

    val h = HashFunctions.mix64(keyCol.cast("long"))
    val bucket = h.bitwiseAND(lit((m - 1).toLong))
    val w = shiftrightunsigned(h, p)
    // Accumulating bit-smear: after OR-ing in shifts of itself by
    // 1,2,4,8,16,32 every bit below the MSB is set, so bit_count = the bit
    // length of w; rho = (65-p) - bit_length(w).
    val s1 = w.bitwiseOR(shiftrightunsigned(w, 1))
    val s2 = s1.bitwiseOR(shiftrightunsigned(s1, 2))
    val s3 = s2.bitwiseOR(shiftrightunsigned(s2, 4))
    val s4 = s3.bitwiseOR(shiftrightunsigned(s3, 8))
    val s5 = s4.bitwiseOR(shiftrightunsigned(s4, 16))
    val s6 = s5.bitwiseOR(shiftrightunsigned(s5, 32))
    val rho = when(w === 0L, lit(maxRho))
      .otherwise(lit(maxRho) - bit_count(s6).cast("int"))

    val g = groupCols.map(col)
    df.select(g :+ bucket.as("hll_bucket") :+ rho.as("hll_rho"): _*)
      .groupBy(g :+ col("hll_bucket"): _*)
      .agg(max(col("hll_rho")).as("hll_reg"))
  }

  /** Merge unioned register tables (e.g. per-day slices) back into one
    * register set per group: register max is the HLL merge law — loss-free,
    * associative, commutative, so merged-then-estimated equals
    * estimated-over-everything exactly (SketchesSpec + q82 pin it). */
  def hllMerge(registers: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    registers
      .groupBy(g :+ col("hll_bucket"): _*)
      .agg(max(col("hll_reg")).as("hll_reg"))
  }

  /** Evaluate the estimate from a register table (see [[hllDistinct]] for
    * the exact-arithmetic construction). */
  def hllEstimateFromRegisters(
      registers: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val p = HllP
    val m = 1 << p
    val maxRho = 65 - p
    val g = groupCols.map(col)
    // 2^(-reg) scaled by 2^maxRho: an exact long in [1, 2^(maxRho-1)];
    // decimal(38,0) sum holds m * 2^maxRho (< 2^81 only for p=16 — still
    // inside 38 digits) without overflow or rounding. (expr form: the
    // functions-API `shiftleft` only accepts a literal shift amount, but the
    // underlying ShiftLeft expression shifts by a column just fine.)
    val scaledInv =
      expr(s"cast(shiftleft(cast(1 as bigint), $maxRho - hll_reg) as decimal(38,0))")
    val absent = (lit(m.toLong) - count(lit(1))).cast(DecimalType(38, 0)) *
      lit(1L << maxRho).cast(DecimalType(38, 0))
    registers
      .groupBy(g: _*)
      .agg((sum(scaledInv) + absent).as("__hll_s"))
      .select(g :+ (lit(HllNumerator) / col("__hll_s").cast("double")).as("est_distinct"): _*)
  }

  /** The exact double constant `alpha_m * m^2 * 2^(65-p)` used by
    * [[hllDistinct]], exposed so an external oracle can embed the identical
    * literal (Scala's `Double.toString` round-trips). */
  val HllNumerator: Double = {
    val m = 1 << HllP
    0.7213 / (1 + 1.079 / m) * m * m * math.pow(2.0, 65 - HllP)
  }

  /** Count-min-sketch heavy hitters: top-[[CmsTopK]] keys per group ranked by their
    * CMS count estimate, with the exact count alongside for auditing.
    *
    * The sketch: [[CmsDepth]] hash rows (seeded SplitMix64 family,
    * [[HashFunctions.seeded]]) × [[CmsWidth]] counters; a key's estimate is the
    * MIN of its `depth` counters, an upper bound on the true count
    * (Cormode & Muthukrishnan's classic bound: overestimate ≤ e·N/width
    * with probability 1 − e^(−depth)). Everything is integer arithmetic —
    * counter build, bucket probe, min — so the estimates are bit-identical
    * across engines; ties rank deterministically by key.
    *
    * Scale shape: the counter table is at most `groups × depth × width`
    * rows no matter how many input rows — the map-side combine collapses
    * each partition's contribution before the one small shuffle. At 100 TB
    * the counters stay broadcastable (4×1024 longs per group) while exact
    * per-key counting of billions of distinct keys would repartition every
    * key; the exact join here exists for the audit column and the oracle,
    * and is the piece a pure-scale deployment would drop.
    */
  def cmsTopK(
      df: DataFrame,
      groupCols: Seq[String],
      keyCol: Column): DataFrame = {
    val g = groupCols.map(col)

    val seeded = df
      .select(g :+ keyCol.cast("long").as("__cms_key"): _*)
      .withColumn("__cms_seed", explode(array((0 until CmsDepth).map(lit): _*)))
      .withColumn("__cms_bucket",
        HashFunctions.seeded(col("__cms_key"), col("__cms_seed"))
          .bitwiseAND(lit((CmsWidth - 1).toLong)))

    val counters = seeded
      .groupBy(g :+ col("__cms_seed") :+ col("__cms_bucket"): _*)
      .agg(count(lit(1)).as("__cms_c"))

    val itemBuckets = seeded
      .select(g :+ col("__cms_key") :+ col("__cms_seed") :+ col("__cms_bucket"): _*)
      .distinct()

    val est = itemBuckets
      .join(counters, groupCols :+ "__cms_seed" :+ "__cms_bucket")
      .groupBy(g :+ col("__cms_key"): _*)
      .agg(min(col("__cms_c")).as("est_count"))

    val exact = df
      .select(g :+ keyCol.cast("long").as("__cms_key"): _*)
      .groupBy(g :+ col("__cms_key"): _*)
      .agg(count(lit(1)).as("exact_count"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*)
      .orderBy(col("est_count").desc, col("__cms_key"))
    est
      .join(exact, groupCols :+ "__cms_key")
      .withColumn("__cms_rn", row_number().over(w))
      .filter(col("__cms_rn") <= CmsTopK)
      .drop("__cms_rn")
      .withColumnRenamed("__cms_key", "key")
  }

  // ---- KMV quantile registers ------------------------------------------

  /** Bottom-k-by-hash quantile registers — the QUANTILE analog of
    * [[hllRegisters]]: per group, the k rows whose SplitMix64 id-hash is
    * smallest, each carrying its measure value. The kept rows are a
    * uniform (hash-ordered) sample of the group that is (a) DETERMINISTIC
    * — both engines and every partitioning select the identical set, so
    * estimates are hash-verifiable, unlike `approx_percentile`'s
    * engine-specific digest; (b) FIXED-SIZE — k pairs per group no matter
    * how many billions of rows the group has, unlike q76's fixed-FRACTION
    * sample whose absolute size still grows with the data; (c) LOSSLESSLY
    * MERGEABLE — bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)),
    * so per-shard/per-day register tables recombine into any later slice
    * ([[kmvMerge]]) without re-reading the data.
    *
    * Built on [[graft.plans.KmvAgg]] (bounded-buffer
    * TypedImperativeAggregate): ObjectHashAggregate with map-side partial
    * combine, shuffle ≤ groups × k pairs. Rank error of a quantile over a
    * uniform k-sample is O(1/sqrt(k)) (KMV sampling, Bar-Yossef et al.'s
    * bottom-k estimator applied to values).
    *
    * @param idCol   distinct row id (cast to long, SplitMix64-hashed);
    *                duplicate ids double-count their rows, same caveat as
    *                [[hllDistinct]]'s key
    * @return `(groupCols..., kmv_h: bigint, kmv_v: double)`, ≤ k rows per
    *         group — the persistable register table
    */
  def kmvRegisters(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: Column,
      valueCol: Column): DataFrame = {
    val g = groupCols.map(col)
    df.groupBy(g: _*)
      .agg(graft.plans.GraftFunctions
        .kmvBottomK(HashFunctions.mix64(idCol.cast("long")), valueCol.cast("double"))
        .as("__kmv"))
      .select(g :+ explode(col("__kmv")).as("__e"): _*)
      .select(g :+ col("__e.h").as("kmv_h") :+ col("__e.v").as("kmv_v"): _*)
  }

  /** Merge unioned register tables (per-day/per-shard slices) back to one
    * register set per group — re-keeping bottom-k over the union of kept
    * pairs, which equals the registers of the combined data exactly
    * (KmvSpec and q98 pin it). */
  def kmvMerge(registers: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    registers
      .groupBy(g: _*)
      .agg(graft.plans.GraftFunctions
        .kmvBottomK(col("kmv_h"), col("kmv_v")).as("__kmv"))
      .select(g :+ explode(col("__kmv")).as("__e"): _*)
      .select(g :+ col("__e.h").as("kmv_h") :+ col("__e.v").as("kmv_v"): _*)
  }

  /** Quantile estimates from a register table: exact linear-interpolation
    * percentiles over the ≤ k kept values per group (bounded buffer by
    * construction — the unbounded-group hazard of exact `percentile` is
    * precisely what the registers removed).
    *
    * @param ps    quantiles in [0,1], emitted as columns `names` (same
    *              length); plus `n_keep`, the kept-sample size
    */
  def kmvQuantiles(
      registers: DataFrame,
      groupCols: Seq[String],
      ps: Seq[Double],
      names: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.length == names.length, "ps/names must align")
    val g = groupCols.map(col)
    registers
      .groupBy(g: _*)
      .agg(
        percentile(col("kmv_v"), array(ps.map(lit): _*)).as("__q"),
        count(lit(1)).as("n_keep"))
      .select(g ++
        names.zipWithIndex.map { case (n, i) =>
          element_at(col("__q"), i + 1).as(n)
        } :+ col("n_keep"): _*)
  }

  // ---- CMS join-size estimation ----------------------------------------

  /** Pre-flight JOIN CARDINALITY estimate from count-min sketches — the
    * sketch tier of [[Diagnostics.joinSkewProbe]] (q80). The exact output
    * size of an equi-join is the inner product of the two sides' key-count
    * vectors, `sum_k cA(k) * cB(k)`; the CMS estimate of that inner product
    * (Cormode & Muthukrishnan's dot-product estimator) is
    * `min_d sum_b cA[d][b] * cB[d][b]` over the depth rows — each row's
    * bucket-collision terms only ADD, so the estimate NEVER undercounts,
    * and `min` over d independent rows pulls the overshoot within
    * `(e/width) * |A| * |B|` with probability `1 - e^-depth`.
    *
    * Why it matters at 100 TB: answering "can I afford this join" exactly
    * costs a distinct-key shuffle of both sides (q80); the sketch answers
    * it from two `depth x width` counter tables — map-side-combined
    * aggregations whose exchanges carry at most `depth * width` rows each,
    * regardless of input size, and which can be persisted per-partition and
    * composed later (counters are additive).
    *
    * Emits ONE row: `est_pairs`, `exact_pairs` (the audit column a
    * pure-scale deployment drops), `overestimates` (the one-sided guarantee
    * as a checkable boolean). Both counts are exact integer arithmetic in
    * decimal(38,0) — products of billion-row key counts overflow BIGINT —
    * so the DuckDB oracle replays the identical values.
    */
  def cmsJoinSize(
      dfA: DataFrame,
      dfB: DataFrame,
      keyA: Column,
      keyB: Column): DataFrame = {

    def counters(df: DataFrame, key: Column, tag: String): DataFrame =
      df.select(key.cast("long").as("__k"))
        .withColumn("__s", explode(array((0 until CmsDepth).map(lit): _*)))
        .withColumn("__b",
          HashFunctions.seeded(col("__k"), col("__s"))
            .bitwiseAND(lit((CmsWidth - 1).toLong)))
        .groupBy(col("__s"), col("__b"))
        .agg(count(lit(1)).as(tag))

    // Inner join: a bucket missing from either side contributes 0 to the
    // dot product. Both counter tables are <= CmsDepth*CmsWidth rows — AQE
    // broadcasts this join however large the inputs were. A depth row with
    // NO shared buckets vanishes from the grouped join entirely, but its
    // dot product is 0 — and a 0 row estimate certifies the exact answer
    // is 0 (the row never undercounts) — so the min must see it: if fewer
    // than [[CmsDepth]] rows survive, the estimate is 0, not min-of-present.
    val est = counters(dfA, keyA, "__ca")
      .join(counters(dfB, keyB, "__cb"), Seq("__s", "__b"))
      .groupBy(col("__s"))
      .agg(sum(col("__ca").cast("decimal(19,0)") * col("__cb")).as("__dot"))
      .agg(when(count(lit(1)) === CmsDepth, min(col("__dot")))
        .otherwise(lit(0)).cast("decimal(38,0)").as("est_pairs"))

    def keyCounts(df: DataFrame, key: Column, tag: String): DataFrame =
      df.select(key.cast("long").as("__k")).groupBy(col("__k")).agg(count(lit(1)).as(tag))

    // coalesce: disjoint key sets make the join empty and sum() NULL — the
    // true join size there is 0.
    val exact = keyCounts(dfA, keyA, "__na")
      .join(keyCounts(dfB, keyB, "__nb"), Seq("__k"))
      .agg(coalesce(sum(col("__na").cast("decimal(19,0)") * col("__nb")), lit(0))
        .cast("decimal(38,0)").as("exact_pairs"))

    est.crossJoin(exact)
      .select(
        col("est_pairs"),
        col("exact_pairs"),
        (col("est_pairs") >= col("exact_pairs")).as("overestimates"))
  }

  /** EXACT sliding-window distinct ids via 64-bit bitmap words — the
    * exact tier beside the HLL-register path (q89): each day's id set
    * becomes `⌈ids/63⌉` (word, mask) rows (`bit_or` of `1 << id%63`), a
    * window's union is the word-wise `bit_or` of its days, and the
    * distinct count is the popcount sum. Roaring-bitmap semantics from
    * two codegen'd integer builtins — no sketch error, no per-id state
    * past the mask build.
    *
    * Scale shape: the per-day mask table is the persisted artifact
    * (≤ id-universe/63 rows per day — for 1e9 dense user ids, 16M longs
    * ≈ 128 MB/day, vs the raw event log's billions); the window fan-out
    * shuffles masks × windowDays, never events × windowDays, and masks
    * compose associatively so daily increments never reread history. Words pack
    * 63 bits, not 64 — engines that CHECK shift overflow (DuckDB) reject
    * `1 << 63`, and 63-bit packing keeps every mask value sign-free and
    * portable. The id must be a non-negative integral —
    * sparse huge id spaces want the HLL tier or an id-compaction pass
    * first. */
  def bitmapSlidingDistinct(
      events: DataFrame,
      tsCol: String,
      idCol: String): DataFrame = {
    val masks = events
      .select(to_date(col(tsCol)).as("day"),
        expr(s"$idCol div 63").as("w"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST($idCol % 63 AS INT))").as("__bit"))
      .groupBy(col("day"), col("w"))
      .agg(expr("bit_or(__bit)").as("mask"))
    // each day's masks serve the windows ENDING on day .. day+BitmapWindowDays-1;
    // keep only end-days that exist in the data (trailing ghost windows
    // would report partial ranges)
    val fanned = masks
      .select(col("day"), col("w"), col("mask"),
        explode(sequence(lit(0), lit(BitmapWindowDays - 1))).as("__k"))
      .select(expr("date_add(day, __k)").as("day"), col("w"), col("mask"))
    val presentDays = masks.select(col("day")).distinct()
    fanned
      .join(presentDays, Seq("day"), "left_semi")
      .groupBy(col("day"), col("w"))
      .agg(expr("bit_or(mask)").as("__m"))
      .groupBy(col("day"))
      .agg(sum(expr("bit_count(__m)")).as("n_exact"))
  }
}
