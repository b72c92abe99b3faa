package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Deterministic hash-based sampling — the reproducible alternative to
  * `df.sample()` for training-data curation.
  *
  * `rand()`-based sampling is non-reproducible across retries, partitionings,
  * and cluster sizes; at 100 TB a re-run of a failed stage would silently
  * change the corpus. Keying the keep/drop decision on a splitmix64 hash of
  * a stable row id makes the sample a pure function of the data: map-only
  * (no shuffle, no state), resumable, and consistent across engines — the
  * DuckDB oracle replays the identical hash.
  */
object Sampling {

  /** Quantile [[quantileThresholds]] gates at. */
  final val GateQuantile = 0.25
  /** [[leakageSafeSplit]]'s train and validation shares; test is the rest. */
  final val TrainFrac = 0.8
  final val ValFrac = 0.1
  /** Rate of the strata [[stratifiedHashSample]]'s map leaves out, and its
    * hash salt. */
  final val StratumDefault = 0.6
  final val StratumSalt = 7L
  /** Rows per group [[capPerGroup]] keeps. */
  final val GroupCap = 20
  /** Running cost per group [[budgetPerGroup]] keeps within. */
  final val GroupBudget = 4000L
  /** Total rows [[epochMixPlan]] plans for. */
  final val MixBudgetRows = 1000L

  /** Keep/drop granularity: 1e6 buckets → rates are exact to 1e-6. */
  final val Buckets = 1000000L

  /** Uniform bucket in [0, Buckets) from the salted splitmix64 of `id`.
    * Salting decorrelates independent samples drawn from the same ids
    * (train/validation splits, repeated experiments). */
  def hashBucket(id: Column, salt: Long): Column =
    pmod(HashFunctions.seeded(id.cast("long"), lit(salt)), lit(Buckets))

  /** Loud guard against the silent `cast("long")` null-out of non-integral
    * ids (the footgun [[ConnectedComponents.components]] documents): a
    * string/UUID id hashed through [[hashBucket]] yields null, which fails
    * every predicate and silently corrupts samples and splits. */
  private def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit =
    Guards.requireIntegralColumns(df, Seq(idCol), op)

  /** Per-group quantile thresholds from a deterministic hash sample — the
    * scale tier for "drop each language's bottom quartile by quality":
    * exact per-group percentiles sort the whole group (billion-row buffer
    * cliffs), sketches are engine-specific; a SplitMix64 id-sample (low 10
    * bits < 256: a quarter of the ids) cuts the sorted buffer while both engines
    * select the IDENTICAL rows, so the quantile — exact on the sample — is
    * bit-reproducible. The sample predicate rides the scan; the output is
    * group-count-sized, broadcast it into the gating filter.
    *
    * A group whose ids ALL hash outside the sample emits no row — LEFT
    * join the thresholds and treat a missing threshold as "keep all"
    * (ungated): an inner join would silently delete the whole group, the
    * worst outcome for exactly the low-resource groups the per-group gate
    * exists to protect.
    */
  def quantileThresholds(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      valueCol: String,
      salt: Long): DataFrame = {
    requireIntegralId(df, idCol, "quantileThresholds")
    df.filter(
        HashFunctions.seeded(col(idCol).cast("long"), lit(salt))
          .bitwiseAND(lit(1023L)) < lit(256L))
      .groupBy(col(groupCol))
      .agg(
        percentile(col(valueCol), lit(GateQuantile)).as("threshold"),
        count(lit(1)).as("n_sample"))
  }

  /** Leakage-safe train/val/test assignment: the split UNIT is the
    * duplicate cluster, not the document. Hashing each doc id
    * independently (q70's split) lets near-duplicate pairs straddle the
    * train/eval boundary — the classic benchmark-contamination leak; here
    * every member of a connected near-dup cluster hashes by its CLUSTER id
    * (singletons by their own id), so a duplicate pair crossing splits is
    * impossible by construction, not by audit.
    *
    * `components` is [[ConnectedComponents.components]] output
    * `(node, cluster)`. Adds a `split` column ("train"/"val"/"test" at
    * [[TrainFrac]]/[[ValFrac]]/remainder). The left join is id-keyed and
    * hash-partitionable; the cluster table is dup-count-sized, so AQE
    * broadcasts it whenever the dup rate lets it fit.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      components: DataFrame,
      salt: Long): DataFrame = {
    val (trainFrac, valFrac) = (TrainFrac, ValFrac)
    requireIntegralId(df, idCol, "leakageSafeSplit")
    val b = hashBucket(col("__unit"), salt)
    // components' columns land under reserved names so a `cluster` column
    // already on `df` can't be captured by the coalesce
    val units = components.select(col("node").as(idCol), col("cluster").as("__lss_cluster"))
    df.join(units, Seq(idCol), "left")
      .withColumn("__unit", coalesce(col("__lss_cluster"), col(idCol)))
      .withColumn(
        "split",
        when(b < lit(math.round(trainFrac * Buckets)), "train")
          .when(b < lit(math.round((trainFrac + valFrac) * Buckets)), "val")
          .otherwise("test"))
      .drop("__lss_cluster", "__unit")
  }

  /** Stratified sample: per-stratum rates from `fractions` (strata absent
    * from the map fall back to [[StratumDefault]]), hashed at [[StratumSalt]]. The standard corpus-rebalancing
    * shape — e.g. downsample an over-represented language while keeping the
    * tail at full rate. Still map-only: the stratum rate is a row-local
    * CASE, not a join. */
  def stratifiedHashSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      fractions: Map[String, Double]): DataFrame = {
    val threshold = fractions.toSeq.sortBy(_._1).foldLeft(lit(math.round(StratumDefault * Buckets))) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(math.round(f * Buckets))).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), StratumSalt) < threshold)
  }

  /** Rebalance to the smallest group: downsample every `groupCol` group to
    * (approximately) the size of the smallest one, deterministically.
    * Unlike [[stratifiedHashSample]], the per-group rates are DERIVED FROM
    * THE DATA (count aggregation) rather than supplied — the "flatten the
    * source/language mix" pass a curation pipeline runs after measuring
    * the corpus.
    *
    * A row survives iff  bucket(id) · count(group) < Buckets · min_count —
    * pure integer arithmetic (no rate rounding), so engines agree exactly.
    * (The product stays in BIGINT up to ~9e12-row groups.)
    *
    * Scale shape: the per-group count table has one row per group — it and
    * the 1-row global min are broadcast back into a map-only filter. The
    * data itself never shuffles, so group skew (the very thing being
    * corrected) cannot skew the job. */
  def rebalanceToSmallest(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      salt: Long = 0L): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__cnt"))
    val target = counts.agg(min(col("__cnt")).as("__target"))
    df.join(broadcast(counts), Seq(groupCol))
      .crossJoin(broadcast(target))
      .filter(hashBucket(col(idCol), salt) * col("__cnt") < lit(Buckets) * col("__target"))
      .drop("__cnt", "__target")
  }

  /** Downsample to a TARGET MIXTURE: keep per-group fractions so the
    * surviving corpus matches the given integer weight proportions as
    * closely as possible WITHOUT upsampling any group — the data-mixing
    * step of a training pipeline ("x% web, y% code, z% reference").
    *
    * The binding group (the one whose data runs out first relative to its
    * weight) is kept whole; every other group downsamples to match. With
    * `L = lcm(weights)` the binding scale is `M = min_g(n_g * L / w_g)`
    * (exactly integral) and a row of group g survives iff
    * `hash_bucket * L * n_g < Buckets * w_g * M` — pure integer
    * arithmetic, so survival is deterministic across engines, runs, and
    * partitionings, and re-running after an append keeps a superset of the
    * previous sample (hash thresholds only move). Groups without a weight
    * are dropped (the join is the filter).
    *
    * Plan: counts aggregate + two broadcasts + map-only filter; the corpus
    * itself never shuffles — the skew being corrected cannot skew the job.
    */
  def rebalanceToTarget(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      weights: Map[String, Long],
      salt: Long = 0L): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = weights.values.foldLeft(1L)((a, b) => a / gcd(a, b) * b)
    val spark = df.sparkSession
    import spark.implicits._
    // lw = lcm / w computed on the DRIVER as an exact Long (lcm % w == 0 by
    // construction): the Column form `lit(lcm) / col(w)` is fractional
    // division, which would make __lw — and everything derived from it —
    // DoubleType and silently demote the survival inequality below to
    // double past 2^53.
    val wdf = weights.toSeq.map { case (g, w) => (g, w, lcm / w) }
      .toDF(groupCol, "__w", "__lw")
    val counts = df.join(broadcast(wdf), Seq(groupCol))
      .groupBy(col(groupCol), col("__w"), col("__lw"))
      .agg(count(lit(1)).as("__cnt"))
    // __m stays decimal(38,0): cnt * lw overflows Long at the 1e10-row /
    // large-lcm scale this operator claims to handle.
    val binding = counts.agg(
      min(col("__cnt").cast("decimal(38,0)") * col("__lw").cast("decimal(38,0)")).as("__m"))
    df.join(broadcast(counts.select(col(groupCol), col("__w"), col("__cnt"))), Seq(groupCol))
      .crossJoin(broadcast(binding))
      .filter(
        // decimal(38,0) comparison: at 1e10-row groups with large weight
        // lcms the 64-bit products overflow; exact decimals never do
        hashBucket(col(idCol), salt).cast("decimal(38,0)") * lit(lcm) * col("__cnt") <
          lit(Buckets).cast("decimal(38,0)") * col("__w") * col("__m"))
      .drop("__w", "__cnt", "__m")
  }

  /** Temperature-based source rebalancing — the LLM data-mixing move
    * (GPT-3/PaLM style): sampled share per source ∝ n_s^α, flattening the
    * natural source distribution so rare sources aren't drowned. α is
    * FIXED at 1/2 (the canonical temperature T = 1/α = 2), because 1/2 is
    * the exponent with an exactly cross-engine-reproducible weight rule:
    * w_s = max(1, ⌊√n_s⌋), and IEEE-754 sqrt is CORRECTLY ROUNDED on
    * every engine (unlike pow, whose last-ulp differences between libm
    * implementations would flip a weight and silently change the kept
    * set). Counts below 2^53 stay exact through the double sqrt — at
    * larger per-source counts, derive weights upstream.
    *
    * Selection delegates to [[rebalanceToTarget]] with the derived
    * weights: deterministic hash thresholding, map-only on the data pass,
    * only bounded (source-count-sized) aggregations shuffle. The weight
    * pull is a driver collect of one row per SOURCE — an enum, never
    * data-sized. */
  def temperatureRebalance(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      salt: Long = 0L): DataFrame = {
    val counts = df
      .groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => r.get(0).toString -> r.getLong(1))
    require(counts.nonEmpty, "temperatureRebalance: no groups in input")
    val weights = counts.map { case (g, n) =>
      g -> math.max(1L, math.sqrt(n.toDouble).toLong)
    }.toMap
    rebalanceToTarget(df, idCol, groupCol, weights, salt)
  }

  /** Epoch-mix PLAN — the UPSAMPLING half of data mixing ([[
    * temperatureRebalance]]/[[rebalanceToTarget]] only thin): given target
    * weights and a total row budget, how many FULL EPOCHS of each source
    * to take plus how many remainder rows top up the fraction — the
    * "source X for 3.4 epochs" table an LLM data recipe publishes.
    *
    * All-integer arithmetic (products in decimal(38,0) — a 10^10-row
    * budget times a weight squares past 2^63): target_s =
    * ⌊budget·w_s/Σw⌋, full_epochs = target div n, remainder = target mod
    * n — so the plan is bit-identical on any engine, and Σ target_s
    * undershoots the budget by at most |sources| rows (the floor). The
    * plan is one bounded aggregation (source-count rows); APPLYING it is
    * [[capPerGroup]] with k = remainder per source on a fresh salt, plus
    * full-epoch repetition in the training loader (never materialize
    * epoch copies in storage).
    */
  def epochMixPlan(
      df: DataFrame,
      groupCol: String,
      weights: Map[String, Long]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    val spark = df.sparkSession
    import spark.implicits._
    val sumW = weights.values.sum
    val wdf = weights.toSeq.toDF(groupCol, "__w")
    val dec = "decimal(38,0)"
    // explicit floor()s: a bare cast back to scale-0 decimal rounds
    // HALF_UP and would overshoot the budget
    val target = floor(
      lit(MixBudgetRows).cast(dec) * col("__w").cast(dec) / lit(sumW).cast(dec))
    df.join(broadcast(wdf), Seq(groupCol))
      .groupBy(col(groupCol), col("__w"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("__t", target)
      .select(
        col(groupCol),
        col("n_rows"),
        col("__w").as("weight"),
        col("__t").cast("long").as("target_rows"),
        floor(col("__t") / col("n_rows").cast(dec)).cast("long").as("full_epochs"),
        (col("__t") % col("n_rows").cast(dec)).cast("long").as("remainder_rows"))
  }

  /** 52-bit hash rank: the selection order shared by [[capPerGroup]] and
    * [[budgetPerGroup]]. 2^52 < 2^53 keeps the value EXACTLY representable
    * as a double (TopKAgg's ord type), so ranking by the double and ranking
    * by the integer agree — the DuckDB oracle compares the integer. */
  private[graft] def hashRank52(id: Column, salt: Long): Column =
    pmod(HashFunctions.seeded(id.cast("long"), lit(salt)), lit(1L << 52))

  /** Per-group frequency cap: keep at most [[GroupCap]] rows per group, chosen
    * deterministically by salted-hash order (tie id ASC) — the web-curation
    * "at most N documents per domain" pass, without `rand()`'s
    * irreproducibility.
    *
    * Emits `(groupCol, idCol, rnk)` with `rnk` the 1-based hash-order rank;
    * join back on id for payload columns. Scale shape: this is a bounded
    * [[graft.plans.TopKAgg]] aggregation, NOT a `row_number` window — the
    * map side keeps a k-heap per group, so the exchange carries at most
    * groups × k pairs and a billion-row hot domain costs its scan, not a
    * sorted shuffle of itself (q96 vs q14 is the measured comparison). */
  def capPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      salt: Long = 0L): DataFrame = {
    // TopKAgg ranks (ord DESC, id ASC); negate the rank so the SMALLEST
    // hash wins — ascending-hash selection like every sampler here.
    val ord = -hashRank52(col(idCol), salt).cast("double")
    df.groupBy(col(groupCol))
      .agg(graft.plans.GraftFunctions.topK(ord, col(idCol).cast("long"), GroupCap).as("__keep"))
      .select(col(groupCol), posexplode(col("__keep")))
      .select(
        col(groupCol),
        col("col.id").as(idCol),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Per-group BUDGET cap: walk each group in salted-hash order and keep
    * rows while the running `costCol` total stays within [[GroupBudget]] — "at
    * most B tokens per source", the volume-based sibling of
    * [[capPerGroup]]'s count cap. Deterministic: the kept set is a pure
    * function of (ids, costs, salt), and is PREFIX-CLOSED in hash order, so
    * growing the budget only ever adds rows.
    *
    * Emits the input columns plus `cum_cost` (running total including the
    * current row; integer arithmetic, exact cross-engine). Scale shape: one
    * hash-partitioned window per group — unlike [[capPerGroup]] the
    * cumulative sum genuinely needs ordered per-group traversal, so this
    * shuffles the candidate rows on `groupCol`; run it AFTER the map-only
    * samplers have cut the corpus, not before. */
  def budgetPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      costCol: Column,
      salt: Long = 0L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(hashRank52(col(idCol), salt), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("cum_cost", sum(costCol.cast("long")).over(w))
      .filter(col("cum_cost") <= GroupBudget)
  }
}
