package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.AggFunctions.{avgExact, sumExact}

/** The reference's warehouse aggregation layer: the `v_hourly_traffic` view
  * (reference `src/database.py:101-112`) and the acceptance query
  * `get_top_cells` (reference `src/etl.py:283-299`).
  *
  * Physical shape at scale: one hash-aggregate with map-side partial
  * aggregation, shuffled on (hour, key) — the natural high-cardinality
  * grouping key, so no skew; the second aggregate reuses the shuffle's
  * key prefix. The final top-k plans as `TakeOrderedAndProject` (no global
  * sort).
  */
object Rollup {

  /** [[forwardRangeAgg]]'s look-ahead: one hour. */
  final val HorizonSec = 3600L
  /** Salts [[saltedSumCount]] splits each key over. */
  final val NumSalts = 32
  /** [[decayedCounts]]' staircase: weight halves every 3 days, ages clamp
    * at 9 steps. */
  final val DecayStepDays = 3
  final val DecayMaxSteps = 9

  /** Tumbling 1-hour rollup of the traffic fact: `DATE_TRUNC('hour',
    * datetime), cell_id, SUM(each metric), SUM(total)` — reference
    * v_hourly_traffic. Exact (order-independent) sums so re-runs at any
    * partitioning produce identical doubles. */
  def hourlyTraffic(fact: DataFrame): DataFrame = {
    val metrics = Cleaning.TrafficMetricCols
    val totalExpr = metrics.map(col).reduce(_ + _)
    val aggs =
      metrics.map(m => sumExact(col(m)).as(s"total_$m")) :+
        sumExact(totalExpr).as("total_activity")
    fact
      .groupBy(date_trunc("hour", col("datetime")).as("hour"), col("cell_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The reference acceptance query: per-cell mean hourly activity since
    * `since`, top `limit` cells. Tie-break on cell_id for a deterministic
    * result set. */
  def topCells(hourly: DataFrame, since: Column, limit: Int = 10): DataFrame =
    hourly
      .filter(col("hour") >= since)
      .groupBy(col("cell_id"))
      .agg(avgExact(col("total_activity")).as("avg_load"))
      .orderBy(col("avg_load").desc, col("cell_id").asc)
      .limit(limit)

  /** Generic tumbling-window rollup for any timestamped fact (the shape the
    * harness `events` table exercises). */
  def hourlyRollup(df: DataFrame, tsCol: String, keys: Seq[String], valueCol: String): DataFrame = {
    val groupCols = date_trunc("hour", col(tsCol)).as("hour") +: keys.map(col)
    df.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_events"), sumExact(col(valueCol)).as("total_value"))
  }

  /** Forward-looking temporal RANGE aggregation: for every row, the count
    * and exact sum of `valueCol` over same-key rows with timestamp in
    * `(t, t + HorizonSec]` — the window-frame form of a temporal range
    * self-join ("activity in the hour after each event").
    *
    * The join encoding (`b.ts > a.ts AND b.ts <= a.ts + H` — what the
    * DuckDB oracle runs) materializes every qualifying PAIR before
    * re-aggregating: per-key cost O(rows × matches). This plans instead as
    * one hash shuffle on the key, one per-partition sort, and a sliding
    * value-based frame over microsecond epochs — O(n log n) per key, no
    * pair blowup, the plan you want when a hot key has 10^6 events at
    * 100 TB. Frame bounds are value-based (`rangeBetween`), so rows with
    * equal timestamps all see the identical (exclusive-of-self-instant)
    * window, matching the join semantics exactly.
    */
  def forwardRangeAgg(
      df: DataFrame, key: String, tsCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col(key))
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(1L, HorizonSec * 1000000L)
    // sumExact's decimal accumulation, applied windowed (`.over` must wrap
    // the raw aggregate, so the decimal cast chain is inlined here). Both
    // aggregates are emitted in ONE projection: chained withColumn would
    // leave a Project between the two Window operators, defeating
    // CollapseWindow and paying the partition+sort twice.
    val exactSum = sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(38, 4)))
    df.select(
      col("*"),
      count(lit(1)).over(w).as("n_next"),
      coalesce(exactSum.over(w).cast("double"), lit(0.0)).as("sum_next"))
  }

  /** Two-stage SALTED aggregation for skewed grouping keys: stage 1
    * aggregates on (keys..., salt) — splitting each hot key's rows across
    * [[NumSalts]] reducers — stage 2 merges the per-salt partials on the keys
    * alone. The 100 TB failure mode this kills: a low-cardinality or
    * power-law key (here: 5 event types over the whole fact) funnels one
    * reducer a whole key's rows; with the salt, no reducer sees more than
    * ~1/NumSalts of any key.
    *
    * The result is EXACTLY the plain `groupBy(keys).agg(count, sumExact)`
    * — counts and decimal sums are associative, so the two-stage merge is
    * value-identical regardless of how the salt scattered rows (the q57
    * oracle is the UNSALTED SQL for this reason). The salt is derived from
    * a row id, not the data values, so a hot key whose rows all carry the
    * SAME value still spreads evenly.
    */
  def saltedSumCount(
      df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 4)
    val partial = df
      .withColumn("__salt", pmod(monotonically_increasing_id(), lit(NumSalts.toLong)))
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(
        count(lit(1)).as("__n"),
        sum(col(valueCol).cast(dec)).as("__s"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("__n")).as("n_rows"),
        sum(col("__s")).cast("double").as("total_value"))
  }

  /** Time-decayed counts with EXACT dyadic weights — "recency-weighted
    * popularity" without floating-point drift. Naive exponential decay
    * (`sum(exp(-age/tau))`) is a sum of irrational doubles: its value
    * depends on partition merge order, so two runs of the same job — let
    * alone two engines — disagree in the low bits. Here the decay is a
    * STAIRCASE: weight halves every [[DecayStepDays]] (age bucket `s` in
    * `[0, maxSteps]`, maxSteps = [[DecayMaxSteps]], gets weight `2^(maxSteps-s)`, an exact integer), the
    * weights are summed as decimal(38,0) (associative, order-independent),
    * and one final division by `2^maxSteps` rescales — so the score is
    * bit-identical across partitionings, retries, and engines whenever the
    * integer sum stays below 2^53 (at maxSteps=9 that is ~1.8e13
    * fully-weighted rows PER GROUP; beyond that the cast rounds but stays
    * order-independent).
    *
    * The reference time is `max(date(tsCol))` over the input — derived from
    * the data, so the score is a pure function of the table (re-runnable,
    * cacheable).
    *
    * Plan shape: one scalar max (broadcast back as a 1-row cross join) +
    * one map-side-combined aggregation — two scans, no row shuffle beyond
    * the group exchange. */
  def decayedCounts(
      df: DataFrame,
      groupCols: Seq[String],
      tsCol: Column): DataFrame = {
    val (stepDays, maxSteps) = (DecayStepDays, DecayMaxSteps)
    val g = groupCols.map(col)
    val withRef = df.crossJoin(broadcast(df.agg(max(to_date(tsCol)).as("__ref"))))
    // ages are small integers: the double division inside floor is exact;
    // steps are clamped into [0, maxSteps].
    val steps = greatest(
      lit(0),
      least(
        floor(datediff(col("__ref"), to_date(tsCol)) / lit(stepDays.toDouble)).cast("int"),
        lit(maxSteps)))
    withRef
      .withColumn("__w", call_function("shiftleft", lit(1L), lit(maxSteps) - steps))
      .groupBy(g: _*)
      .agg(
        count(lit(1)).as("n_events"),
        (sum(col("__w").cast("decimal(38,0)")).cast("double") /
          lit(math.pow(2.0, maxSteps))).as("decayed_score"))
  }

  /** Per-group MODE profile: the most frequent `valueCol` per group with
    * its count, the group's row total, distinct-value count, and the
    * mode's share in integer ppm — the "dominant category" row of a
    * profiling report (top value of a categorical column, most common
    * event type per user segment). Ties break DETERMINISTICALLY toward
    * the larger value (struct-max on (count, value) — plan- and
    * partitioning-independent where SQL's any-value mode is not).
    *
    * Scale shape: one map-combined rollup to (group, value) counts, one
    * group-keyed struct-max over that counts table — shuffle bounded by
    * group × value cardinality, never rows. */
  def groupMode(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val g = groupCols.map(col)
    df
      .groupBy(g :+ col(valueCol).as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(g: _*)
      .agg(
        max(struct(col("__c"), col("__v"))).as("__m"),
        sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_distinct_values"))
      .select(g ++ Seq(
        col("__m.__v").as("mode_value"),
        col("__m.__c").as("mode_count"),
        col("n_rows"), col("n_distinct_values"),
        expr("(__m.__c * 1000000) div n_rows").as("mode_share_ppm")): _*)
  }

  /** Day-of-week seasonality profile: per group and weekday, the event
    * count and a seasonal INDEX in integer ppm — the group's per-day
    * rate on that weekday relative to its overall per-day rate
    * (1 000 000 = flat; 2 000 000 = twice the average day). The
    * weekday-mix fingerprint capacity planning and anomaly baselining
    * read first; computed without a single double:
    * `index_ppm = (c_dow · D · 10⁶) div (c_total · d_dow)` with `d_dow`
    * the number of distinct calendar days of that weekday IN THE DATA
    * (so a short or ragged observation window cannot bias the rates)
    * and `D = Σ d_dow`.
    *
    * Weekday numbering is Spark `dayofweek` (1 = Sunday … 7 = Saturday).
    * Rows with a null timestamp are dropped.
    *
    * Scale shape: one map-combined rollup to (group, dow) counts; the
    * calendar (≤ 7 rows after a distinct over observed days — itself
    * map-combined) and the per-group totals broadcast back. Output is
    * groups × 7. */
  def seasonalityProfile(
      df: DataFrame,
      groupCols: Seq[String],
      tsCol: String): DataFrame = {
    val g = groupCols.map(col)
    val based = df
      .filter(col(tsCol).isNotNull)
      .withColumn("__day", date_trunc("day", col(tsCol)))
      .withColumn("__dow", dayofweek(col(tsCol)).cast("long"))
    val calendar = based.select(col("__day"), col("__dow")).distinct()
      .groupBy(col("__dow")).agg(count(lit(1)).as("days_of_dow"))
    val totalDays = calendar.agg(sum(col("days_of_dow")).as("__D"))
    val perDow = based
      .groupBy(g :+ col("__dow"): _*)
      .agg(count(lit(1)).as("n_events"))
    val totals = perDow.groupBy(g: _*).agg(sum(col("n_events")).as("__tot"))
    perDow
      .join(broadcast(calendar), Seq("__dow"))
      .join(broadcast(totals), groupCols)
      .crossJoin(broadcast(totalDays))
      .select(g ++ Seq(
        col("__dow").as("dow"), col("n_events"), col("days_of_dow"),
        // Cross-multiply in decimal(38,0): n_events·__D·10⁶ overflows
        // BIGINT past ~9·10⁹ events in one dow-group × ~10³ observed
        // days — silent wrap (or ANSI throw) exactly at the scale this
        // operator targets. `div` (IntegralDivide) presents as BIGINT
        // regardless of operand width, so the output type is unchanged.
        expr("(CAST(n_events AS DECIMAL(38,0)) * __D * 1000000) div " +
          "(CAST(__tot AS DECIMAL(38,0)) * days_of_dow)")
          .as("index_ppm")): _*)
  }

  /** Gap-filled daily series with forward fill: for every key, a COMPLETE
    * day spine from its first to its last observation, carrying each
    * day's closing value forward across the gaps — the
    * resample-and-pad-forward step that turns an irregular event stream
    * into the regular series feature windows and drift monitors consume.
    *
    * Each observed day's closing value is the arg-max by `(tsCol,
    * tieCol)` (tieCol must make the pair unique — an event id; struct-max
    * keeps the election deterministic under any partitioning, where a
    * bare `last()` depends on arrival order). The fill is a running
    * `last(_, ignoreNulls)` over the spine — the [[AsOfJoin]] merge
    * idiom. The first spine day is observed by construction, so no row
    * is left null.
    *
    * Scale shape: closings are one map-combined aggregation to
    * (key, day); the spine explodes `sequence(min_day, max_day)` per key
    * — output rows = keys × their own span, never keys × global span —
    * and the fill windows partition by key over that bounded spine. At
    * 100 TB the spine table is days-per-key-sized, tiny next to the
    * event corpus it summarizes; nothing ever re-reads the corpus.
    *
    * Emits `(keyCol, day, value, is_observed)`. Rows with a null
    * timestamp or null key are dropped (they define no day/series). */
  def forwardFillDaily(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val closings = df
      .filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .agg(max(struct(col(tsCol).as("__ts"), col(tieCol).as("__tie"),
        col(valueCol).as("__v"))).getField("__v").as("__closing"))
    val spine = closings
      .groupBy(col(keyCol))
      .agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
      .select(col(keyCol),
        explode(sequence(col("__d0"), col("__d1"),
          expr("make_interval(0, 0, 0, 1)"))).as("day"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(closings, Seq(keyCol, "day"), "left")
      .withColumn("value", last(col("__closing"), ignoreNulls = true).over(w))
      .withColumn("is_observed", col("__closing").isNotNull)
      .drop("__closing")
  }
}
