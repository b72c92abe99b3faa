package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-step funnel over an event log: how many users performed step 1,
  * then step 2 STRICTLY AFTER their first step 1, then step 3 strictly
  * after that first qualifying step 2, … — the conversion question every
  * event-analytics dashboard asks (view → click → purchase).
  *
  * Semantics: a user converts at step i+1 if any step-i+1 event falls
  * strictly after their EARLIEST qualifying step-i time (first-touch
  * attribution, the standard funnel definition). Each stage keeps the
  * earliest qualifying time, so conversion windows compose transitively.
  *
  * Scale shape: no per-user event buffering, no windows, no driver state.
  * Stage i is `filter(step_i) → user-keyed min-aggregate → user-keyed join
  * with stage i−1` — every aggregate and join keys on the user column, so
  * the first exchange's hash partitioning is REUSED by every later stage
  * (one shuffle of each step's filtered slice, step predicates pushed to
  * the scan). Stage frames shrink monotonically: stage i+1 joins a
  * user-count-sized frame, never the raw log.
  */
object Funnel {

  /** Inactivity that splits [[sessionPaths]]' sessions, and the event
    * types its path keeps per session. */
  final val SessionGapMinutes = 30
  final val PathSteps = 5

  /** Per-user earliest qualifying time of each reached step: one row per
    * user who completed step 1, with `t1..tN` (later steps null once the
    * user drops out). `steps` are matched against `typeCol` in order. */
  def userSteps(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol))
      .agg(min(col(tsCol)).as("t1"))
    steps.zipWithIndex.drop(1).foldLeft(first) { case (prev, (step, i)) =>
      val tPrev = s"t$i"
      val tCur = s"t${i + 1}"
      val next = events.filter(col(typeCol) === step)
        .join(prev.select(col(userCol), col(tPrev)), Seq(userCol))
        .filter(col(tsCol) > col(tPrev))
        .groupBy(col(userCol))
        .agg(min(col(tsCol)).as(tCur))
      prev.join(next.select(col(userCol), col(tCur)), Seq(userCol), "left")
    }
  }

  /** Event-transition matrix ("top paths"): for each adjacent pair of
    * events per user in time order, count (from_type → to_type) and its
    * share of all transitions leaving `from_type` — the Markov-chain view
    * of user journeys.
    *
    * `tieCol` must make (tsCol, tieCol) unique per user (e.g. the event
    * id): equal timestamps would otherwise leave the successor — and the
    * whole matrix — partition-order-dependent.
    *
    * Scale shape: ONE shuffle of the log (hash on `userCol`) feeding a
    * sort-within-partition window — the unavoidable cost of sequence
    * semantics, and the only place this engine uses a window over raw
    * events. Everything after the `lead` is matrix-sized (|types|² rows);
    * the per-source totals broadcast back for the share.
    */
  def transitions(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val matrix = events
      .select(col(userCol), col(typeCol), col(tsCol), col(tieCol))
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val totals = matrix.groupBy(col("from_type"))
      .agg(sum(col("n_transitions")).as("__tot"))
    matrix.join(broadcast(totals), Seq("from_type"))
      .withColumn("share",
        col("n_transitions").cast("double") / col("__tot").cast("double"))
      .drop("__tot")
  }

  /** Frequent session journeys: sessionize each user's events on an
    * inactivity gap, render each session's first [[PathSteps]] event types as
    * a `a>b>c` path string, and count sessions per path — the "what are
    * the top user journeys" report behind every path-analysis view, and
    * the empirical sequence distribution [[transitions]]' first-order
    * matrix approximates.
    *
    * Determinism: events order by (ts, tieCol) — a total order — and the
    * head truncation at [[PathSteps]] bounds both the path string and the
    * distinct-path cardinality (≤ |types|^PathSteps), which is what keeps
    * the final rollup broadcast-sized regardless of corpus size.
    * Sessions split at gaps over [[SessionGapMinutes]].
    *
    * Scale shape: ONE user-keyed shuffle+sort serves the gap detection,
    * the running session id, and (because hash(user) still clusters
    * (user, session)) the per-session fold — no second shuffle until the
    * path-sized rollup; top-k is TakeOrderedAndProject. */
  def sessionPaths(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val gapUs = SessionGapMinutes.toLong * 60000000L
    events
      .select(col(userCol), col(typeCol), col(tsCol), col(tieCol))
      .withColumn("__new",
        when(lag(col(tsCol), 1).over(w).isNull ||
          (unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w))) > gapUs,
          1L).otherwise(0L))
      .withColumn("__sid",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("__sid"))
      .agg(concat_ws(">",
        slice(
          transform(
            array_sort(collect_list(struct(col(tsCol), col(tieCol), col(typeCol)))),
            e => e.getField(typeCol)),
          1, PathSteps)).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Gaps-and-islands: collapse each key's ordered event stream into RUNS
    * of consecutive equal `valueCol` — the state-segment table (device
    * online/offline spans, user plan periods, sensor regimes) that turns
    * an event log into intervals [[graft.operators.AsOfJoin]] can join.
    * The classic `row_number − row_number` trick: within a key, the
    * difference between the global sequence and the per-(key, value)
    * sequence is constant exactly along a run.
    *
    * `orderCols` must totally order each key's stream (append a unique
    * id — the [[graft.operators.Layout.compactionPlan]] determinism
    * rule), and rows with NULL order keys must be excluded by the caller:
    * engines place nulls at opposite ends of a window sort (Spark NULLS
    * FIRST, DuckDB NULLS LAST), which would segment runs differently.
    * Output: one row per run with the run's value, start/end
    * order keys (min/max of the FIRST order column), and length.
    *
    * Scale shape: ONE key-partitioned window shuffle serves both
    * row_numbers (same partitioning, same sort), then a map-combined
    * rollup to runs — run count ≤ rows, never a join. */
  def valueRuns(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "need at least one ordering column")
    import org.apache.spark.sql.expressions.Window
    val ord = orderCols.map(col)
    val wAll = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
    val wVal = Window.partitionBy(col(keyCol), col(valueCol)).orderBy(ord: _*)
    df
      .withColumn("__grp",
        row_number().over(wAll) - row_number().over(wVal))
      .groupBy(col(keyCol), col(valueCol), col("__grp"))
      .agg(
        min(col(orderCols.head)).as("run_start"),
        max(col(orderCols.head)).as("run_end"),
        count(lit(1)).as("run_length"))
      .drop("__grp")
  }
}
