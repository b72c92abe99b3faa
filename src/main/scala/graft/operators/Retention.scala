package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cohort retention over an event log: users grouped by the week of their
  * first activity (the cohort), then counted in every later week they
  * return — the (cohort_week, week_offset) → users matrix behind every
  * retention dashboard.
  *
  * Weeks are ISO Monday truncations (`date_trunc("week", ts)`) so offsets
  * are exact multiples of 7 days — the offset is integer day-difference
  * over 7, no calendar arithmetic that could disagree across engines.
  *
  * Scale shape: first-activity and (user, week) distinct both aggregate
  * on the user key, so the log shuffles on `userCol` once and the second
  * aggregation plus the cohort join reuse that partitioning; the final
  * (cohort, offset) rollup shrinks to matrix size (weeks²).
  */
object Retention {

  /** The raw matrix (cohort_week, week_offset, n_users): users active in
    * `cohort_week + 7·week_offset`, cohort = week of first activity. */
  def cohortMatrix(
      events: DataFrame,
      userCol: String,
      tsCol: String): DataFrame = {
    val week = date_trunc("week", col(tsCol))
    val active = events.select(col(userCol), week.as("week")).distinct()
    val firstWeek = active.groupBy(col(userCol))
      .agg(min(col("week")).as("cohort_week"))
    active.join(firstWeek, Seq(userCol))
      .groupBy(
        col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Daily audience accounting: per calendar day, active users, NEW users
    * (first-ever-seen that day), returning users, and the cumulative
    * user base — the growth-dashboard spine (DAU / new-vs-returning /
    * total-audience in one table).
    *
    * Scale shape: the (day, user) distinct and the per-user first-day
    * aggregate each shuffle on user-sized keys with map-side combine;
    * everything after is day-cardinality-sized, so the single-partition
    * cumulative window is over a tiny frame by construction (the q124
    * bucket-table pattern, not a corpus sort). */
  def dailyAudience(
      events: DataFrame,
      userCol: String,
      tsCol: String): DataFrame = {
    val days = events.select(to_date(col(tsCol)).as("day"), col(userCol))
    val active = days.distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    val firstSeen = days.groupBy(col(userCol)).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(firstSeen, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
  }
}
