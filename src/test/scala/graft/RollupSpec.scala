package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.operators.Rollup

class RollupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def fact = Seq(
    (ts("2013-11-01 00:05:00"), 1, 1.0, 2.0, 0.0, 0.0, 10.0),
    (ts("2013-11-01 00:55:00"), 1, 3.0, 0.0, 1.0, 0.0, 0.0),
    (ts("2013-11-01 01:05:00"), 1, 5.0, 0.0, 0.0, 0.0, 0.0),
    (ts("2013-11-01 00:05:00"), 2, 7.0, 0.0, 0.0, 1.0, 0.0)
  ).toDF("datetime", "cell_id", "smsin", "smsout", "callin", "callout", "internet")

  test("hourlyTraffic reproduces v_hourly_traffic sums per (hour, cell)") {
    val h = Rollup.hourlyTraffic(fact).orderBy("hour", "cell_id").collect()
    assert(h.length == 3)
    val first = h(0) // 00:00, cell 1
    assert(first.getAs[Timestamp]("hour") == ts("2013-11-01 00:00:00"))
    assert(first.getAs[Double]("total_smsin") == 4.0)
    assert(first.getAs[Double]("total_activity") == 17.0)
    val second = h(1) // 00:00, cell 2
    assert(second.getAs[Double]("total_activity") == 8.0)
  }

  test("topCells filters by hour, averages per cell, orders desc with limit") {
    val hourly = Rollup.hourlyTraffic(fact)
    val top = Rollup.topCells(hourly, lit("2013-11-01 00:00:00").cast("timestamp"), 2).collect()
    // cell 1: hours (17, 5) → avg 11; cell 2: 8 → avg 8
    assert(top.length == 2)
    assert(top(0).getAs[Int]("cell_id") == 1)
    assert(top(0).getAs[Double]("avg_load") == 11.0)
    assert(top(1).getAs[Int]("cell_id") == 2)
  }

  test("total_activity equals sum of raw metrics after NaN→0 fill (invariant)") {
    val h = Rollup.hourlyTraffic(fact)
    val total = h.agg(sum("total_activity")).as[Double].collect()(0)
    val raw = fact.select(
      (col("smsin") + col("smsout") + col("callin") + col("callout") + col("internet")).as("t")
    ).agg(sum("t")).as[Double].collect()(0)
    assert(total == raw)
  }

  test("decayedCounts assigns exact dyadic staircase weights from the max date") {
    // ref = 2024-01-31; ages 0, 3, 7 days → steps 0, 1, 2 at stepDays=3
    val ev = Seq(
      (ts("2024-01-31 10:00:00"), "a"),
      (ts("2024-01-28 09:00:00"), "a"),
      (ts("2024-01-24 08:00:00"), "a"),
      (ts("2024-01-31 23:00:00"), "b")
    ).toDF("when", "grp")
    val out = Rollup.decayedCounts(ev, Seq("grp"), col("when"))
      .orderBy("grp").as[(String, Long, Double)].collect()
    // weights: 2^9, 2^8, 2^7 → (512+256+128)/512 = 1.75; b: 512/512 = 1.0
    assert(out.toSeq == Seq(("a", 3L, 1.75), ("b", 1L, 1.0)))
  }

  test("decayedCounts clamps ages beyond maxSteps") {
    val ev = Seq(
      (ts("2024-02-01 00:00:00"), "g"), // the newest date: step 0
      (ts("2024-01-01 00:00:00"), "g"), // 31 days old → step 10, clamped to maxSteps 9
      (ts("2024-01-29 12:00:00"), "g") // 3 days old → step 1
    ).toDF("when", "grp")
    val out = Rollup.decayedCounts(ev, Seq("grp"), col("when"))
      .as[(String, Long, Double)].head()
    // weights: 512 (newest), 1 (clamped old), 256 → 769/512
    assert(out == (("g", 3L, 769.0 / 512)))
  }

  test("forwardFillDaily: complete spine, closing election, carry across gaps") {
    // user a: Jan 1 (two events, closing = the LATER one), gap Jan 2-3,
    // Jan 4 observed. user b: single day. null user dropped.
    val ev = Seq(
      (Some(1L), ts("2024-01-01 09:00:00"), 10.0, 1L),
      (Some(1L), ts("2024-01-01 17:00:00"), 20.0, 2L),
      (Some(1L), ts("2024-01-04 08:00:00"), 99.0, 3L),
      (Some(2L), ts("2024-01-02 12:00:00"), 7.0, 4L),
      (None: Option[Long], ts("2024-01-01 00:00:00"), 1.0, 5L)
    ).toDF("user_id", "ts", "value", "event_id")
    val out = Rollup.forwardFillDaily(ev, "user_id", "ts", "value", "event_id")
      .orderBy("user_id", "day")
      .select("user_id", "day", "value", "is_observed")
      .as[(Long, java.sql.Timestamp, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, ts("2024-01-01 00:00:00"), 20.0, true),
      (1L, ts("2024-01-02 00:00:00"), 20.0, false),
      (1L, ts("2024-01-03 00:00:00"), 20.0, false),
      (1L, ts("2024-01-04 00:00:00"), 99.0, true),
      (2L, ts("2024-01-02 00:00:00"), 7.0, true)))
  }

  test("seasonalityProfile: rates normalize by observed calendar days per weekday") {
    // window: Mon Jan 1 2024 .. Sun Jan 7 + Mon Jan 8 (Monday appears on
    // 2 calendar days, the rest once -> D = 8).
    // type "x": 4 events across both Mondays, 1 on Tuesday:
    //   Monday rate 4/2 = 2/day, overall rate 5/8 -> index = (4*8e6) div (5*2)
    val ev = Seq(
      ("x", ts("2024-01-01 10:00:00")), ("x", ts("2024-01-01 11:00:00")),
      ("x", ts("2024-01-08 10:00:00")), ("x", ts("2024-01-08 11:00:00")),
      ("x", ts("2024-01-02 10:00:00")),
      // a second type spreads one event on each day so every day is observed
      ("y", ts("2024-01-01 00:00:00")), ("y", ts("2024-01-02 00:00:00")),
      ("y", ts("2024-01-03 00:00:00")), ("y", ts("2024-01-04 00:00:00")),
      ("y", ts("2024-01-05 00:00:00")), ("y", ts("2024-01-06 00:00:00")),
      ("y", ts("2024-01-07 00:00:00")), ("y", ts("2024-01-08 00:00:00"))
    ).toDF("t", "when")
    val got = Rollup.seasonalityProfile(ev, Seq("t"), "when")
      .select("t", "dow", "n_events", "days_of_dow", "index_ppm")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // Monday = dow 2 (Spark: 1=Sunday)
    assert(got.contains(("x", 2L, 4L, 2L, 4L * 8 * 1000000 / (5 * 2))))
    assert(got.contains(("x", 3L, 1L, 1L, 1L * 8 * 1000000 / (5 * 1))))
    // y: one event per calendar day -> perfectly flat 1e6 on every dow
    assert(got.collect { case ("y", _, _, _, p) => p } == Set(1000000L))
  }

  test("groupMode: counts, deterministic larger-value tie-break, share ppm") {
    val df = Seq(
      ("g", "x"), ("g", "x"), ("g", "y"), ("g", "y"), ("g", "z"), // tie x/y at 2 -> y wins
      ("h", "only")
    ).toDF("grp", "v")
    val got = Rollup.groupMode(df, Seq("grp"), "v")
      .select("grp", "mode_value", "mode_count", "n_rows", "n_distinct_values", "mode_share_ppm")
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("g", "y", 2L, 5L, 3L, 400000L),
      ("h", "only", 1L, 1L, 1L, 1000000L)))
  }

  test("forwardFillDaily closing election breaks same-timestamp ties by the tie column") {
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00"), 5.0, 10L),
      (1L, ts("2024-01-01 09:00:00"), 8.0, 11L) // same ts, higher tie wins
    ).toDF("user_id", "ts", "value", "event_id")
    val out = Rollup.forwardFillDaily(ev, "user_id", "ts", "value", "event_id")
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(8.0))
  }
}
