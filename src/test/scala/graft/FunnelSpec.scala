package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions.{col, count}

import graft.operators.{Funnel, Retention}

class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // u1 completes the whole funnel in order; u2 clicks BEFORE its first
  // view (click must not count) and never purchases; u3 views only;
  // u4 purchases before clicking (purchase must not count).
  private def events = Seq(
    (1L, "view", ts("2024-01-01 10:00:00")),
    (1L, "click", ts("2024-01-01 11:00:00")),
    (1L, "purchase", ts("2024-01-01 12:00:00")),
    (2L, "click", ts("2024-01-02 09:00:00")),
    (2L, "view", ts("2024-01-02 10:00:00")),
    (3L, "view", ts("2024-01-03 10:00:00")),
    (4L, "view", ts("2024-01-04 10:00:00")),
    (4L, "purchase", ts("2024-01-04 11:00:00")),
    (4L, "click", ts("2024-01-04 12:00:00"))
  ).toDF("user_id", "event_type", "ts")

  test("funnel counts strictly-ordered first-touch conversions") {
    val out = Funnel.userSteps(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .agg(count(col("t1")), count(col("t2")), count(col("t3")))
      .as[(Long, Long, Long)].head()
    // views: all 4; clicks: u1 and u4 (u2's click precedes its view);
    // purchases: only u1 (u4 purchased before clicking)
    assert(out == ((4L, 2L, 1L)))
  }

  test("transitions count adjacent pairs in (ts, tie) order with shares") {
    // u1: view→click→purchase; u2 has two same-timestamp events where the
    // event_id tiebreak fixes the order: view(id 5) → click(id 6) → view
    val ev = Seq(
      (1L, 1L, "view", ts("2024-01-01 10:00:00")),
      (2L, 1L, "click", ts("2024-01-01 11:00:00")),
      (3L, 1L, "purchase", ts("2024-01-01 12:00:00")),
      (5L, 2L, "view", ts("2024-01-02 10:00:00")),
      (6L, 2L, "click", ts("2024-01-02 10:00:00")),
      (7L, 2L, "view", ts("2024-01-02 11:00:00"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Funnel.transitions(ev, "user_id", "event_type", "ts", "event_id")
      .orderBy("from_type", "to_type")
      .collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("n_transitions"), r.getAs[Double]("share")))
    assert(out.toSeq == Seq(
      ("click", "purchase", 1L, 0.5),
      ("click", "view", 1L, 0.5),
      ("view", "click", 2L, 1.0)))
  }

  test("sessionPaths: gap splits sessions, maxSteps truncates, tie order holds") {
    val ev = Seq(
      // u1: a,b inside one session; c after a 50-minute gap → own session
      (1L, 1L, "a", ts("2024-01-01 10:00:00")),
      (2L, 1L, "b", ts("2024-01-01 10:10:00")),
      (3L, 1L, "c", ts("2024-01-01 11:00:00")),
      // u2: six events in one session → path truncated to first 5
      (11L, 2L, "a", ts("2024-01-02 10:00:00")),
      (12L, 2L, "b", ts("2024-01-02 10:01:00")),
      (13L, 2L, "c", ts("2024-01-02 10:02:00")),
      (14L, 2L, "d", ts("2024-01-02 10:03:00")),
      (15L, 2L, "e", ts("2024-01-02 10:04:00")),
      (16L, 2L, "f", ts("2024-01-02 10:05:00")),
      // u3: same-timestamp pair — event_id tiebreak fixes "a>b"
      (22L, 3L, "b", ts("2024-01-03 10:00:00")),
      (21L, 3L, "a", ts("2024-01-03 10:00:00"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = Funnel
      .sessionPaths(ev, "user_id", "event_type", "ts", "event_id")
      .collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("n_sessions"))).toMap
    assert(got == Map("a>b" -> 2L, "c" -> 1L, "a>b>c>d>e" -> 1L))
  }

  test("dailyAudience: new vs returning split and cumulative base") {
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00")),
      (1L, ts("2024-01-01 10:00:00")), // same user+day counts once
      (1L, ts("2024-01-02 09:00:00")),
      (2L, ts("2024-01-02 09:30:00"))
    ).toDF("user_id", "ts")
    val got = graft.operators.Retention.dailyAudience(ev, "user_id", "ts")
      .orderBy("day").collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString, r.getAs[Long]("n_active"),
        r.getAs[Long]("n_new"), r.getAs[Long]("n_returning"), r.getAs[Long]("cum_users")))
    assert(got.toSeq == Seq(
      ("2024-01-01", 1L, 1L, 0L, 1L),
      ("2024-01-02", 2L, 1L, 1L, 2L)))
  }

  test("weekly cohorts: first-seen week keys the cohort and returners count once") {
    // 2024-01-01 and 2024-01-08 are Mondays. u1 active weeks 0 and 1
    // (twice in week 1 — counts once); u2 week 0 only; u3 starts week 1.
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-08 10:00:00")),
      (1L, ts("2024-01-09 10:00:00")),
      (2L, ts("2024-01-02 10:00:00")),
      (3L, ts("2024-01-10 10:00:00"))
    ).toDF("user_id", "ts")
    val out = Retention.cohortMatrix(ev, "user_id", "ts")
      .orderBy("cohort_week", "week_offset")
      .collect()
      .map(r => (r.getAs[Timestamp]("cohort_week").toString.take(10),
        r.getAs[Long]("week_offset"), r.getAs[Long]("n_users")))
    assert(out.toSeq == Seq(
      ("2024-01-01", 0L, 2L),
      ("2024-01-01", 1L, 1L),
      ("2024-01-08", 0L, 1L)))
  }

  test("valueRuns: islands split on value change, interleaved keys stay separate") {
    import graft.operators.Funnel
    // user 1: a a b a a a  -> runs a:2, b:1, a:3 (the second 'a' run must
    // NOT merge with the first across the 'b' island)
    // user 2: b b          -> one run b:2
    val ev = Seq(
      (1L, "a", 1L), (1L, "a", 2L), (1L, "b", 3L),
      (1L, "a", 4L), (1L, "a", 5L), (1L, "a", 6L),
      (2L, "b", 1L), (2L, "b", 2L)
    ).toDF("user_id", "v", "seq")
    val runs = Funnel.valueRuns(ev, "user_id", "v", Seq("seq"))
      .select("user_id", "v", "run_start", "run_end", "run_length")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(runs == Set(
      (1L, "a", 1L, 2L, 2L), (1L, "b", 3L, 3L, 1L), (1L, "a", 4L, 6L, 3L),
      (2L, "b", 1L, 2L, 2L)))
  }

  test("valueRuns is partition-layout independent") {
    import graft.operators.Funnel
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(9)
    val ev = (1L to 500L).map(i => (i % 7, Seq("x", "y", "z")(rng.nextInt(3)), i))
      .toDF("user_id", "v", "seq")
    val a = Funnel.valueRuns(ev, "user_id", "v", Seq("seq"))
      .orderBy("user_id", "run_start").collect().toSeq
    val b = Funnel.valueRuns(ev.repartition(11, col("seq")), "user_id", "v", Seq("seq"))
      .orderBy("user_id", "run_start").collect().toSeq
    assert(a == b)
  }
}
