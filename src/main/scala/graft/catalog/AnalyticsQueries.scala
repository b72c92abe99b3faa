package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.AggFunctions
import graft.operators.{AsOfJoin, Diagnostics, Encoding, Funnel, Retention, Rollup}

import Shared._

/** Event-analytics catalog family: time rollups, sessions, funnels,
  * retention, as-of and interval joins, decay and encodings over the
  * events stream table. */
object AnalyticsQueries extends Family {

  // ---------------------------------------------------------------- q02
  // The reference's v_hourly_traffic view shape (src/database.py:101-112):
  // DATE_TRUNC tumbling-hour rollup (A2/X3) over the events stream table.
  val q02 = query("q02_hourly_rollup")((s, dir) =>
    Rollup
      .hourlyRollup(Tables.events(s, dir), "ts", Seq("event_type"), "value")
      .orderBy("hour", "event_type"))(
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
       | count(*) AS n_events, ${dSum("\"value\"")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)

  // ---------------------------------------------------------------- q03
  // The reference acceptance query get_top_cells (src/etl.py:283-299):
  // rollup → temporal filter → per-key AVG → top-10 (TakeOrderedAndProject).
  val q03 = query("q03_top_users")((s, dir) => {
    val hourly = Rollup.hourlyRollup(Tables.events(s, dir), "ts", Seq("user_id"), "value")
    hourly
      .filter(col("hour") >= lit("2024-01-05 00:00:00").cast("timestamp"))
      .groupBy(col("user_id"))
      .agg(AggFunctions.avgExact(col("total_value")).as("avg_load"))
      .orderBy(col("avg_load").desc, col("user_id").asc)
      .limit(10)
  })(
    s"""WITH hourly AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, user_id,
       |         ${dSum("\"value\"")} AS total_value
       |  FROM events GROUP BY 1, 2)
       |SELECT user_id, ${dAvg("total_value")} AS avg_load
       |FROM hourly WHERE hour >= TIMESTAMP '2024-01-05 00:00:00'
       |GROUP BY user_id ORDER BY avg_load DESC, user_id LIMIT 10""".stripMargin)

  // ---------------------------------------------------------------- q33
  // Sessionization: 30-minute-gap session breaks via lag + running count —
  // the standard event-stream window pattern (one shuffle on user_id).
  val q33 = query("q33_sessionize")((s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn(
        "is_new",
        when(
          lag(col("ts"), 1).over(w).isNull ||
            (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))) > 1800000000L,
          1L
        ).otherwise(0L)
      )
      .groupBy(col("user_id"))
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  })(
    """WITH t AS (
      |  SELECT user_id,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP))
      |              - epoch_us(CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
      |              > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM events)
      |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin)

  // ---------------------------------------------------------------- q44
  // As-of join (AsOfJoin.asOfJoin): each click event picks up the user's
  // most recent prior purchase. Spark lacks ASOF JOIN; the union+window
  // merge form runs it in one shuffle with zero pair blowup. The right side
  // is pre-reduced to one row per (user, ts) (max_by event_id) so tie
  // resolution is deterministic in both engines; DuckDB's native ASOF LEFT
  // JOIN is the oracle.
  val q44 = query("q44_asof_join")((s, dir) => {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(
        max(col("event_id")).as("p_event"),
        max_by(col("value"), col("event_id")).as("p_value"))
    AsOfJoin
      .asOfJoin(clicks, purchases, "user_id", "ts", "ts", Seq("p_event", "p_value"))
      // no-match rows keep their null p_event/p_value (comparable as NaN),
      // but the null TIMESTAMP is coalesced to epoch: the harness comparator
      // can't equate NaT with NaT, so a null-ts column would never match.
      .withColumn("asof_ts", coalesce(col("asof_ts"), lit("1970-01-01 00:00:00").cast("timestamp")))
      .orderBy("event_id")
  })(
    """WITH r AS (SELECT user_id, ts, max(event_id) AS p_event,
      |                  arg_max("value", event_id) AS p_value
      |           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
      |     l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
      |SELECT l.event_id, l.user_id, l.ts,
      |       coalesce(r.ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
      |       r.p_event AS asof_p_event, r.p_value AS asof_p_value
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin)

  // ---------------------------------------------------------------- q49
  // Temporal range aggregation (Rollup.forwardRangeAgg): per purchase
  // event, activity of the same user in the following hour. The oracle runs
  // the equivalent inequality self-join (pair materialization); the engine
  // runs the sliding value-range window — same result, O(n log n) per key
  // instead of O(pairs).
  val q49 = query("q49_range_agg")((s, dir) =>
    Rollup
      .forwardRangeAgg(Tables.events(s, dir), "user_id", "ts", "value")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("n_next"), col("sum_next"))
      .orderBy("event_id"))(
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts,
      | count(e.event_id) AS n_next,
      | coalesce(CAST(sum(CAST(e."value" AS DECIMAL(38,4))) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS sum_next
      |FROM p LEFT JOIN events e
      |  ON e.user_id = p.user_id AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 1 HOUR
      |GROUP BY p.event_id, p.user_id, p.ts
      |ORDER BY p.event_id""".stripMargin)

  // ---------------------------------------------------------------- q57
  // Skew-safe salted rollup (Rollup.saltedSumCount): the whole events fact
  // grouped by its 5-value power-law key — the canonical hot-key shape.
  // Two-stage (key, salt) → key aggregation; the oracle is the PLAIN
  // unsalted GROUP BY, proving the salt never changes results (counts and
  // decimal sums are associative), only the shuffle layout.
  val q57 = query("q57_salted_rollup")((s, dir) =>
    Rollup
      .saltedSumCount(Tables.events(s, dir), Seq("event_type"), "value")
      .orderBy("event_type"))(
    s"""SELECT event_type, count(*) AS n_rows, ${dSum("\"value\"")} AS total_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  // ---------------------------------------------------------------- q83
  // Sequential conversion funnel (Funnel.userSteps): users who viewed,
  // then clicked AFTER the first view, then purchased AFTER that click —
  // the classic ordered event-sequence analytic, first-touch attribution.
  // Every stage joins and aggregates on user_id, the key the events table
  // is already spread on, so the whole funnel reuses ONE partitioning;
  // stage counts explode out of a single global count row.
  val q83 = query("q83_funnel")((s, dir) =>
    Funnel.userSteps(Tables.events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .agg(count(col("t1")).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"))
      .select(explode(array(
        struct(lit("1_view").as("stage"), col("n1").as("n_users")),
        struct(lit("2_click").as("stage"), col("n2").as("n_users")),
        struct(lit("3_purchase").as("stage"), col("n3").as("n_users")))).as("r"))
      .select(col("r.stage"), col("r.n_users"))
      .orderBy("stage"))(
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
      |SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |UNION ALL SELECT '2_click', count(*) FROM c
      |UNION ALL SELECT '3_purchase', count(*) FROM p
      |ORDER BY stage""".stripMargin)

  // ---------------------------------------------------------------- q84
  // Weekly retention cohorts (Retention.cohortMatrix): users grouped by
  // first-seen week, counted in each later week they stay active — the
  // standard engagement matrix. Activity dedups to (user, week) FIRST
  // (shuffle = distinct pairs, not events), cohorts join on the user_id
  // partitioning the table already has; week offsets are exact integer
  // day arithmetic in both engines.
  val q84 = query("q84_retention_cohorts")((s, dir) =>
    Retention.cohortMatrix(Tables.events(s, dir), "user_id", "ts")
      .orderBy("cohort_week", "week_offset"))(
    """WITH cohorts AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events GROUP BY user_id),
      |activity AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events)
      |SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
      | CAST(date_diff('day', c.cohort_week, a.active_week) / 7 AS BIGINT) AS week_offset,
      | count(*) AS n_users
      |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)

  // ---------------------------------------------------------------- q101
  // Recency-weighted popularity (Rollup.decayedCounts): exponential-style
  // decay as an exact dyadic STAIRCASE — the weight halves every 3 days,
  // the integer weights sum order-independently in decimal, and one final
  // division rescales. A naive sum(exp(-age/tau)) of doubles depends on
  // partition merge order; this score is bit-identical across
  // partitionings, retries, and engines. Ref date is data-derived (max
  // event date), so the score is a pure function of the table. Plan: one
  // scalar max broadcast back + one map-side-combined aggregation.
  val q101 = query("q101_decayed_counts")((s, dir) =>
    Rollup.decayedCounts(
        Tables.events(s, dir), Seq("event_type"), col("ts"))
      .orderBy("event_type"))(
    """WITH r AS (SELECT max(CAST(ts AS DATE)) AS ref FROM events),
      |w AS (SELECT event_type,
      |  (CAST(1 AS BIGINT) << (9 - least(greatest(CAST(floor(date_diff('day', CAST(ts AS DATE), r.ref) / 3.0) AS INT), 0), 9))) AS wt
      |  FROM events CROSS JOIN r)
      |SELECT event_type, count(*) AS n_events,
      | CAST(sum(wt) AS DOUBLE) / 512.0 AS decayed_score
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)

  // ---------------------------------------------------------------- q112
  // Event-transition matrix (Funnel.transitions): the Markov-chain view of
  // user journeys - adjacent (from -> to) event pairs per user in
  // (ts, event_id) order, with each edge's share of transitions leaving
  // its source. One user-keyed shuffle + sort-within-partition window (the
  // unavoidable sequence cost - the engine's only window over raw events);
  // everything after the lead() is |types|^2-sized, and per-source totals
  // broadcast back. The event_id tiebreak makes equal-timestamp runs
  // deterministic on both engines.
  val q112 = query("q112_transition_matrix")((s, dir) =>
    Funnel.transitions(Tables.events(s, dir),
      "user_id", "event_type", "ts", "event_id")
      .orderBy("from_type", "to_type"))(
    """WITH seq AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |t AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n_transitions
      |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |f AS (SELECT from_type, sum(n_transitions) AS tot FROM t GROUP BY from_type)
      |SELECT t.from_type, t.to_type, t.n_transitions,
      |  CAST(t.n_transitions AS DOUBLE)/CAST(f.tot AS DOUBLE) AS share
      |FROM t JOIN f USING (from_type) ORDER BY from_type, to_type""".stripMargin)

  // ---------------------------------------------------------------- q132
  // Top session journeys (Funnel.sessionPaths): sessionize on q33's
  // 30-minute gap, render each session's first 5 event types as a path
  // string, count sessions per path, top-20 — the path-analysis view
  // whose first-order approximation is q112's transition matrix. One
  // user-keyed shuffle+sort serves gap detection, session ids, AND the
  // per-session fold; the rollup is path-cardinality-sized.
  val q132 = query("q132_session_paths")((s, dir) =>
    Funnel.sessionPaths(Tables.events(s, dir),
      "user_id", "event_type", "ts", "event_id")
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20))(
    """WITH t AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP))
      |              - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM t),
      |p AS (SELECT user_id, sid,
      |    array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>') AS path
      |  FROM s GROUP BY user_id, sid)
      |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
      |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin)

  // ---------------------------------------------------------------- q134
  // Daily audience accounting (Retention.dailyAudience): DAU, new vs
  // returning, cumulative user base per day — the growth-dashboard spine.
  // User-keyed map-combined aggregations; everything after the first-seen
  // rollup is day-cardinality-sized, including the cumulative window.
  val q134 = query("q134_daily_audience")((s, dir) =>
    Retention.dailyAudience(Tables.events(s, dir), "user_id", "ts")
      // day as ISO string: pandas folds DATE to midnight Timestamp, which
      // would false-mismatch Spark's date32 in the compare
      .withColumn("day", col("day").cast("string"))
      .orderBy("day"))(
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |a AS (SELECT day, count(*) AS n_active FROM du GROUP BY day),
      |fs AS (SELECT user_id, min(day) AS day FROM du GROUP BY user_id),
      |nw AS (SELECT day, count(*) AS n_new FROM fs GROUP BY day)
      |SELECT CAST(a.day AS VARCHAR) AS day, a.n_active, coalesce(nw.n_new, 0) AS n_new,
      |  a.n_active - coalesce(nw.n_new, 0) AS n_returning,
      |  CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY a.day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM a LEFT JOIN nw USING (day)
      |ORDER BY day""".stripMargin)

  // ---------------------------------------------------------------- q135
  // Leave-one-out target encoding audit (Encoding.looTargetEncode): each
  // event's type encoded as the mean value of the type's OTHER events —
  // exact integer division in 1e-6 units, the leakage-guarded form of
  // mean encoding — audited per type (n, min/max/sum of the per-row
  // encodings, all exact). Stats broadcast onto the scan; the encode is
  // row-local; only the audit rollup shuffles, type-sized.
  val q135 = query("q135_loo_encoding")((s, dir) =>
    Encoding.looTargetEncode(Tables.events(s, dir), "event_type", "value")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("loo_enc")).as("min_enc"),
        max(col("loo_enc")).as("max_enc"),
        sum(col("loo_enc")).as("sum_enc"))
      .orderBy("event_type"))(
    """WITH q AS (SELECT event_type,
      |    CAST(floor("value" * 1000000) AS HUGEINT) AS v FROM events),
      |st AS (SELECT event_type, sum(v) AS s, count(*) AS n FROM q GROUP BY event_type),
      |e AS (SELECT q.event_type,
      |    CASE WHEN st.n > 1 THEN (st.s - q.v) // (st.n - 1) END AS enc
      |  FROM q JOIN st USING (event_type))
      |SELECT event_type, count(*) AS n_events,
      |  CAST(min(enc) AS BIGINT) AS min_enc, CAST(max(enc) AS BIGINT) AS max_enc,
      |  CAST(sum(enc) AS BIGINT) AS sum_enc
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)

  // ---------------------------------------------------------------- q143
  // Gap-filled per-user daily value series (Rollup.forwardFillDaily):
  // each user's closing `value` per day, carried forward across silent
  // days over a complete per-user day spine — the resample-and-pad step
  // before windowed feature extraction. Closing election is a
  // deterministic struct-argmax by (ts, event_id); the fill is the
  // as-of-join running `last(ignoreNulls)`. Spine rows = users × their
  // own span, never users × global span.
  val q143 = query("q143_forward_fill")((s, dir) =>
    Rollup.forwardFillDaily(Tables.events(s, dir),
        "user_id", "ts", "value", "event_id")
      .orderBy("user_id", "day"))(
    """WITH obs AS (SELECT user_id, day, closing FROM (
      |    SELECT user_id, date_trunc('day', ts) AS day, value AS closing,
      |      row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |                         ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
      |  WHERE rn = 1),
      |bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1
      |  FROM obs GROUP BY 1),
      |spine AS (SELECT user_id,
      |    unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      |  FROM bounds),
      |j AS (SELECT s.user_id, s.day, o.closing
      |  FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day),
      |g AS (SELECT *, count(closing) OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM j)
      |SELECT user_id, day,
      |  max(closing) OVER (PARTITION BY user_id, grp) AS value,
      |  closing IS NOT NULL AS is_observed
      |FROM g ORDER BY user_id, day""".stripMargin)

  // ---------------------------------------------------------------- q149
  // Per-group decile table via exact integer percent-rank
  // (Encoding.percentRankPpm): l_extendedprice rank-normalized within
  // each return flag — `(rank−1)·10⁶ div (n−1)`, ties by SQL rank(), no
  // double anywhere — then rolled up to deciles (ppm div 10⁵, top edge
  // clamped into decile 9) with row counts and price bounds. The
  // quantile-normalization audit a feature pipeline prints per segment;
  // rank() agrees bit-for-bit where percent_rank()'s double division
  // invites cross-engine rounding drift.
  // Runs on the BY-VALUE form (Encoding.percentRankPpmByValue): the decile
  // rollup is rank-derived, so it never needs per-row ranks — the window
  // sorts only the distinct (flag, price) table (count-shrunk map-side)
  // and the rollup weights by n_rows. The per-row form sorts every row of
  // a group in ONE partition (parallelism = 3 flags; measured at sf1:
  // 5.7 s max task under a balanced 1.001 hot stage, task_skew 7.06),
  // the by-value form's heavy work is the
  // map-combined count.
  val q149 = query("q149_decile_table")((s, dir) =>
    Encoding.percentRankPpmByValue(Tables.lineitem(s, dir),
        Seq("l_returnflag"), "l_extendedprice")
      .withColumn("decile", least(expr("pr_ppm div 100000"), lit(9L)))
      .groupBy(col("l_returnflag"), col("decile"))
      .agg(
        sum(col("n_rows")).as("n_rows"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy("l_returnflag", "decile"))(
    """WITH r AS (SELECT l_returnflag, l_extendedprice,
      |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS BIGINT) AS rnk,
      |    CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      |  FROM lineitem),
      |p AS (SELECT l_returnflag, l_extendedprice,
      |    CASE WHEN n = 1 THEN 0 ELSE ((rnk - 1) * 1000000) // (n - 1) END AS pr_ppm
      |  FROM r)
      |SELECT l_returnflag, least(pr_ppm // 100000, 9) AS decile,
      |  count(*) AS n_rows, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  // ---------------------------------------------------------------- q152
  // Interval overlap join (AsOfJoin.intervalOverlapJoin): open-order
  // 5-day windows × finished-order 3-day windows within the same
  // priority class — which in-flight orders ran CONCURRENTLY with which
  // completed ones. Spark has no interval join; the naive range
  // condition plans a nested loop (PlanSpec pins none here). The binned
  // form registers each interval in the 7-day cells its span touches,
  // meets candidates in a (priority, cell) HASH join, verifies overlap
  // row-locally, and emits each pair only from its first shared cell (a
  // row-local predicate — dedup without a distinct shuffle). The oracle
  // is METHOD-independent: DuckDB's own range join on the raw overlap
  // condition, no cells anywhere.
  val q152 = query("q152_interval_join")((s, dir) => {
    val o = Tables.orders(s, dir)
    val day = 24L * 3600 * 1000000
    val lhs = o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderpriority"), col("o_orderkey").as("l_key"),
        col("o_orderdate").as("l_start"),
        (col("o_orderdate") + expr("make_interval(0, 0, 0, 5)")).as("l_end"))
    val rhs = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderpriority"), col("o_orderkey").as("r_key"),
        col("o_orderdate").as("r_start"),
        (col("o_orderdate") + expr("make_interval(0, 0, 0, 3)")).as("r_end"))
    AsOfJoin.intervalOverlapJoin(lhs, rhs, Seq("o_orderpriority"),
        "l_start", "l_end", "r_start", "r_end", binWidthUs = 7L * day)
      .groupBy(col("o_orderpriority"), col("l_key"))
      .agg(count(lit(1)).as("n_overlaps"), min(col("r_key")).as("first_match"))
      .orderBy("o_orderpriority", "l_key")
  })(
    """WITH l AS (SELECT o_orderpriority, o_orderkey AS l_key,
      |    o_orderdate AS ls, o_orderdate + INTERVAL 5 DAY AS le
      |  FROM orders WHERE o_orderstatus = 'O'),
      |r AS (SELECT o_orderpriority, o_orderkey AS r_key,
      |    o_orderdate AS rs, o_orderdate + INTERVAL 3 DAY AS re
      |  FROM orders WHERE o_orderstatus = 'F')
      |SELECT l.o_orderpriority, l_key, count(*) AS n_overlaps,
      |  min(r_key) AS first_match
      |FROM l JOIN r ON l.o_orderpriority = r.o_orderpriority
      |  AND ls <= re AND rs <= le
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  // ---------------------------------------------------------------- q153
  // Per-language dominant source (Rollup.groupMode): the "top category"
  // row of a profiling report — mode value, count, share in integer ppm,
  // and the distinct-value count beside it. Struct-max tie-break (count,
  // then larger value) keeps the election deterministic where SQL's
  // any-value mode is plan-dependent. Shuffle bounded by lang × source
  // cardinality.
  val q153 = query("q153_group_mode")((s, dir) =>
    Rollup.groupMode(Tables.documents(s, dir), Seq("lang"), "source")
      .orderBy("lang"))(
    """WITH c AS (SELECT lang, source AS v, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |m AS (SELECT lang, v, c,
      |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, v DESC) AS rn,
      |    sum(c) OVER (PARTITION BY lang) AS nr,
      |    count(*) OVER (PARTITION BY lang) AS nd
      |  FROM c)
      |SELECT lang, v AS mode_value, c AS mode_count,
      |  CAST(nr AS BIGINT) AS n_rows, CAST(nd AS BIGINT) AS n_distinct_values,
      |  (c * 1000000) // CAST(nr AS BIGINT) AS mode_share_ppm
      |FROM m WHERE rn = 1 ORDER BY lang""".stripMargin)

  // ---------------------------------------------------------------- q154
  // Run-length spectrum (Funnel.valueRuns): collapse each user's ordered
  // event stream into runs of consecutive equal event types
  // (gaps-and-islands, the row_number−row_number trick on ONE window
  // shuffle), then the per-type histogram of run lengths — how "bursty"
  // each event type is. The state-segment primitive whose run table
  // also feeds the interval join (q152).
  val q154 = query("q154_run_lengths")((s, dir) =>
    Funnel.valueRuns(
        // null order keys segment engine-dependently (Spark windows sort
        // NULLS FIRST, DuckDB NULLS LAST) — both engines exclude them
        Tables.events(s, dir).filter(col("ts").isNotNull),
        "user_id", "event_type", Seq("ts", "event_id"))
      .groupBy(col("event_type"), col("run_length"))
      .agg(count(lit(1)).as("n_runs"))
      .orderBy("event_type", "run_length"))(
    """WITH o AS (SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ra,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rv
      |  FROM events WHERE ts IS NOT NULL),
      |runs AS (SELECT user_id, event_type, ra - rv AS grp, count(*) AS run_length
      |  FROM o GROUP BY 1, 2, 3)
      |SELECT event_type, run_length, count(*) AS n_runs
      |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  // ---------------------------------------------------------------- q157
  // Weekday seasonality (Rollup.seasonalityProfile): per event type and
  // day-of-week, the count and the per-day-rate index in integer ppm
  // against the type's own average day — normalized by how many
  // calendar days of each weekday the data actually contains, so a
  // ragged observation window cannot fake seasonality. No double
  // anywhere: (c_dow·D·10⁶) div (c_tot·d_dow). Spark dayofweek ≡
  // DuckDB dayofweek+1 (both Sunday-based).
  val q157 = query("q157_seasonality")((s, dir) =>
    Rollup.seasonalityProfile(Tables.events(s, dir), Seq("event_type"), "ts")
      .orderBy("event_type", "dow"))(
    """WITH b AS (SELECT event_type, date_trunc('day', ts) AS day,
      |    CAST(dayofweek(ts) + 1 AS BIGINT) AS dow
      |  FROM events WHERE ts IS NOT NULL),
      |cal AS (SELECT dow, count(*) AS days_of_dow FROM
      |  (SELECT DISTINCT day, dow FROM b) GROUP BY 1),
      |d AS (SELECT CAST(sum(days_of_dow) AS BIGINT) AS total_days FROM cal),
      |pd AS (SELECT event_type, dow, count(*) AS n_events FROM b GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS tot
      |  FROM pd GROUP BY 1)
      |SELECT pd.event_type, pd.dow, pd.n_events, cal.days_of_dow,
      |  (pd.n_events * d.total_days * 1000000) // (t.tot * cal.days_of_dow)
      |    AS index_ppm
      |FROM pd JOIN cal USING (dow) JOIN t ON t.event_type = pd.event_type, d
      |ORDER BY pd.event_type, pd.dow""".stripMargin)

  // ---------------------------------------------------------------- q160
  // Conversion-lag spectrum: how long converting users take between
  // funnel stages (first view → first subsequent click → first
  // subsequent purchase, q83's first-touch semantics), in the
  // power-of-two second bands of the q139 spectrum — bit-length
  // bucketing, no log, no double. The funnel reuses the user_id
  // partitioning end-to-end; the band rollup is transitions × ≤ ~40
  // buckets.
  val q160 = query("q160_conversion_lag")((s, dir) => {
    val us = Funnel.userSteps(Tables.events(s, dir), "user_id", "event_type",
      "ts", Seq("view", "click", "purchase"))
    us.select(explode(array(
        struct(lit("1_view_to_click").as("transition"),
          expr("(unix_micros(t2) - unix_micros(t1)) div 1000000").as("lag_s")),
        struct(lit("2_click_to_purchase").as("transition"),
          expr("(unix_micros(t3) - unix_micros(t2)) div 1000000").as("lag_s")))).as("r"))
      .select(col("r.transition"), col("r.lag_s"))
      .filter(col("lag_s").isNotNull)
      .withColumn("bucket", Diagnostics.powerBucket(col("lag_s")))
      .groupBy(col("transition"), col("bucket"))
      .agg(count(lit(1)).as("n_lags"))
      .withColumn("lag_lo_s", Diagnostics.powerBucketLo(col("bucket")))
      .withColumn("lag_hi_s", Diagnostics.powerBucketHi(col("bucket")))
      .orderBy("transition", "bucket")
  })(
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id),
      |l AS (SELECT '1_view_to_click' AS transition,
      |    (epoch_us(CAST(t_click AS TIMESTAMP))
      |     - epoch_us(CAST(t_view AS TIMESTAMP))) // 1000000 AS lag_s
      |  FROM c JOIN v USING (user_id)
      |  UNION ALL SELECT '2_click_to_purchase',
      |    (epoch_us(CAST(t_purchase AS TIMESTAMP))
      |     - epoch_us(CAST(t_click AS TIMESTAMP))) // 1000000
      |  FROM p JOIN c USING (user_id)),
      |g AS (SELECT transition,
      |    CASE WHEN lag_s <= 0 THEN 0 ELSE length(bin(lag_s)) END AS bucket
      |  FROM l)
      |SELECT transition, CAST(bucket AS INT) AS bucket, count(*) AS n_lags,
      |  CAST(CASE WHEN bucket = 0 THEN 0
      |       ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS BIGINT) AS lag_lo_s,
      |  CAST((CAST(1 AS BIGINT) << bucket) - 1 AS BIGINT) AS lag_hi_s
      |FROM g GROUP BY transition, bucket ORDER BY 1, 2""".stripMargin)
}
