package graft
package catalog

import org.apache.spark.sql.functions._

import Shared._

/** Streaming catalog family: the stateful operators in batch mode and
  * through the real streaming engine (file source, watermarks, state
  * store, RocksDB provider). */
object StreamingQueries extends Family {

  // ---------------------------------------------------------------- q38
  // §2.12 streaming rollup, executed in BATCH mode: hourlyWindow is the
  // same code that runs under readStream/writeStream (StreamingSpec runs it
  // with a MemoryStream); `window('1 hour')` tumbling start == date_trunc
  // hour, so the batch result is fully oracle-checkable.
  val q38 = query("q38_streaming_hourly")((s, dir) =>
    graft.streaming.StreamingRollup
      .hourlyWindow(Tables.events(s, dir), "ts", Seq("event_type"), "value")
      .orderBy("hour", "event_type"))(
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
       | count(*) AS n_events, ${dSum("\"value\"")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)

  // ---------------------------------------------------------------- q91
  // §2.12 stateful streaming sessionizer, executed in BATCH mode: the
  // IDENTICAL flatMapGroupsWithState fold that runs under readStream
  // (StreamingSpec drives it through a MemoryStream) — in batch, Spark
  // invokes the function once per user with all events, so sessions closed
  // by in-data gaps are emitted and each user's final session stays open
  // in state (no timeouts fire in batch). The oracle replays gap
  // sessionization minus each user's last session. total_value is
  // projected out: it is a fold-order double sum, not cross-engine
  // hashable (q38's decimal-sum rollup covers value aggregation).
  val q91 = query("q91_stream_sessions")((s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[graft.streaming.StreamingSessionize.Event]
    graft.streaming.StreamingSessionize.sessions(ev)
      .toDF()
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start")
  })(
    """WITH t AS (
      |  SELECT user_id, ts, "value",
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP))
      |              - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, "value")),
      |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, "value"
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM t),
      |g AS (SELECT user_id, sid, CAST(min(ts) AS TIMESTAMP) AS session_start,
      |        CAST(max(ts) AS TIMESTAMP) AS session_end, count(*) AS n_events
      |      FROM s GROUP BY user_id, sid),
      |last AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY user_id)
      |SELECT g.user_id, g.session_start, g.session_end, g.n_events
      |FROM g JOIN last l ON g.user_id = l.user_id AND g.sid < l.last_sid
      |ORDER BY g.user_id, g.session_start""".stripMargin)

  // ---------------------------------------------------------------- q92
  // §2.12 streaming exact dedup, batch twin (StreamingDedup.dedupBatch):
  // the same normalized-md5 fingerprint key the watermarked state store
  // dedups on, with plain Deduplicate standing in for the store
  // (dropDuplicatesWithinWatermark analyzes streaming-only). Projected to
  // the surviving fingerprint SET — which row survives per fingerprint is
  // nondeterministic, the set is not.
  val q92 = query("q92_stream_dedup")((s, dir) =>
    graft.streaming.StreamingDedup
      .dedupBatch(Tables.documents(s, dir), "text")
      .select(col("fp"))
      .orderBy("fp"))(
    """SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY fp""".stripMargin)

  // ---------------------------------------------------------------- q93
  // §2.12 streaming running-distinct (StreamingDistinct.runningDistinct),
  // executed in BATCH mode: mapGroupsWithState is invoked once per group
  // with all rows, so the emitted estimate is the same deterministic
  // SplitMix64 register math as q75 — the DuckDB oracle replays it
  // bit-for-bit, putting a value-level gate on the driver-side state
  // update code the streaming path shares.
  val q93 = query("q93_stream_distinct")((s, dir) => {
    import s.implicits._
    val kv = Tables.events(s, dir)
      .select(col("event_type").as("group"), col("user_id").as("key"), col("ts"))
      .as[graft.streaming.StreamingDistinct.KeyedValue]
    graft.streaming.StreamingDistinct.runningDistinct(kv)
      .toDF()
      .orderBy("group")
  })({
    import DuckHash._
    s"""WITH mx0 AS (SELECT event_type, CAST(user_id AS UBIGINT) AS u FROM events),
       |${mix64Ctes("u")},
       |hw AS (SELECT event_type, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |regs AS (SELECT event_type, bucket, max(r) AS reg FROM rho GROUP BY event_type, bucket),
       |${hllEstCte("regs", "event_type", "est", "est_distinct")},
       |n AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type)
       |SELECT e.event_type AS "group", e.est_distinct, n.n_events
       |FROM est e JOIN n ON e.event_type = n.event_type
       |ORDER BY "group"""".stripMargin
  })

  // ---------------------------------------------------------------- q94
  // §2.12 stream-stream interval join (StreamingJoin.intervalJoin), batch
  // mode: the watermarks are no-ops on finite input and the banded join
  // condition — the thing that bounds streaming state — is exactly the
  // batch predicate, so the result is fully oracle-checkable. Every 10th
  // event probes for same-user events within the following hour.
  val q94 = query("q94_stream_interval_join")((s, dir) => {
    val ev = Tables.events(s, dir)
    val probes = ev
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .select(col("user_id"), col("ts").as("probe_ts"), col("event_id").as("probe_id"))
    val matches = ev
      .select(col("user_id"), col("ts").as("match_ts"), col("event_id").as("match_id"))
    graft.streaming.StreamingJoin
      .intervalJoin(probes, matches, "user_id", "probe_ts", "match_ts", band = "1 hour")
      .select(col("probe_id"), col("match_id"))
      .orderBy("probe_id", "match_id")
  })(
    """SELECT l.event_id AS probe_id, r.event_id AS match_id
      |FROM events l JOIN events r
      |  ON l.event_id % 10 = 0 AND r.user_id = l.user_id
      | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
      |ORDER BY probe_id, match_id""".stripMargin)

  // ---------------------------------------------------------------- q131
  // Ingestion throttle audit (StreamingThrottle.throttleBatch): admit at
  // most 20 events per user in (ts, event_id) order — the quota an
  // ingestion edge enforces — reported per user as seen/kept/cutoff. The
  // batch twin of the flatMapGroupsWithState throttle (StreamingSpec pins
  // that ordered streaming delivery admits the identical set); the
  // row_number window is the one genuinely ordered per-key pass.
  val q131 = query("q131_throttle_audit")((s, dir) => {
    val ev = Tables.events(s, dir)
    val kept = graft.streaming.StreamingThrottle.throttleBatch(ev)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_kept"), max(col("ts")).as("ts_cutoff"))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_seen"))
      .join(kept, Seq("user_id"))
      .select(col("user_id"), col("n_seen"), col("n_kept"), col("ts_cutoff"))
      .orderBy("user_id")
  })(
    """WITH r AS (SELECT user_id, ts, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |k AS (SELECT user_id, count(*) AS n_kept, max(ts) AS ts_cutoff
      |  FROM r WHERE rn <= 20 GROUP BY user_id),
      |s AS (SELECT user_id, count(*) AS n_seen FROM events GROUP BY user_id)
      |SELECT s.user_id, s.n_seen, k.n_kept, CAST(k.ts_cutoff AS TIMESTAMP) AS ts_cutoff
      |FROM s JOIN k USING (user_id) ORDER BY user_id""".stripMargin)

  // ---------------------------------------------------------------- q162
  // §2.12 streaming leaderboard, batch twin (StreamingLeaders
  // .topKLeaders): per event type, the 3 highest-value events — the SAME
  // bounded TopKAgg aggregation the live leaderboard runs in update mode
  // (k pairs of state per group, re-emitted as leaders change;
  // StreamingSpec drives the streaming path), executed here in batch for
  // driver-level regression cover, the q91-q96 move. Ties break
  // (ord DESC, id ASC) — replayed by the oracle's row_number.
  val q162 = query("q162_stream_leaders")((s, dir) =>
    graft.streaming.StreamingLeaders.topKLeaders(
        Tables.events(s, dir).filter(col("value").isNotNull),
        Seq("event_type"), col("value"), col("event_id"))
      .orderBy("event_type", "rnk"))(
    """WITH r AS (SELECT event_type, value, event_id,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value DESC, event_id ASC) AS rn
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_type, CAST(rn AS BIGINT) AS rnk, value AS ord,
      |  event_id AS id
      |FROM r WHERE rn <= 3 ORDER BY event_type, rnk""".stripMargin)

  // ---------------------------------------------------------------- q164
  // §2.12 executed through the REAL streaming engine: readStream file
  // source over events.parquet → watermarked tumbling window → complete-
  // mode checkpointed sink run to completion (Trigger.AvailableNow).
  // Same oracle as the batch twin q38 — complete mode withholds nothing
  // at end-of-stream, so the file-source → checkpoint → state-store path
  // is VALUE-checked, not just rows-counted. Closes the last spec-vs-gate
  // gap: q38 proves the aggregation, q91–q94 prove stateful operators in
  // batch mode, this proves the engine plumbing end-to-end.
  val q164 = query("q164_stream_file_rollup")((s, dir) =>
    graft.streaming.StreamingRollup
      .hourlyWindowFileStream(s, s"$dir/events.parquet")
      .orderBy("hour", "event_type"))(q38.oracle)

  // ---------------------------------------------------------------- q166
  // Spark's BUILT-IN `session_window` operator, batch-executed and
  // VALUE-checked: 30-minute-gap sessions per user with the engine's own
  // session-merge operator (the watermark-managed streaming path's exact
  // aggregation — q33 checks the lag+flag formulation, this checks the
  // native operator the streaming quartet rides). Boundary semantics
  // differ from q33 ON PURPOSE: session windows are [start, end)
  // end-EXCLUSIVE, so an event landing exactly gap after its predecessor
  // starts a NEW session — the oracle breaks on `>= gap` where q33's lag
  // form breaks on `> gap`. session_end = last event + gap by definition.
  val q166 = query("q166_session_window")((s, dir) =>
    graft.streaming.StreamingRollup
      .sessionWindow(Tables.events(s, dir), "ts", Seq("user_id"), "30 minutes")
      .orderBy("user_id", "session_start"))(
    """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |m AS (SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |        >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM o),
      |g AS (SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id,
      |  CAST(min(ts) AS TIMESTAMP) AS session_start,
      |  CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
      |  count(*) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin)

  // ---------------------------------------------------------------- q174
  // CUSTOM STATE through the REAL streaming engine (the q164 move applied
  // to flatMapGroupsWithState): readStream file source → watermark →
  // StreamingSessionize's state-store fold with EVENT-TIME TIMEOUT →
  // checkpointed append-mode sink, run to completion. This is the one
  // streaming path q164 leaves unproven — user-defined state (de)serial-
  // ization through the state store and watermark-driven timeout eviction.
  // The oracle replays the engine's emission rule exactly: in-data-gap
  // sessions (q91's set) PLUS each user's final session iff its timeout
  // deadline — ceil_ms(last event μs) + gap — sits STRICTLY below the
  // drained watermark, floor_ms(global max event μs) − 0 delay. Both μs→ms
  // roundings and the strict compare are Spark's own
  // (GroupStateImpl.setTimeoutTimestamp; EventTimeStatsAccum floors to ms;
  // FlatMapGroupsWithStateExec evicts on `timeout < watermark`) — a
  // tolerance-free cross-engine check of timeout semantics.
  val q174 = query("q174_stream_real_sessions")((s, dir) =>
    graft.streaming.StreamingSessionize
      .sessionsFileStream(s, s"$dir/events.parquet")
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy("user_id", "session_start"))(
    """WITH t AS (
      |  SELECT user_id, ts, "value",
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(CAST(ts AS TIMESTAMP))
      |              - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, "value")),
      |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, "value"
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM t),
      |g AS (SELECT user_id, sid, CAST(min(ts) AS TIMESTAMP) AS session_start,
      |        CAST(max(ts) AS TIMESTAMP) AS session_end, count(*) AS n_events,
      |        max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
      |      FROM s GROUP BY user_id, sid),
      |last AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY user_id),
      |wm AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) // 1000 AS wm_ms FROM events)
      |SELECT g.user_id, g.session_start, g.session_end, g.n_events
      |FROM g JOIN last l ON g.user_id = l.user_id CROSS JOIN wm
      |WHERE g.sid < l.last_sid
      |   OR (g.last_us + 999) // 1000 + 1800000 < wm.wm_ms
      |ORDER BY g.user_id, g.session_start""".stripMargin)

  // ---------------------------------------------------------------- q191
  // REGISTER state through the REAL streaming engine (the q174 recipe
  // applied to mapGroupsWithState): readStream file source → per-group
  // HLL register fold through the engine's checkpointed state store →
  // update-mode sink, run to completion; terminal row per group selected
  // by max n_events (deterministic whatever the engine's file-batching —
  // registers only grow). q93 proves the operator's batch twin; this row
  // proves the byte-array state (de)serializes through the state store
  // and survives micro-batch boundaries. Oracle: q93's replay verbatim —
  // the terminal streaming estimate must equal the batch HLL over the
  // same events, bit-exactly.
  val q191 = query("q191_stream_real_distinct")((s, dir) =>
    graft.streaming.StreamingDistinct
      .runningDistinctFileStream(s, s"$dir/events.parquet")
      .select(col("group"), col("est_distinct"), col("n_events"))
      .orderBy("group"))(q93.oracle)

  // ---------------------------------------------------------------- q195
  // Stream-stream interval join through the REAL streaming engine
  // (StreamingJoin.intervalJoinFileStream — the q174/q191 recipe applied
  // to the symmetric-hash join operator): two independent readStream file
  // sources over the same events table, q94's probe/match split, the
  // watermarked banded join buffering BOTH sides in the engine's
  // checkpointed state store, append-mode sink run to completion. q94
  // proves the operator's batch twin; this row proves join state
  // round-trips through the state store and pairs match across
  // micro-batch boundaries. Oracle: q94's replay verbatim — an inner
  // stream-stream join run to completion must equal the batch interval
  // join over the same events, row for row (the harness widens only the
  // EVICTION horizon, which a complete run never reaches; see
  // intervalJoinFileStream's scaladoc for why a tight watermark would be
  // nondeterministic under arbitrary file batching).
  val q195 = query("q195_stream_real_join")((s, dir) =>
    graft.streaming.StreamingJoin
      .intervalJoinFileStream(s, s"$dir/events.parquet")
      .orderBy("probe_id", "match_id"))(q94.oracle)

  // ---------------------------------------------------------------- q200
  // Watermark-evicted dedup through the REAL streaming engine
  // (StreamingDedup.dedupFileStream — the q174/q191/q195 recipe applied
  // to dropDuplicatesWithinWatermark, the last stateful operator class
  // the gate previously saw only as q92's batch Deduplicate substitute):
  // readStream file source over documents → synthesized event time →
  // the watermark-keyed dedup state store → append sink, run to
  // completion. The eviction horizon is wider than the synthesized time
  // span, so no eviction and no late-drop can fire and the surviving
  // fingerprint SET equals the batch twin under ANY file batching (see
  // dedupFileStream's scaladoc); tight-horizon eviction semantics are
  // pinned by StreamingSpec. Oracle: q92's replay verbatim.
  val q200 = query("q200_stream_real_dedup")((s, dir) =>
    graft.streaming.StreamingDedup
      .dedupFileStream(s, s"$dir/documents.parquet")
      .orderBy("fp"))(q92.oracle)

  // ---------------------------------------------------------------- q201
  // Per-user quota throttle through the REAL streaming engine
  // (StreamingThrottle.throttledFileStream): readStream file source →
  // the admitted-counter state-store fold → append sink run to
  // completion → per-user ADMITTED COUNTS. The count projection is
  // batching-independent — admitted-per-user = min(limit, events) under
  // any delivery order — so a lost or doubled state round-trip surfaces
  // as over/under-admission; WHICH events are admitted is pinned by
  // StreamingSpec's controlled-batch MemoryStream test. Oracle: the
  // min(limit, count) identity computed directly.
  val q201 = query("q201_stream_real_throttle")((s, dir) =>
    graft.streaming.StreamingThrottle
      .throttledFileStream(s, s"$dir/events.parquet")
      .orderBy("user_id"))(
    """SELECT user_id, LEAST(5, count(*)) AS n_admitted
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)

  // ---------------------------------------------------------------- q202
  // First-touch funnel through the REAL streaming engine
  // (StreamingFunnel.stepsFileStream): readStream file source → the
  // per-user step-time-vector state-store fold → append sink, run to
  // completion — every (user, step, reach time) row, value-checked
  // against q83's derivation per user (not just the stage counts). A
  // funnel is order-sensitive, so this row leans on AvailableNow's
  // one-data-batch property for a source with no per-trigger cap (see
  // stepsFileStream's scaladoc); out-of-order behavior is pinned by
  // StreamingSpec. Oracle: q83's v/c/p chain emitting the rows
  // themselves.
  val q202 = query("q202_stream_real_funnel")((s, dir) =>
    graft.streaming.StreamingFunnel
      .stepsFileStream(s, s"$dir/events.parquet", Seq("view", "click", "purchase"))
      .select(col("user_id"), col("step"), col("ts"))
      .orderBy("user_id", "step"))(
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY e.user_id)
      |SELECT user_id, CAST(1 AS INTEGER) AS step, CAST(t AS TIMESTAMP) AS ts FROM v
      |UNION ALL SELECT user_id, CAST(2 AS INTEGER), CAST(t AS TIMESTAMP) FROM c
      |UNION ALL SELECT user_id, CAST(3 AS INTEGER), CAST(t AS TIMESTAMP) FROM p
      |ORDER BY user_id, step""".stripMargin)

  // ---------------------------------------------------------------- q203
  // Journey-transition matrix through the REAL streaming engine
  // (StreamingTransitions.edgesFileStream): readStream file source → the
  // last-event state-store fold → append sink run to completion → the
  // (from_type, to_type, n) matrix. Order-sensitive like q202 — same
  // one-data-batch rationale; the edge multiset then equals
  // Funnel.transitions exactly. Oracle: q112's lead() replay, counts
  // only (the share column is q112's own certificate).
  val q203 = query("q203_stream_real_transitions")((s, dir) =>
    graft.streaming.StreamingTransitions
      .edgesFileStream(s, s"$dir/events.parquet")
      .orderBy("from_type", "to_type"))(
    """WITH seq AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |SELECT event_type AS from_type, next_type AS to_type, count(*) AS n_transitions
      |FROM seq WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin)

  // ---------------------------------------------------------------- q204
  // Running top-k leaderboard through the REAL streaming engine
  // (StreamingLeaders.topKLeadersFileStream — the recipe applied to the
  // stateful-AGGREGATION operator, StateStoreSave, whose serialized
  // k-heap buffers no other real-engine row exercises): readStream file
  // source → streaming groupBy + TopKAgg → COMPLETE-mode sink run to
  // completion (final table = final aggregation state). TopKAgg's merge
  // is commutative with a total tiebreak, so the result is deterministic
  // under ANY file batching. Oracle: q162's row_number replay verbatim.
  val q204 = query("q204_stream_real_leaders")((s, dir) =>
    graft.streaming.StreamingLeaders
      .topKLeadersFileStream(s, s"$dir/events.parquet")
      .orderBy("event_type", "rnk"))(q162.oracle)

  // ---------------------------------------------------------------- q206
  // q200's watermark-evicted dedup on the ROCKSDB state-store provider
  // (StreamingDedup.dedupFileStreamRocksDb) — the 100 TB state-backend
  // certificate: the default HDFS-backed provider keeps
  // every key's state in executor heap, an OOM ceiling when distinct keys
  // per partition outgrow memory; RocksDB bounds state by local disk and
  // changelog checkpointing uploads per-batch deltas. Identical query,
  // identical output contract — the oracle is q200's (= q92's) replay
  // verbatim, so the gate value-checks that swapping the state backend
  // changes NOTHING about the result.
  val q206 = query("q206_stream_rocksdb_dedup")((s, dir) =>
    graft.streaming.StreamingDedup
      .dedupFileStreamRocksDb(s, s"$dir/documents.parquet")
      .orderBy("fp"))(q92.oracle)

  // ---------------------------------------------------------------- q207
  // q195's stream-stream interval join on the ROCKSDB state-store
  // provider (StreamingJoin.intervalJoinFileStreamRocksDb) — the q206
  // state-backend certificate extended to the state shape that actually
  // outgrows heap FIRST: the symmetric-hash
  // join buffers BOTH input sides in the store for the watermark
  // horizon, so its state is (two streams × horizon) wide where
  // watermark dedup holds one fingerprint per key. Identical query,
  // identical output contract — the oracle is q195's (= q94's batch
  // interval-join replay) verbatim, so the gate value-checks that join
  // state round-tripping through RocksDB's on-disk store changes
  // NOTHING about which pairs match across micro-batch boundaries.
  val q207 = query("q207_stream_rocksdb_join")((s, dir) =>
    graft.streaming.StreamingJoin
      .intervalJoinFileStreamRocksDb(s, s"$dir/events.parquet")
      .orderBy("probe_id", "match_id"))(q94.oracle)

  // ---------------------------------------------------------------- q208
  // q174's flatMapGroupsWithState sessionizer on the ROCKSDB state-store
  // provider (StreamingSessionize.sessionsFileStreamRocksDb) — the third
  // and last stateful-class backend certificate: USER-DEFINED state, an
  // encoder-serialized case-class blob per active user, round-tripped
  // through RocksDB with event-time TIMEOUT eviction driven by the
  // engine's watermark. The oracle is q174's verbatim — the
  // tolerance-free μs→ms rounding + strict-compare timeout replay — so a
  // backend that mangled the state bytes OR fired timeouts differently
  // would hash-mismatch, not just row-count-drift.
  val q208 = query("q208_stream_rocksdb_sessions")((s, dir) =>
    graft.streaming.StreamingSessionize
      .sessionsFileStreamRocksDb(s, s"$dir/events.parquet")
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy("user_id", "session_start"))(q174.oracle)
}
