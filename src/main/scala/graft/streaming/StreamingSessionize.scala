package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization — the Structured-Streaming upgrade of
  * the batch gap-sessionizer (catalog q33): per-user session windows closed
  * by an inactivity gap, maintained as CUSTOM state via
  * `flatMapGroupsWithState` (SURVEY.md §2.12's "custom state" leg; the
  * batch reference has no streaming equivalent — this is the operator a
  * production event feed needs).
  *
  * Scale shape: state is one small record per ACTIVE user (not per event);
  * the state store shuffles on user_id once, and event-time timeout closes
  * idle sessions without a scan over the state. Watermark bounds both
  * late-data acceptance and state retention.
  */
object StreamingSessionize {

  /** Input event. */
  final case class Event(user_id: Long, ts: Timestamp, value: Double)

  /** Open-session state carried between micro-batches. Event times are
    * MICROSECONDS since epoch: Spark timestamps carry μs precision, and a
    * millisecond fold would misorder sub-ms neighbors and emit session
    * bounds that disagree with the source timestamps. */
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)

  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Emitted closed session. */
  final case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double)

  /** Inactivity that closes a session: 30 min, matching the batch q33
    * sessionizer. */
  final val SessionGapMs = 30L * 60 * 1000

  /** Close sessions after [[SessionGapMs]] of inactivity. Works on a
    * STREAMING Dataset[Event] with a watermark already applied to `ts`;
    * emits each session exactly once, when it closes. */
  def sessions(events: Dataset[Event]): Dataset[Session] = {
    val gapMs = SessionGapMs
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[Session]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          val gapUs = gapMs * 1000L
          def emit(s: SessionState): Session =
            Session(userId, toTs(s.start), toTs(s.last), s.n, s.total)

          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed last-event + gap: the open session is closed
            val out = state.getOption.map(emit).toList
            state.remove()
            out.iterator
          } else {
            // fold this batch's events (in event-time order) into sessions;
            // gaps INSIDE the batch close sessions immediately
            val sorted = batch.toSeq.sortBy(e => (graft.streaming.Event.micros(e.ts), e.value))
            var open = state.getOption
            val closed = List.newBuilder[Session]
            sorted.foreach { e =>
              val t = graft.streaming.Event.micros(e.ts)
              open match {
                case Some(s) if t - s.last <= gapUs =>
                  open = Some(SessionState(s.start, math.max(s.last, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += emit(s)
                  open = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  open = Some(SessionState(t, t, 1L, e.value))
              }
            }
            open match {
              case Some(s) =>
                state.update(s)
                // close the still-open session once the watermark passes
                // its gap deadline (timeout clock is ms — round UP so the
                // deadline is never before the exact μs one)
                state.setTimeoutTimestamp(Math.floorDiv(s.last + 999L, 1000L) + gapMs)
              case None => state.remove()
            }
            closed.result().iterator
          }
        })
  }

  /** [[sessions]] driven through the REAL Structured-Streaming engine —
    * the custom-STATE sibling of `StreamingRollup.hourlyWindowFileStream`
    * (q164): `readStream` file source over the events parquet → watermark →
    * `flatMapGroupsWithState` fold through the engine's state store →
    * checkpointed sink, run to completion with `Trigger.AvailableNow()`.
    * This is the one streaming path q164 does NOT cover: user-defined state
    * serialization through the state store plus EVENT-TIME TIMEOUT
    * eviction, driven by the engine's own watermark.
    *
    * Emission semantics under AvailableNow (what the oracle must replay):
    * the file source delivers all available files in one data batch, where
    * the eviction watermark is still at its initial value — so sessions
    * closed by IN-DATA gaps are emitted (exactly the batch-mode q91 set
    * minus each user's final session, which stays open in state with an
    * event-time timeout at `ceilMs(last) + gapMs`). The engine then runs
    * one no-data batch (AvailableNow, unlike the deprecated Trigger.Once,
    * honors `spark.sql.streaming.noDataMicroBatches.enabled`) with the
    * watermark advanced to `floorMs(max event time) − delay`; every open
    * session whose timeout is STRICTLY below that fires and is emitted
    * too. The remainder — users active within `gap + delay` of the global
    * max — stay in state, exactly as they would on a live feed. Both
    * boundary roundings (timeout ceils μs→ms at set time, the watermark
    * floors μs→ms at collection) and the strict `<` eviction compare are
    * pinned by the q174 DuckDB oracle.
    *
    * EAGER like the q164 twin: a terminal streaming result has no lazy
    * form. Watermark delay 0: on a drained bounded stream a delay only
    * widens the never-emitted tail, and late data is impossible once the
    * source is exhausted. */
  def sessionsFileStream(spark: SparkSession, eventsPath: String): DataFrame =
    sessionsFileStream(spark, eventsPath, Nil)

  private def sessionsFileStream(
      spark: SparkSession,
      eventsPath: String,
      extraConfs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val raw = StreamingHarness.fileSource(spark, eventsPath)
    val ev = raw
      .withColumn("ts", graft.Tables.instantTs(raw.schema, "ts"))
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("value"))
      .withWatermark("ts", "0 seconds")
      .as[Event]
    StreamingHarness.runToMemorySink(spark, sessions(ev).toDF(), "append",
      extraConfs, Seq(eventsPath))
  }

  /** [[sessionsFileStream]] on the RocksDB state-store provider — the
    * q206 move applied to USER-DEFINED state:
    * `flatMapGroupsWithState` state is an opaque encoder-serialized blob
    * per key (here [[SessionState]]), one per ACTIVE user — the shape
    * whose aggregate size tracks live-key cardinality and outgrows heap
    * on a wide user base. This twin proves the custom case-class state
    * round-trips through RocksDB's on-disk store and that event-time
    * TIMEOUT eviction fires identically there (catalog q208 value-checks
    * the output against q174's oracle — the tolerance-free μs/ms
    * rounding replay — so a backend that mangled either would
    * hash-mismatch). Conf set/restore rides
    * [[StreamingHarness.runToMemorySink]]'s hook. */
  def sessionsFileStreamRocksDb(spark: SparkSession, eventsPath: String): DataFrame =
    sessionsFileStream(spark, eventsPath, StreamingDedup.RocksDbConfs)
}
