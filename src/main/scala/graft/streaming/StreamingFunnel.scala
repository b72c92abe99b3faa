package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming funnel — the live feed behind the batch first-touch
  * funnel (`Funnel.userSteps`/`report`, catalog q83): as events arrive,
  * track each user's earliest qualifying time per step and emit a record
  * the moment a user REACHES a new step; a downstream aggregation keeps
  * the running per-step conversion counts.
  *
  * Semantics are the batch operator's: a user converts at step i+1 on the
  * first step-i+1 event STRICTLY after their earliest qualifying step-i
  * time. Within a micro-batch events fold in (ts, event_id) order — the
  * batch total order — so under event-time-ordered delivery the reached
  * steps and their times equal `Funnel.userSteps` exactly (StreamingSpec
  * pins this); a late event can only delay a conversion, never invent
  * one, because the strict-after check uses stored times.
  *
  * Scale shape: state is `steps.length` microsecond longs per user seen
  * at step 1 — fixed-size, shuffled once on user_id into the state store;
  * emissions are at most `steps.length` rows per user EVER. State never
  * times out (a funnel has no closure event); bound with a state-store
  * TTL when the user universe is unbounded.
  */
object StreamingFunnel {

  /** Emitted the moment a user first reaches a step (1-based index). */
  final case class StepReached(user_id: Long, step: Int, ts: Timestamp)

  /** Funnel progress over a STREAMING Dataset[Event]. */
  def stepsReached(events: Dataset[Event], steps: Seq[String]): Dataset[StepReached] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.length,
      "steps must be distinct event types (repeated-step funnels need per-occurrence state)")
    implicit val stateEnc = Encoders.kryo[Array[Long]]
    implicit val outEnc = Encoders.product[StepReached]
    val stepIdx = steps.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[Array[Long]]) => {
          // Long.MinValue = step not reached
          val t = state.getOption.getOrElse(Array.fill(steps.length)(Long.MinValue))
          val out = List.newBuilder[StepReached]
          batch.toSeq.sortBy(e => (Event.micros(e.ts), e.event_id)).foreach { e =>
            stepIdx.get(e.event_type).foreach { i =>
              val us = Event.micros(e.ts)
              val qualifies =
                if (i == 0) t(0) == Long.MinValue
                else t(i) == Long.MinValue &&
                  t(i - 1) != Long.MinValue && us > t(i - 1)
              if (qualifies) {
                t(i) = us
                out += StepReached(userId, i + 1, e.ts)
              }
            }
          }
          state.update(t)
          out.result().iterator
        })
  }

  /** [[stepsReached]] driven through the REAL Structured-Streaming engine
    * — the q174/q191/q195 recipe applied to the funnel's per-user
    * step-time vector: `readStream` file source over the events parquet →
    * the state-store fold → append-mode sink, run to completion with
    * `Trigger.AvailableNow()`. Output: every (user, step, reach time),
    * the full per-user funnel record, value-checked row for row.
    *
    * Determinism: a funnel is ORDER-SENSITIVE (an out-of-order batch can
    * delay a conversion), so this row leans on the engine's one-data-batch
    * property — `Trigger.AvailableNow` with no per-trigger cap
    * (maxFilesPerTrigger unset) delivers ALL available files in a single
    * data micro-batch, and the fold's in-batch (ts, event_id) sort is then
    * the batch operator's total order, making the result equal
    * `Funnel.userSteps` exactly. Arbitrary-batching behavior (late events
    * can only delay, never invent, a conversion) is pinned by
    * StreamingSpec's MemoryStream test, where batch boundaries are
    * controlled.
    *
    * EAGER like the q164/q174/q191/q195 twins: a terminal streaming
    * result has no lazy form. */
  def stepsFileStream(
      spark: SparkSession,
      eventsPath: String,
      steps: Seq[String]): DataFrame = {
    val ev = StreamingHarness.eventSource(spark, eventsPath)
    StreamingHarness.runToMemorySink(
      spark, stepsReached(ev, steps).toDF(), "append", Nil, Seq(eventsPath))
  }
}
