package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming transition edges — the live feed behind the batch
  * Markov journey matrix (`Funnel.transitions`, catalog q112): as events
  * arrive, emit one (from_type → to_type) edge per adjacent pair of a
  * user's events; a downstream streaming aggregation keeps the running
  * matrix.
  *
  * Scale shape: state is ONE tiny record per user (the last event seen —
  * type, μs timestamp, id), shuffled once on user_id into the state store;
  * emitted edges are matrix-bound after aggregation. Within a micro-batch
  * events fold in (ts, event_id) order — the same total order as the batch
  * operator — so with event-time-ordered delivery the accumulated edges
  * equal `Funnel.transitions` exactly (StreamingSpec pins this). An event
  * arriving LATE (older than the user's stored last event, inside the
  * watermark) appends in arrival order instead — the standard streaming
  * approximation; the watermark bounds how stale that can be.
  */
object StreamingTransitions {

  /** Per-user carried state: the last event seen. */
  final case class LastEvent(tsUs: Long, event_id: Long, event_type: String)

  /** One journey edge. Aggregate downstream with
    * `groupBy(from_type, to_type).count()`. */
  final case class Edge(user_id: Long, from_type: String, to_type: String)

  /** Emit journey edges from a STREAMING Dataset[Event] (watermark applied
    * by the caller). State never times out by design: one record per
    * ever-seen user, the transition chain has no closure event — bound it
    * with a state-store TTL policy if the user universe is unbounded. */
  def edges(events: Dataset[Event]): Dataset[Edge] = {
    implicit val stateEnc = Encoders.product[LastEvent]
    implicit val outEnc = Encoders.product[Edge]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[LastEvent]) => {
          val sorted = batch.toSeq.sortBy(e => (Event.micros(e.ts), e.event_id))
          var last = state.getOption
          val out = List.newBuilder[Edge]
          sorted.foreach { e =>
            last.foreach(l => out += Edge(userId, l.event_type, e.event_type))
            last = Some(LastEvent(Event.micros(e.ts), e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
        })
  }

  /** [[edges]] driven through the REAL Structured-Streaming engine — the
    * q174/q191/q195 recipe applied to the last-event state record:
    * `readStream` file source over the events parquet → the state-store
    * fold → append-mode sink, run to completion with
    * `Trigger.AvailableNow()`, then the emitted edges aggregated to the
    * (from_type, to_type, n_transitions) matrix the batch twin (q112)
    * publishes.
    *
    * Determinism: transition edges are ORDER-SENSITIVE (an out-of-order
    * batch splices the chain differently), so like
    * [[StreamingFunnel.stepsFileStream]] this row leans on the engine's
    * one-data-batch property — `Trigger.AvailableNow` with no per-trigger
    * cap delivers all available files in a single data micro-batch, whose
    * in-batch (ts, event_id) sort is the batch operator's total order, so
    * the edge multiset equals `Funnel.transitions` exactly.
    * Arbitrary-batching behavior (a late event appends in arrival order)
    * is pinned by StreamingSpec's MemoryStream test.
    *
    * EAGER like the q164/q174/q191/q195 twins: a terminal streaming
    * result has no lazy form. */
  def edgesFileStream(spark: SparkSession, eventsPath: String): DataFrame = {
    val ev = StreamingHarness.eventSource(spark, eventsPath)
    StreamingHarness
      .runToMemorySink(spark, edges(ev).toDF(), "append", Nil, Seq(eventsPath))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }
}
