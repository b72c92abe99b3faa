package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-key ingestion throttle — "admit at most N events per user", the
  * quota/rate-cap primitive an ingestion edge applies before letting a
  * feed into the pipeline (the streaming face of `Sampling.capPerGroup`'s
  * bounded selection).
  *
  * Scale shape: state is ONE long per key (admitted-so-far), shuffled
  * once on the key into the state store; emitted rows are the admitted
  * prefix only. Within a micro-batch events fold in (ts, event_id) order
  * — a total order, so with event-time-ordered delivery the admitted set
  * equals the batch twin `throttleBatch` exactly (StreamingSpec pins
  * this); late events consume quota in arrival order, the standard
  * streaming approximation. State never times out: one counter per
  * ever-seen key — bound with a state-store TTL when the key universe is
  * unbounded.
  */
object StreamingThrottle {

  /** Events per key the streaming throttle admits. */
  final val StreamQuota = 5
  /** Events per key the batch audit ([[throttleBatch]]) keeps. */
  final val AuditQuota = 20

  /** Admit the first [[StreamQuota]] events per key from a STREAMING
    * Dataset[Event]; drop the rest. */
  def throttled(events: Dataset[Event]): Dataset[Event] = {
    implicit val stateEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[Event]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, batch: Iterator[Event], state: GroupState[Long]) => {
          val sorted = batch.toSeq.sortBy(e => (Event.micros(e.ts), e.event_id))
          var n = state.getOption.getOrElse(0L)
          val out = sorted.take(math.max(0L, StreamQuota.toLong - n).toInt)
          n += sorted.size // count ALL seen, so quota can't re-open
          state.update(n)
          out.iterator
        })
  }

  /** Batch twin: the first [[AuditQuota]] rows per key in (ts, event_id)
    * order; under event-time-ordered delivery [[throttled]] admits the
    * first [[StreamQuota]] of them.
    * A row_number window per key; at scale this is the one genuinely
    * ordered per-key pass, same budget as `Sampling.budgetPerGroup`. */
  def throttleBatch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= AuditQuota)
      .drop("__rn")
  }

  /** [[throttled]] driven through the REAL Structured-Streaming engine —
    * the q174/q191/q195 recipe applied to the quota counter: `readStream`
    * file source over the events parquet → the per-key state-store fold →
    * append-mode sink, run to completion with `Trigger.AvailableNow()`,
    * then the admitted stream aggregated to PER-USER ADMITTED COUNTS.
    *
    * The count projection is what makes the gate row deterministic under
    * ANY file batching: the state counter counts every event seen, so the
    * total admitted per user is min(StreamQuota, total events) whatever order
    * batches deliver them in — only WHICH events are admitted varies, and
    * that set is pinned (as exactly the batch twin's `throttleBatch`
    * prefix) by StreamingSpec's MemoryStream test, where batch boundaries
    * are controlled. A lost or double-counted state round-trip would
    * surface here as over/under-admission.
    *
    * EAGER like the q164/q174/q191/q195 twins: a terminal streaming
    * result has no lazy form. */
  def throttledFileStream(spark: SparkSession, eventsPath: String): DataFrame = {
    val ev = StreamingHarness.eventSource(spark, eventsPath)
    StreamingHarness
      .runToMemorySink(spark, throttled(ev).toDF(), "append", Nil, Seq(eventsPath))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_admitted"))
  }
}
