package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions

/** Continuously-maintained per-group leaderboard: the streaming face of
  * the [[graft.plans.TopKAgg]] bounded-buffer aggregate (q96's batch
  * operator), here running inside Structured Streaming's stateful
  * aggregation. The state store persists each group's SERIALIZED k-heap
  * between micro-batches (the same serialize/deserialize pair the batch
  * shuffle uses), so state per group is O(k) forever — a leaderboard over
  * an unbounded stream with bounded memory, where collecting rows and
  * re-ranking would grow without limit.
  *
  * Complete/update output only (top-k is not monotone: a new row can
  * evict an old leader), so a durable consumer upserts by (group, rnk).
  */
object StreamingLeaders {

  /** Leaders each group keeps. */
  final val LeaderK = 3

  /** Per-group running top-[[LeaderK]] of (`ord`, `id`).
    *
    * @return one row per (group, rank): `groupCol..., rnk, ord, id` —
    *         ranks re-emitted each trigger as leaders change
    */
  def topKLeaders(
      stream: DataFrame,
      groupCols: Seq[String],
      ord: Column,
      id: Column): DataFrame =
    stream
      .groupBy(groupCols.map(col): _*)
      .agg(GraftFunctions.topK(ord, id, LeaderK).as("__top"))
      .select(groupCols.map(col) :+ posexplode(col("__top")): _*)
      .select(groupCols.map(col) ++ Seq(
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.ord").as("ord"),
        col("col.id").as("id")): _*)

  /** [[topKLeaders]] driven through the REAL Structured-Streaming engine —
    * the q174/q191/q195 recipe applied to the stateful-AGGREGATION
    * operator (`StateStoreSave`), whose serialized k-heap buffers the gate
    * otherwise sees only in batch shuffles: `readStream` file source over
    * the events parquet → streaming groupBy + TopKAgg → COMPLETE-mode
    * memory sink (the sink table is replaced each trigger, so the final
    * table IS the final aggregation state), run to completion with
    * `Trigger.AvailableNow()`.
    *
    * Deterministic under ANY file batching: TopKAgg's merge is
    * commutative/associative with a total (ord DESC, id ASC) tiebreak, so
    * the final heap per group — and therefore the final complete-mode
    * emission — equals the batch aggregation whatever order batches
    * deliver rows in.
    *
    * EAGER like the q164/q174/q191/q195 twins: a terminal streaming
    * result has no lazy form. */
  def topKLeadersFileStream(spark: SparkSession, eventsPath: String): DataFrame = {
    val raw = StreamingHarness.fileSource(spark, eventsPath)
    val ev = raw
      .select(col("event_type"),
        col("value").cast("double").as("value"),
        col("event_id").cast("long").as("event_id"))
      .filter(col("value").isNotNull)
    StreamingHarness.runToMemorySink(
      spark,
      topKLeaders(ev, Seq("event_type"), col("value"), col("event_id")),
      "complete", Nil, Seq(eventsPath))
  }
}
