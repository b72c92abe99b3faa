package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming join surface (SURVEY.md §2.12): the stream-stream interval
  * join in its state-bounded form. Both sides are watermarked and the join
  * condition carries an explicit event-time band, so the state store holds
  * only the band + watermark horizon per key — without the band Spark
  * would have to buffer BOTH streams forever.
  */
object StreamingJoin {

  /** Watermarked stream-stream join: left rows match right rows with the
    * same `key` and a right event time within `[leftTs, leftTs + band]` —
    * the "purchase follows click within the attribution window" shape.
    *
    * Both watermarks plus the banded time condition bound the state store:
    * each side is dropped from state once the other side's watermark
    * passes its band edge. `band` and `watermark` are SQL interval strings
    * (e.g. "1 hour").
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      band: String,
      watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    val cond: Column =
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $band")
    l.join(r, cond)
  }

  /** [[intervalJoin]] driven through the REAL Structured-Streaming engine
    * — the stream-stream-join sibling of q174/q191, closing the last
    * streaming codepath the gate otherwise sees only as a batch twin: the
    * symmetric-hash join operator buffering BOTH sides in the checkpointed
    * state store and matching across micro-batch boundaries. Two
    * independent `readStream` file sources over the same events table
    * (q94's probe/match split: every 10th event probes for same-user
    * events within the following hour) → watermarked interval join →
    * append-mode memory sink, run to completion with
    * `Trigger.AvailableNow()`.
    *
    * Watermark semantics in THIS harness: an inner stream-stream join
    * emits a pair the moment its second side arrives — the watermark
    * governs only state EVICTION and late-INPUT drops, never emission. A
    * parquet source is not event-time-ordered, so under an arbitrary file
    * batching a tight watermark could evict (or late-drop) rows whose
    * matches sit in a later batch and silently lose pairs; the gate run
    * must equal the batch replay under ANY batching, so it uses an
    * eviction horizon wider than the dataset's time span (state = the
    * full stream — exactly what the batch join holds too). The TIGHT
    * watermark behavior (in-band match kept, out-of-band and late rows
    * dropped) is pinned by StreamingSpec's MemoryStream test, where batch
    * boundaries are controlled.
    *
    * EAGER like the q164/q174/q191 twins: a terminal streaming result has
    * no lazy form. */
  def intervalJoinFileStream(spark: SparkSession, eventsPath: String): DataFrame =
    intervalJoinFileStream(spark, eventsPath, Nil)

  private def intervalJoinFileStream(
      spark: SparkSession,
      eventsPath: String,
      extraConfs: Seq[(String, String)]): DataFrame = {
    def side(): DataFrame = {
      val raw = StreamingHarness.fileSource(spark, eventsPath)
      raw.select(
        col("event_id").cast("long").as("event_id"),
        col("user_id"),
        graft.Tables.instantTs(raw.schema, "ts").as("ts"))
    }
    val probes = side()
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .select(col("user_id"), col("ts").as("probe_ts"), col("event_id").as("probe_id"))
    val matches = side()
      .select(col("user_id"), col("ts").as("match_ts"), col("event_id").as("match_id"))
    val joined = intervalJoin(probes, matches, "user_id", "probe_ts", "match_ts",
      band = "1 hour", watermark = "3650 days")
    // Both sides stream the same events table — pass the path twice so the
    // sizing sees the real buffered-state volume (the join holds BOTH
    // sides for the watermark horizon).
    StreamingHarness.runToMemorySink(
      spark, joined.select(col("probe_id"), col("match_id")), "append", extraConfs,
      Seq(eventsPath, eventsPath))
  }

  /** [[intervalJoinFileStream]] on the RocksDB state-store provider — the
    * q206 move applied to the state shape that actually OUTGROWS heap
    * first: a symmetric-hash stream-stream join
    * buffers BOTH input sides in the store for the full watermark
    * horizon, so its state is (two streams × horizon) wide where
    * watermark dedup keeps one fingerprint per key. RocksDB bounds that
    * buffer by local disk with block-cache reads, and changelog
    * checkpointing uploads per-batch deltas instead of re-snapshotting
    * both join buffers every micro-batch. Same query, same semantics,
    * same output (catalog q207 value-checks it against q195's oracle =
    * q94's batch replay); only the state backend differs. Conf
    * set/restore rides [[StreamingHarness.runToMemorySink]]'s hook;
    * StreamingSpec pins that the provider key actually engages. */
  def intervalJoinFileStreamRocksDb(spark: SparkSession, eventsPath: String): DataFrame =
    intervalJoinFileStream(spark, eventsPath, StreamingDedup.RocksDbConfs)
}
