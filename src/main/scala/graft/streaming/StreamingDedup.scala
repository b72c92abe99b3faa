package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Streaming exact deduplication — the continuous-ingest twin of the batch
  * `Dedup.exactGroups` tier (catalog q20): drop any document whose
  * normalized content fingerprint was already seen.
  *
  * `dropDuplicatesWithinWatermark` keys engine-managed state on the
  * 128-bit fingerprint and EVICTS entries older than the watermark — the
  * property that matters at scale: unbounded `dropDuplicates` state grows
  * with every distinct document forever, while watermarked state is bounded
  * by (ingest rate × horizon). The horizon is the dedup guarantee window:
  * an exact re-post later than `horizon` after the original is treated as
  * new — the standard trade for a pipeline that must run indefinitely.
  */
object StreamingDedup {

  /** @param horizon watermark delay; duplicates arriving within this
    *                event-time window of the first copy are dropped. */
  def dedupStream(
      df: DataFrame,
      tsCol: String,
      textCol: String,
      horizon: String = "1 hour"): DataFrame =
    df.withColumn("fp", TextFunctions.fingerprintMd5(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Batch twin of [[dedupStream]] — the IDENTICAL fingerprint key, with
    * Spark's plain `Deduplicate` standing in for the watermark-evicted
    * state store (`dropDuplicatesWithinWatermark` analyzes streaming-only;
    * a finite batch needs no horizon). Catalog q92 runs this form, putting
    * driver-level regression cover on the shared key derivation; the
    * state-store path itself is exercised by StreamingSpec. */
  def dedupBatch(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fp", TextFunctions.fingerprintMd5(col(textCol)))
      .dropDuplicates("fp")

  /** [[dedupStream]] driven through the REAL Structured-Streaming engine —
    * the q174/q191/q195 recipe applied to the WATERMARK-EVICTED dedup
    * state store, the last stateful operator class the gate otherwise sees
    * only as the batch `Deduplicate` substitute (q92): `readStream` file
    * source over the documents parquet → synthesized event time →
    * `dropDuplicatesWithinWatermark` through the engine's checkpointed
    * state store → append-mode sink, run to completion with
    * `Trigger.AvailableNow()`.
    *
    * Determinism under ANY file batching: documents carry no timestamp, so
    * event time is synthesized deterministically from `doc_id` (spread
    * over one day), and the eviction horizon is far wider than that span —
    * the watermark can therefore never evict a fingerprint from state nor
    * drop an input row as late, and the SURVIVING FINGERPRINT SET equals
    * the batch twin's exactly, whatever the batching. Which physical row
    * survives per fingerprint is nondeterministic (q92's caveat), hence
    * the fp-only projection. TIGHT-horizon behavior — eviction after the
    * watermark passes, a late re-post admitted as new — is pinned by
    * StreamingSpec's MemoryStream test, where batch boundaries are
    * controlled.
    *
    * EAGER like the q164/q174/q191/q195 twins: a terminal streaming result
    * has no lazy form. */
  def dedupFileStream(spark: SparkSession, documentsPath: String): DataFrame =
    dedupFileStream(spark, documentsPath, Nil)

  private def dedupFileStream(
      spark: SparkSession,
      documentsPath: String,
      extraConfs: Seq[(String, String)]): DataFrame = {
    val raw = StreamingHarness.fileSource(spark, documentsPath)
    val docs = raw.select(
      col("text"),
      timestamp_seconds(
        lit(1704067200L) + pmod(col("doc_id").cast("long"), lit(86400L))).as("ts"))
    StreamingHarness.runToMemorySink(
      spark,
      dedupStream(docs, "ts", "text", horizon = "3650 days").select(col("fp")),
      "append",
      extraConfs,
      Seq(documentsPath))
  }

  /** [[dedupFileStream]] on the RocksDB state-store provider — the 100 TB
    * state-size answer for watermark dedup / stream joins with large
    * keyspaces. The default HDFS-backed provider keeps EVERY key's state
    * in executor heap (per-partition hash maps; fine at fixture scale,
    * an OOM ceiling when distinct-keys-per-partition outgrows memory);
    * RocksDB spills state to local SSD with block-cache reads, and
    * changelog checkpointing uploads per-batch DELTAS instead of
    * re-snapshotting the full store — state size is then bounded by local
    * disk, not heap, and checkpoint traffic by the batch's write set.
    * Same query, same semantics, same output (catalog q206 value-checks
    * it against q200's oracle); only the state backend differs. */
  def dedupFileStreamRocksDb(spark: SparkSession, documentsPath: String): DataFrame =
    dedupFileStream(spark, documentsPath, RocksDbConfs)

  /** The RocksDB state-backend confs the twin runs under — public so the
    * spec can pin that the provider KEY actually applies (a bogus class on
    * the same key must fail the stream; equal outputs alone can't prove
    * the conf engaged). */
  val RocksDbConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    // Row-count telemetry off: with tracking on, every state put/delete
    // pays an extra RocksDB get so numRowsTotal stays exact — measured on
    // the q207 batch profile as part of an addBatch that runs 5.2× the heap
    // provider's for identical compute (110k puts + 200k probe scans
    // through JNI). Disabling changes ONLY the stateOperators.numRowsTotal
    // progress metric (-1), never results — the documented production
    // setting for write-heavy state.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")
}
