package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Sequence packing for LLM pretraining export: the concatenate-and-chunk
  * layout (documents are laid end-to-end in a deterministic order and the
  * stream is cut into fixed context windows), computed as OFFSETS over the
  * document table rather than by materializing token streams.
  *
  * Scale shape: documents are first sharded by a splitmix64 hash of their
  * id — shards are the unit of parallelism, so the only per-shard
  * sequential step (the running token offset) is a window cumulative sum
  * partitioned by shard: one shuffle, no driver state, reproducible across
  * re-runs and cluster sizes. At 100 TB you raise [[Packing.PackShards]] until each
  * shard's token stream fits a writer task; the layout of any one document
  * depends only on (its shard, the doc ids before it in that shard), never
  * on partition boundaries.
  */
object Packing {

  /** Context-window size in tokens, and the shards [[packOffsets]] lays
    * documents into. */
  final val PackCapacity = 2048
  final val PackShards = 4
  /** Sequence length [[paddingWaste]] pads each document up to. */
  final val PadSeqLen = 512

  /** Deterministic shard id in [0, nShards): splitmix64 over the document
    * id. Hash-based (not range-based) so shard weights stay balanced under
    * skewed id distributions, and stable under re-partitioning. */
  def withShard(df: DataFrame, idCol: String, nShards: Int): DataFrame =
    df.withColumn("shard", pmod(HashFunctions.mix64(col(idCol).cast("long")), lit(nShards.toLong)))

  /** Pack-offset table: for each document, its shard, its starting token
    * offset in the shard's concatenated stream (docs ordered by id), and
    * the first/last context-window index of [[PackCapacity]] tokens it lands in.
    * `spans_boundary` marks documents split across windows — the fraction
    * of such docs is the usual packing-quality metric.
    *
    * `nTokens` must be a non-negative per-row token count (zero-token docs
    * occupy no space: last_window = first_window, spans_boundary = false).
    */
  def packOffsets(
      docs: DataFrame,
      idCol: String,
      nTokens: org.apache.spark.sql.Column): DataFrame = {
    val capacity = PackCapacity
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    withShard(docs, idCol, PackShards)
      .withColumn("n_tokens", nTokens.cast("long"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer division (div) — floor(double /) would round above 2^53
      .withColumn("first_window", expr(s"start_tok div ${capacity}L"))
      .withColumn(
        "last_window",
        expr(s"(start_tok + greatest(n_tokens - 1L, 0L)) div ${capacity}L"))
      .withColumn("spans_boundary", col("first_window") =!= col("last_window"))
  }

  /** Padding-waste audit: per group, the token cost of the NAIVE
    * one-document-per-window layout ([[packOffsets]]'s alternative) —
    * each document padded up to the next multiple of [[PadSeqLen]] — versus the
    * real token count. `waste_frac = (padded − total) / padded` is the
    * fraction of compute a pad-to-length loader burns on padding, the
    * number that justifies packing per source. All counts are exact
    * integer arithmetic (`div`, not float ceil — floor(double/) rounds
    * above 2^53); the single final int/int double division is
    * IEEE-identical cross-engine.
    *
    * Scale shape: token counting is a map-only scalar over the scan; one
    * map-side-combined aggregation, shuffle ≤ groups rows.
    */
  def paddingWaste(
      docs: DataFrame,
      groupCol: String,
      nTokens: org.apache.spark.sql.Column): DataFrame = {
    val seqLen = PadSeqLen
    docs
      .select(col(groupCol), nTokens.cast("long").as("__n"))
      .withColumn("__padded", expr(s"((__n + ${seqLen - 1}L) div ${seqLen}L) * ${seqLen}L"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("total_tokens"),
        sum(col("__padded")).as("padded_tokens"))
      .withColumn("waste_frac",
        when(col("padded_tokens") === 0, lit(0.0))
          .otherwise((col("padded_tokens") - col("total_tokens")).cast("double") /
            col("padded_tokens").cast("double")))
  }
}
