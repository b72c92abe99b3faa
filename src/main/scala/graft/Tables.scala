package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the harness test tables (`TESTDATA.md`): a TPC-H-ish star
  * schema plus `events` (stream-shaped), `documents` and `embeddings`
  * (LLM-pipeline tables). Every loader goes through [[Graft.prepare]] so the
  * catalog queries are self-contained regardless of who built the session.
  *
  * Fact tables are hash-repartitioned on their natural join/group key right
  * after the scan ([[spread]]). Two reasons:
  *  - The harness parquet files are single-rowgroup, and a parquet rowgroup
  *    is Spark's atomic split — without the repartition EVERY downstream
  *    per-row kernel runs in one task regardless of cluster size. The
  *    shuffle moves at most the (tiny relative to compute) raw columns once.
  *  - Partitioning by the table's dominant join/window key means downstream
  *    `join`/`groupBy`/`Window.partitionBy` on that key satisfy their
  *    distribution requirement from this exchange (ENSURE_REQUIREMENTS adds
  *    no second shuffle), so the co-location is reused across the query.
  *  On a real 100 TB layout (many files, many rowgroups) the scan splits
  *  natively and the same explicit key-partitioning is what you'd choose for
  *  bucketed/co-located storage; predicates still push to the scan — Catalyst
  *  moves filters below Repartition.
  */
object Tables {

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    Graft.prepare(spark)
    Parquet.read(spark, path(dir, name))
  }

  /** Hash-repartition on `key` to the session's shuffle parallelism (an
    * explicit partition count, so AQE keeps it rather than coalescing). */
  private def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col(key))

  // Dimensions: small, broadcast-joined — no repartition (a broadcast reads
  // the one task's output once; spreading them would only add a shuffle).
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")

  // Facts: spread on the dominant downstream key.
  def orders(spark: SparkSession, dir: String): DataFrame =
    spread(read(spark, dir, "orders"), "o_orderkey")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    spread(read(spark, dir, "lineitem"), "l_orderkey")
  def documents(spark: SparkSession, dir: String): DataFrame =
    spread(read(spark, dir, "documents"), "doc_id")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spread(read(spark, dir, "embeddings"), "vec_id")

  /** `events.parquet`'s `ts` has varied across harness data vintages:
    * TIMESTAMP(NANOS) (arrives as a LongType of nanoseconds under
    * `spark.sql.legacy.parquet.nanosAsLong` — truncate to micros, the same
    * truncation DuckDB applies reading nanos) or TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (arrives as TIMESTAMP_NTZ — recast to the
    * session-UTC instant type the rest of the engine uses; under the UTC
    * session timezone the micros value is unchanged, so oracle comparisons
    * line up exactly in both vintages).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    spread(raw.withColumn("ts", instantTs(raw.schema, "ts")), "user_id")
  }

  /** The ts vintage dispatch as ONE shared helper — both the batch loader
    * above and the streaming file source
    * ([[graft.streaming.StreamingRollup.hourlyWindowFileStream]]) MUST
    * apply the identical conversion: the two sites once drifted (the
    * streaming copy kept only the NTZ recast and read a nanos LongType as
    * SECONDS since epoch), and a future vintage added here would silently
    * miss any second hand-maintained copy. */
  def instantTs(schema: org.apache.spark.sql.types.StructType, tsCol: String): org.apache.spark.sql.Column =
    schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr(s"timestamp_micros($tsCol DIV 1000)")
      case org.apache.spark.sql.types.TimestampNTZType =>
        col(tsCol).cast("timestamp")
      case _ => col(tsCol)
    }
}
