package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Deterministic Bloom-filter semi-join pre-filter — the classic 100 TB
  * shuffle-reduction trick: before shuffling a huge fact table into a
  * semi/inner join, test each row against a tiny bit table built from the
  * other side's keys and drop the guaranteed-misses map-side. What survives
  * is the true matches plus a bounded false-positive tail; the exact join
  * then runs over a fraction of the data.
  *
  * Spark's own runtime row-level filtering (`spark.sql.optimizer.
  * runtimeFilter.bloomFilter.enabled`) injects this automatically for some
  * shapes; this operator is the EXPLICIT, engine-portable form: SplitMix64
  * seeded probes ([[HashFunctions.seeded]]) into an `mBits`-bit table stored
  * as 64-bit words, all integer arithmetic, so membership decisions are
  * reproducible across engines (the q81 oracle rebuilds the identical
  * table in SQL) and across cluster sizes — a key property when the
  * pre-filter's output feeds dedup decisions that must be auditable.
  *
  * Scale shape: the word table is `mBits/64` rows (1024 for the default
  * 64 Ki bits) built with one map-side-combined `bit_or` aggregation over
  * the key side, then BROADCAST; probing is [[BloomPrefilter.Seeds]] broadcast hash joins on
  * the word index — map-only over the fact table, no shuffle of fact rows.
  */
object BloomPrefilter {

  /** Hash functions (probe positions) per key. */
  final val Seeds = 2

  /** Build the word table `(word: long, bits: long)` from `keys`' `keyCol`.
    * Absent words mean all-zero bits (the probe treats no-match as 0).
    *
    * @param mBits filter size in bits; power of 2, multiple of 64
    */
  def buildTable(
      keys: DataFrame,
      keyCol: Column,
      mBits: Int = 65536): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of 2 >= 64, got $mBits")
    keys
      .select(keyCol.cast("long").as("__bf_key"))
      .withColumn("__bf_seed", explode(array((0 until Seeds).map(lit): _*)))
      .withColumn("__bf_pos",
        HashFunctions.seeded(col("__bf_key"), col("__bf_seed"))
          .bitwiseAND(lit((mBits - 1).toLong)))
      .select(
        shiftrightunsigned(col("__bf_pos"), 6).as("word"),
        expr("shiftleft(cast(1 as bigint), cast(__bf_pos % 64 as int))").as("__bf_mask"))
      .groupBy(col("word"))
      .agg(expr("bit_or(__bf_mask)").as("bits"))
  }

  /** Append a `bloom_pass` boolean to `df`: true iff every seeded probe of
    * `keyCol` hits a set bit — i.e. the row MAY match the key side (false
    * positives possible at the standard `(1-e^(-Seeds*n/mBits))^Seeds`
    * rate), false means it provably cannot. `table` must come from
    * [[buildTable]] with the same `mBits`. */
  def prefilter(
      df: DataFrame,
      keyCol: Column,
      table: DataFrame,
      mBits: Int = 65536): DataFrame = {
    val withFlags = (0 until Seeds).foldLeft(
      df.withColumn("__bf_key", keyCol.cast("long"))) { (acc, s) =>
      val pos = HashFunctions.seeded(col("__bf_key"), lit(s))
        .bitwiseAND(lit((mBits - 1).toLong))
      acc
        .withColumn(s"__bf_word_$s", shiftrightunsigned(pos, 6))
        .withColumn(s"__bf_bit_$s", (pos % 64).cast("int"))
        .join(
          broadcast(table.select(
            col("word").as(s"__bf_tw_$s"), col("bits").as(s"__bf_bits_$s"))),
          col(s"__bf_word_$s") === col(s"__bf_tw_$s"), "left")
        .withColumn(s"__bf_hit_$s",
          coalesce(
            // expr form: the functions-API shiftrightunsigned only takes a
            // literal shift amount; the underlying expression shifts by a
            // column just fine
            expr(s"shiftrightunsigned(__bf_bits_$s, __bf_bit_$s)")
              .bitwiseAND(lit(1L)) === 1L,
            lit(false)))
        .drop(s"__bf_word_$s", s"__bf_bit_$s", s"__bf_tw_$s", s"__bf_bits_$s")
    }
    val pass = (0 until Seeds).map(s => col(s"__bf_hit_$s")).reduce(_ && _)
    withFlags
      .withColumn("bloom_pass", pass)
      .drop("__bf_key" +: (0 until Seeds).map(s => s"__bf_hit_$s"): _*)
  }
}
