package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Salt-replicated equi-join: the ACTING half of the skew toolkit whose
  * diagnosing half is [[Diagnostics.joinSkewProbe]] (q80 reports exactly
  * the per-key output contributions that tell you how many salts a hot key needs).
  *
  * A shuffled join hash-partitions both sides on the key, so one hot key
  * (the null-ish user, the default grid cell, the viral document) lands on
  * ONE reducer: at 100 TB that task runs for hours or OOMs while 999
  * executors idle. When the dim side is small enough to broadcast,
  * `broadcast()` removes the shuffle entirely — use that first. This
  * operator is for the middle regime: a dim too big to broadcast joined to
  * a fact with hot keys. It spreads each fact row over [[NumSalts]] sub-keys
  * with a deterministic hash of a per-row column and replicates each dim
  * row [[NumSalts]] times, so the exchange partitions on `(key, salt)` and the
  * hottest key's work is split across [[NumSalts]] reducers. Cost: the dim
  * shuffles [[NumSalts]]× its size — cheap precisely when the fact's hot keys
  * are the problem.
  *
  * AQE's skew-join split (`spark.sql.adaptive.skewJoin`) solves the same
  * problem adaptively for sort-merge plans and should stay on; explicit
  * salting remains the deterministic tool when the skewed output feeds a
  * same-key aggregation (where AQE cannot re-split) or when the plan must
  * not depend on runtime stats. Deterministic by construction: the salt is
  * `mix64(rowKey) mod NumSalts`, so re-runs and different cluster sizes
  * produce identical assignments.
  */
object SkewJoin {

  /** Sub-partitions each key's rows spread over: sized to (hottest key's
    * rows) / (rows a single reducer should take), per q80's probe. */
  final val NumSalts = 8

  /** Inner equi-join of `big` (skewed fact) with `dim` on `key`,
    * shuffle-partitioned on `(key, salt)`.
    *
    * @param bigRowKey any per-row column of `big` with high cardinality
    *                  (a row id, an event id) — drives the deterministic
    *                  salt assignment.
    */
  def saltedJoin(
      big: DataFrame,
      dim: DataFrame,
      key: String,
      bigRowKey: org.apache.spark.sql.Column): DataFrame = {
    val salted = big.withColumn(
      "__salt", pmod(HashFunctions.mix64(bigRowKey), lit(NumSalts.toLong)).cast("int"))
    // sequence+explode replicates each dim row once per salt; the
    // shuffle_hash hint keeps the join a shuffled hash join (no sort) and
    // holds even at spec scale where the dim would otherwise broadcast —
    // a broadcast would silently erase the very exchange being tested.
    val replicated = dim
      .withColumn("__salt", explode(sequence(lit(0), lit(NumSalts - 1))))
      .hint("shuffle_hash")
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
