package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot upsert (CDC "latest wins") — the distributed generalization of
  * the reference's read-modify-write backfill (reference `src/etl.py:21-29`:
  * UPDATE rows in place where a newer value exists).
  *
  * A 100 TB table can't be updated in place: the scalable shape is
  * base-snapshot ∪ change-batch → one window pass keeping the newest row per
  * key → new snapshot. The union does NOT shuffle by itself; the single
  * shuffle is the window's hash partition on the key columns — the same
  * exchange a downstream join/groupBy on those keys then reuses. Compare
  * MERGE INTO of the lakehouse table formats: same semantics, expressed as a
  * pure-DataFrame operator.
  */
object Merge {

  /** Latest-wins upsert of `updates` into `base`.
    *
    * Keeps, per `keys`, the row with the greatest (`versionCol`,
    * updates-over-base, `tieBreak`) — the explicit total order makes the
    * survivor deterministic under re-partitioning and re-runs even when the
    * same key carries equal versions in both inputs (an idempotent re-apply
    * of the same change batch is a no-op). Both inputs must share a schema;
    * `tieBreak` must be unique per (key, version, side) for full determinism
    * (an event/change id in practice).
    */
  def upsertLatest(
      base: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      versionCol: String,
      tieBreak: String): DataFrame = {
    require(base.columns.sameElements(updates.columns),
      s"schema mismatch: base ${base.columns.mkString(",")} vs updates ${updates.columns.mkString(",")}")
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc, col(tieBreak).desc)
    tagged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** Keyed snapshot diff — the audit twin of [[upsertLatest]]: what changed
    * between two versions of a table. One row per key present in either
    * snapshot, tagged `added` (revised only), `removed` (base only),
    * `changed` (both sides, some `compareCols` differ), or `unchanged`.
    * Comparisons are null-safe (`<=>`): a null→value transition is a
    * change, null→null is not. `keys` must be unique within each snapshot
    * (it is a KEYED snapshot — run [[upsertLatest]] or an aggregate first
    * if not); duplicate keys would multiply through the outer join.
    *
    * Scale shape: one hash shuffle per side on `keys` feeding the full
    * outer join, status computed row-locally after it — no collect, no
    * row-fingerprint hashing (column-wise null-safe equality is exact and
    * engine-portable where a serialized-row hash is not). Pair with a
    * status-keyed aggregate for the dashboard row counts; keep the row
    * stream for writing an audit table.
    */
  def snapshotDiff(
      base: DataFrame,
      revised: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "need at least one compare column")
    require(keys.intersect(compareCols).isEmpty,
      s"keys and compareCols must be disjoint; both contain ${keys.intersect(compareCols).mkString(",")}")
    val reserved = (keys ++ compareCols).filter(c =>
      c == "__b" || c == "__r" || c.startsWith("__r_") || c == "status")
    require(reserved.isEmpty,
      s"column names collide with snapshotDiff internals: ${reserved.mkString(",")}")
    val b = base.select((keys ++ compareCols).map(col): _*)
      .withColumn("__b", lit(1))
    val r = revised.select((keys ++ compareCols).map(col): _*)
      .withColumnsRenamed(compareCols.map(c => c -> s"__r_$c").toMap)
      .withColumn("__r", lit(1))
    val same = compareCols
      .map(c => col(c) <=> col(s"__r_$c"))
      .reduce(_ && _)
    b.join(r, keys, "full_outer")
      .withColumn("status",
        when(col("__b").isNull, "added")
          .when(col("__r").isNull, "removed")
          .when(same, "unchanged")
          .otherwise("changed"))
      .select(keys.map(col) :+ col("status"): _*)
  }

  /** Type-2 slowly-changing-dimension apply — the HISTORY-keeping member
    * of the family ([[upsertLatest]] keeps latest, [[snapshotDiff]] tells
    * you what moved, this keeps every version): apply a keyed change
    * batch to an SCD2 history table, closing the open row of every key
    * whose `compareCols` changed (its `valid_to` becomes the batch's
    * `tsCol`) and opening a new version (`valid_from` = batch ts,
    * `valid_to` null); unchanged keys and keys absent from the batch keep
    * their open row untouched; unseen keys insert as new open rows.
    * Comparisons are null-safe (`<=>`). Re-applying the same batch is a
    * no-op (nothing differs the second time) — the idempotency law
    * MergeSpec pins.
    *
    * `history` must carry `valid_from`/`valid_to` (null = open) with AT
    * MOST ONE open row per key; `batch` must be keyed (one row per key —
    * pre-aggregate with [[upsertLatest]] if not) and carries `tsCol` as
    * the effective-change timestamp.
    *
    * Scale shape: closed history rows pass through UNTOUCHED (at 100 TB
    * they are the overwhelming bulk, and with the history partitioned on
    * `valid_to` the closed partitions are not even rewritten — the K1
    * dynamic-overwrite shape); the one hash-shuffle full-outer join is
    * open-rows × batch, both current-population-sized. */
  def scd2Apply(
      history: DataFrame,
      batch: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String],
      tsCol: String): DataFrame = {
    require(compareCols.nonEmpty, "need at least one compare column")
    require(keys.intersect(compareCols).isEmpty,
      s"keys and compareCols must be disjoint; both contain ${keys.intersect(compareCols).mkString(",")}")
    val outCols = keys ++ compareCols ++ Seq("valid_from", "valid_to")
    val closed = history.filter(col("valid_to").isNotNull)
      .select(outCols.map(col): _*)
    val open = history.filter(col("valid_to").isNull)
      .select((keys ++ compareCols :+ "valid_from").map(col): _*)
      .withColumn("__o", lit(1))
    val b = batch
      .select((keys ++ compareCols :+ tsCol).map(col): _*)
      .withColumnsRenamed(
        (compareCols.map(c => c -> s"__b_$c") :+ (tsCol -> "__ts")).toMap)
      .withColumn("__n", lit(1))
    val same = compareCols.map(c => col(c) <=> col(s"__b_$c")).reduce(_ && _)
    val j = open.join(b, keys, "full_outer")
    // surviving open/closed versions of previously-open rows
    val fromOpen = j.filter(col("__o").isNotNull)
      .select(keys.map(col) ++ compareCols.map(col) :+ col("valid_from") :+
        when(col("__n").isNotNull && !same, col("__ts")).as("valid_to"): _*)
    // new open versions: changed keys + keys new to the history
    val fromBatch = j.filter(col("__n").isNotNull && (col("__o").isNull || !same))
      .select(keys.map(col) ++
        compareCols.map(c => col(s"__b_$c").as(c)) :+
        col("__ts").as("valid_from") :+
        lit(null).cast(j.schema("__ts").dataType).as("valid_to"): _*)
    closed.unionByName(fromOpen).unionByName(fromBatch)
  }

  /** Mergeable per-key summary: count / exact-decimal sum / min / max of
    * `valueCol` — the incremental-view-maintenance building block. The
    * sum stays DECIMAL(38, 4) (not double) so merging partials is EXACT
    * and order-independent; cast at presentation time. */
  def summarize(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(38, 4)))
          .as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Incremental aggregate maintenance: fold a DELTA batch's
    * [[summarize]] table into the BASE summary without touching base
    * FACTS — count/sum/min/max are self-decomposable, so
    * `merge(summarize(A), summarize(B)) ≡ summarize(A ∪ B)` exactly
    * (the decimal sum makes even the sum bit-stable under any merge
    * order). This is why a 100 TB nightly rollup costs one delta scan
    * plus a summary-table-sized merge instead of a full recompute — the
    * same mergeability discipline as the HLL register tables (q82), for
    * the plain-aggregate column set.
    *
    * Keys present only in base pass through untouched; delta-only keys
    * appear new. Scale shape: the merge shuffles summary rows only
    * (bounded by key cardinality), never facts. */
  def mergeSummaries(base: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    base.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
}
