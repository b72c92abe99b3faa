package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout: multi-dimensional clustering for
  * range-pruned scans.
  *
  * Range-partitioning by ONE column gives parquet files tight min/max on
  * that column only — a bounding-box query on (x, y) still reads every
  * file for the unsorted dimension. Interleaving the bits of both
  * coordinates into one z-value and range-partitioning + sorting by IT
  * keeps rows that are close in BOTH dimensions inside the same files, so
  * each file's (x, y) min/max footprint is a small tile and a bbox
  * predicate skips almost everything — at 100 TB the difference between a
  * full scan and reading a few hundred files. This is the engine's layout
  * answer for the reference's spatial grid workload (reference
  * `src/etl.py:137-159` loads the 10 000-cell Milan grid whose queries
  * are exactly such bbox probes; [[Spatial]] is the in-query tier,
  * z-layout the storage tier).
  *
  * The z-value is composed from built-in integer ops (shifts/masks — the
  * classic parallel bit-spread), so it rides whole-stage codegen with no
  * UDF and an external engine can replay it bit-for-bit (q99's oracle
  * does, in SQL).
  */
object Layout {

  /** Bytes per compacted file [[compactionPlan]] aims for: 256 KiB. */
  final val CompactionTargetBytes = 256L * 1024

  /** Bits kept per dimension (16 → a 65 536 × 65 536 grid, z fits in 32
    * bits). Enough that file-footprint granularity, not key resolution,
    * bounds pruning quality. */
  final val ZBits = 16

  /** Spread the low 16 bits of non-negative `v` to even bit positions:
    * 0b1111 → 0b01010101. Pure shift/mask composition — stays in codegen. */
  private def spread16(v: Column): Column = {
    val a = v.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton z-value of two integer coordinates (low [[ZBits]] bits each;
    * callers quantize floats/ids into that range first): x in even bits,
    * y in odd. Monotone locality: rows whose z-values are close share a
    * small (x, y) tile. */
  def zOrder2(x: Column, y: Column): Column =
    spread16(x.cast("long")).bitwiseOR(shiftleft(spread16(y.cast("long")), 1))

  /** File-skipping audit: quantify what a z-clustered layout would prune
    * for a set of bbox probes, from footprint statistics alone — the
    * decision artifact for "is re-clustering this 100 TB table worth it",
    * computed WITHOUT rewriting or scanning the table again.
    *
    * `tiles` is a footprint table `(n_rows, x_min, x_max, y_min, y_max)` +
    * any id columns — exactly what catalog query q99 emits per z-range,
    * and what a parquet footer min/max index gives per file. `boxes` is a
    * tiny probe table `(box_id, x_lo, x_hi, y_lo, y_hi)` (inclusive
    * bounds). A tile is PRUNED for a box when the ranges miss on either
    * dimension — the same conservative test parquet row-group skipping
    * applies, so `rows_scanned` is the upper bound a min/max reader pays.
    *
    * Plan shape: broadcast the boxes over the tile table (tiles ≪ rows;
    * the fact table itself is never touched) — one map-side-combined
    * aggregation, all integer arithmetic.
    */
  def pruningAudit(tiles: DataFrame, boxes: DataFrame): DataFrame = {
    val pruned =
      col("x_max") < col("x_lo") || col("x_min") > col("x_hi") ||
        col("y_max") < col("y_lo") || col("y_min") > col("y_hi")
    tiles.crossJoin(broadcast(boxes))
      .groupBy(col("box_id"))
      .agg(
        count(lit(1)).as("n_tiles"),
        sum(when(pruned, 1L).otherwise(0L)).as("n_pruned"),
        sum(col("n_rows")).as("rows_total"),
        sum(when(pruned, 0L).otherwise(col("n_rows"))).as("rows_scanned"))
  }

  /** Small-file compaction planner: assign an ordered file inventory to
    * target-sized compaction groups — the maintenance pass every
    * parquet/Delta/Iceberg table needs once streaming appends have
    * shredded it into kilobyte files. Files are packed in `orderCols`
    * order (keep it the table's natural clustering so compaction
    * preserves data locality / sort order); a file opens a new group
    * exactly when the bytes before it fill the current group:
    * `group = cum_bytes_before div CompactionTargetBytes` — the greedy
    * first-fit-in-order plan, deterministic and purely integer.
    *
    * A single file larger than [[CompactionTargetBytes]] gets a group of its own and
    * pushes the boundary forward (its group is still shared with files
    * that started before it filled — div-packing never splits a file).
    *
    * `orderCols` must be a TOTAL order within each partition (append the
    * file path/id as tiebreak): ties would let the running sum — and so
    * group assignment — vary across shuffle layouts, the
    * [[graft.operators.Diagnostics.latenessAudit]] determinism rule.
    *
    * Scale shape: the plan is computed on the file INVENTORY (metadata,
    * ~rows = files), not the data; the cumulative sum windows per
    * `partitionCols` (empty ⇒ one global sequence — fine for one table's
    * listing, use partitions when planning a whole warehouse so no
    * single window task owns every file). Emits the inventory plus
    * `(compaction_group, group_seq)` — group_seq is the file's position
    * within its group. */
  def compactionPlan(
      files: DataFrame,
      sizeCol: String,
      orderCols: Seq[String],
      partitionCols: Seq[String] = Nil): DataFrame = {
    require(orderCols.nonEmpty, "need at least one ordering column")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    files
      .withColumn("__cum_before",
        coalesce(sum(col(sizeCol)).over(w.rowsBetween(Window.unboundedPreceding, -1L)),
          lit(0L)))
      .withColumn("compaction_group", expr(s"__cum_before div $CompactionTargetBytes"))
      .withColumn("group_seq",
        row_number().over(
          Window.partitionBy((partitionCols.map(col) :+ col("compaction_group")): _*)
            .orderBy(orderCols.map(col): _*)))
      .drop("__cum_before")
  }
}
