package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference Morton interleave. */
  private def mortonRef(x: Long, y: Long): Long = {
    def spread(v: Long): Long = {
      var a = v & 0xFFFFL
      a = (a | (a << 8)) & 0x00FF00FFL
      a = (a | (a << 4)) & 0x0F0F0F0FL
      a = (a | (a << 2)) & 0x33333333L
      (a | (a << 1)) & 0x55555555L
    }
    spread(x) | (spread(y) << 1)
  }

  test("zOrder2 matches the reference interleave on random and edge coordinates") {
    val rnd = new scala.util.Random(7)
    val pts = (Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (0L, 65535L), (1L, 2L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))).distinct
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Layout.zOrder2($"x", $"y").as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == mortonRef(x, y), s"($x,$y)")
    }
  }

  test("zOrder2 is a bijection on the grid (no key collisions)") {
    val n = 256
    val df = spark.range(n * n)
      .select(($"id" % n).as("x"), ($"id" / n).cast("long").as("y"))
    assert(df.select(Layout.zOrder2($"x", $"y")).distinct().count() == n.toLong * n)
  }

  test("pruningAudit counts prunable tiles and rows per probe box") {
    val tiles = Seq(
      // tile footprints: (n_rows, x_min, x_max, y_min, y_max)
      (10L, 0L, 9L, 0L, 9L),
      (20L, 10L, 19L, 0L, 9L),
      (30L, 0L, 9L, 10L, 19L)
    ).toDF("n_rows", "x_min", "x_max", "y_min", "y_max")
    val boxes = Seq(
      (1L, 0L, 5L, 0L, 5L), // overlaps tile 1 only
      (2L, 0L, 25L, 0L, 25L), // overlaps everything
      (3L, 50L, 60L, 50L, 60L), // disjoint from all tiles
      (4L, 10L, 10L, 9L, 9L) // inclusive-boundary touch: tile 2 only
    ).toDF("box_id", "x_lo", "x_hi", "y_lo", "y_hi")
    val out = graft.operators.Layout.pruningAudit(tiles, boxes)
      .orderBy("box_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 2L, 60L, 10L),
      (2L, 3L, 0L, 60L, 60L),
      (3L, 3L, 3L, 60L, 0L),
      (4L, 3L, 2L, 60L, 20L)))
  }

  test("compactionPlan: greedy first-fit groups, oversized file isolation, per-partition plans") {
    // in units of 1/16 of the 256 KiB target: [10, 5, 8, 40, 2, 15] in
    // order → cum-before [0, 10, 15, 23, 63, 65], group [0, 0, 0, 1, 3, 4].
    // 40 lands in group 1 (units before it: 23) and pushes the next file
    // to group 3 — an oversized file never splits, it absorbs its span.
    val u = Layout.CompactionTargetBytes / 16
    val files = Seq(
      ("p", 1L, 10 * u), ("p", 2L, 5 * u), ("p", 3L, 8 * u),
      ("p", 4L, 40 * u), ("p", 5L, 2 * u), ("p", 6L, 15 * u),
      ("q", 1L, u), ("q", 2L, u) // separate partition: its own plan
    ).toDF("part", "seq", "bytes")
    val out = Layout.compactionPlan(files, "bytes", Seq("seq"),
        partitionCols = Seq("part"))
      .select("part", "seq", "compaction_group", "group_seq")
      .as[(String, Long, Long, Int)].collect().toSeq.sorted
    assert(out == Seq(
      ("p", 1L, 0L, 1), ("p", 2L, 0L, 2), ("p", 3L, 0L, 3),
      ("p", 4L, 1L, 1), ("p", 5L, 3L, 1), ("p", 6L, 4L, 1),
      ("q", 1L, 0L, 1), ("q", 2L, 0L, 2)))
  }

  test("compactionPlan validates inputs") {
    val f = Seq(("a", 1L)).toDF("k", "bytes")
    intercept[IllegalArgumentException] {
      Layout.compactionPlan(f, "bytes", Nil)
    }
  }
}
