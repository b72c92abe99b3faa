package graft

import org.apache.spark.sql.functions._

import graft.pipeline.MetricsListener

/** The per-query metrics datasheet (monitoring parity artifact): job-group
  * attribution, field plausibility, and the JSON contract Bench writes. */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  private def awaitTasks(m: MetricsListener, group: String, atLeast: Long): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (m.tasksSeen(group) < atLeast && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(m.tasksSeen(group) >= atLeast,
      s"listener saw only ${m.tasksSeen(group)} tasks for $group")
  }

  test("attributes tasks, input and shuffle volume to the active job group") {
    val m = new MetricsListener
    spark.sparkContext.addSparkListener(m)
    try {
      spark.sparkContext.setJobGroup("mtest-shuffle", "metrics spec", false)
      val parts = 4
      // force a real shuffle: repartition + aggregate
      (1 to 10000).toDF("x").repartition(parts, col("x"))
        .groupBy(col("x") % 7).count().collect()
      spark.sparkContext.clearJobGroup()
      awaitTasks(m, "mtest-shuffle", parts.toLong)

      val ds = m.groupJson("mtest-shuffle").get
      assert("\"shuffle_write_bytes\":(\\d+)".r.findFirstMatchIn(ds)
        .exists(_.group(1).toLong > 0), ds.take(300))
      assert("\"shuffle_read_bytes\":(\\d+)".r.findFirstMatchIn(ds)
        .exists(_.group(1).toLong > 0), ds.take(300))
      assert("\"task_skew\":([0-9.]+)".r.findFirstMatchIn(ds)
        .exists(_.group(1).toDouble >= 1.0), ds.take(300))
      assert("\"failed_tasks\":0".r.findFirstIn(ds).isDefined, ds.take(300))
      // per-stage profile rides the sheet: at least the shuffle's two
      // stages, heaviest first by total task time
      val stages = "\"top_stages\":\\[([^\\]]*)\\]".r.findFirstMatchIn(ds)
      assert(stages.exists(_.group(1).contains("\"total_ms\":")), ds.take(500))
      val totals = "\"total_ms\":(\\d+)".r.findAllMatchIn(ds).map(_.group(1).toLong).toSeq
      assert(totals.size >= 2 && totals == totals.sortBy(-_), s"want desc totals, got $totals")
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("separate job groups get separate datasheets; file write round-trips") {
    val m = new MetricsListener
    spark.sparkContext.addSparkListener(m)
    try {
      spark.sparkContext.setJobGroup("mtest-a", "a", false)
      (1 to 100).toDF("x").agg(sum(col("x"))).collect()
      spark.sparkContext.setJobGroup("mtest-b", "b", false)
      (1 to 100).toDF("x").agg(max(col("x"))).collect()
      spark.sparkContext.clearJobGroup()
      awaitTasks(m, "mtest-a", 1)
      awaitTasks(m, "mtest-b", 1)

      // the sheet Bench writes: one selection per group, through Harness
      val dir = java.nio.file.Files.createTempDirectory("graft-metrics")
      val path = dir.resolve("datasheet.json")
      Harness.writeFile(path, m.selectedJson(Seq("mtest-a" -> "mtest-a", "mtest-b" -> "mtest-b")))
      val txt = java.nio.file.Files.readString(path)
      java.nio.file.Files.deleteIfExists(path)
      java.nio.file.Files.deleteIfExists(dir)
      assert(txt.contains("\"mtest-a\":") && txt.contains("\"mtest-b\":"), txt.take(500))
      assert(m.groupJson("mtest-a") != m.groupJson("mtest-b"))
      // object well-formed enough for the driver's json.load
      assert(txt.trim.startsWith("{") && txt.trim.endsWith("}"))
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("selectedJson keeps only the winning pass's group, renamed to the output key") {
    val m = new MetricsListener
    spark.sparkContext.addSparkListener(m)
    try {
      // two "passes" of the same query under per-pass groups
      spark.sparkContext.setJobGroup("bench-qX#p0", "p0", false)
      (1 to 500).toDF("x").agg(sum(col("x"))).collect()
      spark.sparkContext.setJobGroup("bench-qX#p1", "p1", false)
      (1 to 500).toDF("x").agg(sum(col("x"))).collect()
      spark.sparkContext.clearJobGroup()
      awaitTasks(m, "bench-qX#p0", 1)
      awaitTasks(m, "bench-qX#p1", 1)
      val sel = m.selectedJson(Seq("bench-qX" -> "bench-qX#p1"))
      assert(sel.contains("\"bench-qX\":{"), sel)
      assert(!sel.contains("#p"), sel) // pass tags never leak into the sheet
      // a selection whose group never ran is skipped, not emitted empty
      assert(m.selectedJson(Seq("bench-qY" -> "bench-qY#p0")) == "{}")
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
