package graft.pipeline

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.Json

/** Per-query execution metrics via `SparkListener` — the engine's parity
  * artifact for the reference's Prometheus/Grafana stack (reference
  * `docker-compose.yml:40-103`, `prometheus.yml`, `docs/MONITORING.md`
  * SLOs): rows/bytes read, shuffle traffic, spill, and task skew, keyed
  * by job group so every catalog query benches with its own datasheet.
  *
  * Queries are attributed through `setJobGroup` (Bench wraps each query
  * execution in a per-pass group `bench-<name>#p<pass>` and the written
  * sheet selects each query's winning pass via [[selectedJson]]);
  * anything outside a group lands under `"(ungrouped)"`. Listener callbacks are single-purpose and lock-free
  * (ConcurrentHashMap + synchronized leaf updates): the listener bus is
  * asynchronous and must never become the bottleneck it is measuring.
  *
  * Task skew is reported two ways. `task_skew` = `max_task_ms /
  * mean_task_ms` over ALL the query's tasks — the first-order signal that
  * a key is hot: at 1000 executors a skew of 30 means 97% of the cluster
  * idles while one partition finishes, which is invisible in
  * wall-clock-only benchmarks at local scale. But that quotient conflates
  * PARTITION imbalance with inter-STAGE size variance: an iterative query
  * (connected components, k-core) legitimately runs dozens of tiny
  * AQE-coalesced 1-task rounds after its heavy stages, diluting the mean
  * and inflating the quotient with no idle cluster anywhere. So
  * `hot_stage_skew` = `max/mean` WITHIN the stage carrying the most task
  * time — the number that actually measures whether the expensive work is
  * balanced (a hot shuffle key shows up here; a long convergence tail does
  * not).
  */
final class MetricsListener extends SparkListener {

  final class GroupMetrics {
    // Driver actions (Spark jobs) in the group — the iterative-loop
    // families' wall is per-round driver barriers, so job count is the
    // noise-free mechanism evidence for any "fewer actions per round"
    // change, where wall-clock needs a calm window.
    var nJobs: Long = 0L
    var nTasks: Long = 0L
    var totalTaskMs: Long = 0L
    var maxTaskMs: Long = 0L
    var inputRecords: Long = 0L
    var inputBytes: Long = 0L
    var outputRecords: Long = 0L
    var shuffleReadBytes: Long = 0L
    var shuffleWriteBytes: Long = 0L
    var memorySpillBytes: Long = 0L
    var diskSpillBytes: Long = 0L
    var failedTasks: Long = 0L
    // Generated classes compiled during the group's run (see
    // [[recordCompiles]]); absent unless a caller that runs one query at a
    // time recorded it.
    var nCompiles: Option[Long] = None
    // per-stage (n, totalMs, maxMs) — feeds hot_stage_skew
    val stageTasks = scala.collection.mutable.Map[Int, (Long, Long, Long)]()

    def skew: Double =
      if (nTasks == 0 || totalTaskMs == 0) 1.0
      else maxTaskMs.toDouble / (totalTaskMs.toDouble / nTasks)

    /** max/mean within the stage carrying the most task time (see class
      * doc — partition balance without inter-stage dilution). */
    def hotStageSkew: Double =
      if (stageTasks.isEmpty) 1.0
      else {
        val (n, total, max) = stageTasks.values.maxBy(_._2)
        if (n == 0 || total == 0) 1.0 else max.toDouble / (total.toDouble / n)
      }

    /** Absolute max task ms WITHIN the hot stage — the tail the skew
      * RATIO divides by a shrinking mean, so a plan that cuts total task
      * time at a fixed tail reads WORSE on the ratio. A floor
      * adjudication cites this number staying flat across the change; a
      * genuine hot key shows it GROWING with data. */
    def hotStageTailMs: Long =
      if (stageTasks.isEmpty) 0L else stageTasks.values.maxBy(_._2)._3

    /** The five heaviest stages by total task time — the per-stage profile
      * that turns an adverse `task_skew` into a diagnosis (is the max-task
      * outlier inside the heavy stage, or is a compact-input stage
      * AQE-coalesced under the work?) without re-running the query under a
      * scratch harness. */
    def stagesJson: String =
      stageTasks.toSeq.sortBy(-_._2._2).take(5)
        .map { case (id, (n, total, max)) =>
          s"""{"stage":$id,"n":$n,"total_ms":$total,"max_ms":$max}"""
        }
        .mkString("[", ",", "]")

    def json: String =
      s"""{"n_jobs":$nJobs,"n_tasks":$nTasks,"failed_tasks":$failedTasks,""" +
        nCompiles.fold("")(n => s""""n_compiles":$n,""") +
        s""""total_task_ms":$totalTaskMs,"max_task_ms":$maxTaskMs,""" +
        s""""task_skew":${Json.fixed(skew, 3)},""" +
        s""""hot_stage_skew":${Json.fixed(hotStageSkew, 3)},""" +
        s""""hot_stage_tail_ms":$hotStageTailMs,""" +
        s""""input_records":$inputRecords,"input_bytes":$inputBytes,""" +
        s""""output_records":$outputRecords,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""memory_spill_bytes":$memorySpillBytes,"disk_spill_bytes":$diskSpillBytes,""" +
        s""""top_stages":$stagesJson}"""
  }

  private val byGroup = new ConcurrentHashMap[String, GroupMetrics]()
  private val stageToGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
    val group = Option(jobStart.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(ungrouped)")
    val g = byGroup.computeIfAbsent(group, _ => new GroupMetrics)
    g.synchronized { g.nJobs += 1 }
    jobStart.stageInfos.foreach(si => stageToGroup.put(si.stageId, group))
  }

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val group = stageToGroup.getOrDefault(taskEnd.stageId, "(ungrouped)")
    val g = byGroup.computeIfAbsent(group, _ => new GroupMetrics)
    val m = taskEnd.taskMetrics
    g.synchronized {
      g.nTasks += 1
      if (!taskEnd.taskInfo.successful) g.failedTasks += 1
      g.totalTaskMs += taskEnd.taskInfo.duration
      g.maxTaskMs = math.max(g.maxTaskMs, taskEnd.taskInfo.duration)
      val d = taskEnd.taskInfo.duration
      val (sn, st, sm) = g.stageTasks.getOrElse(taskEnd.stageId, (0L, 0L, 0L))
      g.stageTasks(taskEnd.stageId) = (sn + 1, st + d, math.max(sm, d))
      if (m != null) {
        g.inputRecords += m.inputMetrics.recordsRead
        g.inputBytes += m.inputMetrics.bytesRead
        g.outputRecords += m.outputMetrics.recordsWritten
        g.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        g.memorySpillBytes += m.memoryBytesSpilled
        g.diskSpillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Records that `group`'s run compiled `n` generated classes. Spark's
    * compile counter is JVM-wide, so only a caller that runs one query at
    * a time (Bench) can attribute its change to a group. */
  def recordCompiles(group: String, n: Long): Unit = {
    val g = byGroup.computeIfAbsent(group, _ => new GroupMetrics)
    g.synchronized { g.nCompiles = Some(n) }
  }

  /** Tasks observed so far for `group` (spec/polling hook: the listener
    * bus is async, so callers wait on this rather than sleeping). */
  def tasksSeen(group: String): Long = {
    val g = byGroup.get(group)
    if (g == null) 0L else g.synchronized(g.nTasks)
  }

  /** Total tasks observed across ALL groups — the drain-polling hook:
    * callers loop until consecutive reads stabilize instead of guessing a
    * sleep for the async bus. */
  def totalTasksSeen(): Long = {
    import scala.jdk.CollectionConverters._
    byGroup.asScala.values.map(g => g.synchronized(g.nTasks)).sum
  }

  /** Datasheet JSON for one group, if any tasks were attributed to it. */
  def groupJson(group: String): Option[String] = {
    val g = byGroup.get(group)
    if (g == null) None else Some(g.synchronized(g.json))
  }

  /** Datasheet restricted to `selection` (output name → recorded group):
    * Bench maps each query to the job group of its WINNING (min-time)
    * pass, so the emitted numbers describe one clean execution — not a
    * sum over warm-up, repeated passes, and cancelled attempts. */
  def selectedJson(selection: Seq[(String, String)]): String =
    selectedJson(selection, Nil)

  /** [[selectedJson]] with `leading` entries (key → raw JSON value)
    * prepended as ordinary members of the same object — how Bench embeds
    * the calibration array. Built as one member list, so the sheet's
    * shape never depends on textual surgery over the selection's
    * rendering. */
  def selectedJson(
      selection: Seq[(String, String)],
      leading: Seq[(String, String)]): String = {
    val members =
      leading.map { case (k, raw) => Json.str(k) + ":" + raw } ++
        selection.flatMap { case (out, group) =>
          groupJson(group).map(Json.str(out) + ":" + _)
        }
    members.mkString("{", ",", "}")
  }
}
