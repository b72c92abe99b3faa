package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.pipeline.MetricsListener

/** One timed call into a layer. `id` is also the Spark job group its jobs
  * ran under; spans of one operation share `op`; `parent` is "" for the
  * operation's own span. */
final case class Span(id: String, name: String, parent: String, op: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task counters attributed to one or more job groups. */
final case class Counters(
    jobs: Long, tasks: Long, taskMs: Long, failedTasks: Long,
    inputRecords: Long, shuffleWriteBytes: Long, spillBytes: Long) {
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs, failedTasks + o.failedTasks,
    inputRecords + o.inputRecords, shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0)

  /** Reads a `MetricsListener` datasheet entry. */
  def parse(json: String): Counters = {
    def f(key: String): Long =
      ("\"" + key + "\":(-?\\d+)").r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)
    Counters(f("n_jobs"), f("n_tasks"), f("total_task_ms"), f("failed_tasks"),
      f("input_records"), f("shuffle_write_bytes"), f("memory_spill_bytes") + f("disk_spill_bytes"))
  }
}

/** Result of one operation run under the watchdog. */
final case class Outcome[T](value: Option[T], seconds: Double, error: String, span: Span, traced: Boolean) {
  def ok: Boolean = value.isDefined
}

/** Collects streaming runs and their progress. Streaming micro-batch jobs
  * run under the stream's run id as job group, so the run ids started
  * during an operation are attributed to it. */
final class StreamTap extends StreamingQueryListener {
  private val started = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentHashMap[String, ArrayBuffer[StreamingQueryProgress]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.add(e.runId.toString)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val b = progress.computeIfAbsent(e.progress.runId.toString, _ => ArrayBuffer())
    b.synchronized { b += e.progress }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def takeStarted(): Seq[String] = Iterator.continually(started.poll()).takeWhile(_ != null).toSeq

  def progressOf(runId: String): Seq[StreamingQueryProgress] =
    Option(progress.get(runId)).map(b => b.synchronized(b.toList)).getOrElse(Nil)
}

/** Runs operations under a per-operation watchdog and, while `tracing`,
  * records a span around each layer call made inside them.
  *
  * Every operation runs in its own thread under its own job group. Past
  * `timeoutS` the operation counts as failed: its job groups are cancelled
  * and any active streaming query is stopped (from a bounded helper
  * thread, as `graft.Bench` does), so a hung call costs one sample, not the
  * run. Spans are kept in memory and written out once, at the end.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  /** Whether child spans are recorded; traced runs alternate it so the
    * same run also measures the tracing overhead. */
  @volatile var tracing: Boolean = traced
  private val sc = spark.sparkContext
  val metrics = new MetricsListener
  sc.addSparkListener(metrics)
  val streams = new StreamTap
  spark.streams.addListener(streams)

  private val current = new ThreadLocal[Tracer.Frame]
  private val seq = new java.util.concurrent.atomic.AtomicLong
  private val openGroups = ConcurrentHashMap.newKeySet[String]()
  private val spanBuf = ArrayBuffer[Span]()
  private val streamRuns = new ConcurrentHashMap[String, Seq[String]]()
  val runStartNs: Long = System.nanoTime()

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)

  private def record(s: Span): Unit = spanBuf.synchronized { spanBuf += s }

  def op[T](kind: String, timeoutS: Double)(body: => T): Outcome[T] = {
    val opId = seq.incrementAndGet()
    val id = s"$kind#$opId"
    @volatile var result: Option[T] = None
    @volatile var failure: Throwable = null
    openGroups.add(id)
    val worker = new Thread(() => {
      current.set(Tracer.Frame(id, opId))
      sc.setJobGroup(id, kind, interruptOnCancel = true)
      try result = Some(body)
      catch { case e: Throwable => failure = e }
      finally sc.clearJobGroup()
    }, id)
    worker.setDaemon(true)
    val t0 = System.nanoTime()
    worker.start()
    worker.join((timeoutS * 1000).toLong)
    val t1 = System.nanoTime()
    val timedOut = worker.isAlive
    if (timedOut) cancel(worker)
    openGroups.remove(id)
    val span = Span(id, kind, "", opId, t0, t1)
    record(span)
    ListenerBusDrain(sc, 10000)
    streamRuns.put(id, streams.takeStarted())
    val error =
      if (timedOut) f"timed out after $timeoutS%.0f s"
      else if (failure != null) failure.toString
      else ""
    System.err.println(f"[perfbench] $id ${span.seconds}%.3f s" + (if (error.isEmpty) "" else s" FAILED: $error"))
    Outcome(if (error.isEmpty) result else None, span.seconds, error, span, tracing)
  }

  /** Times `body` as a child span of the current one (while `tracing`). */
  def span[T](name: String)(body: => T): T = {
    val parent = current.get
    if (!tracing || parent == null) body
    else {
      val id = s"$name#${seq.incrementAndGet()}"
      openGroups.add(id)
      current.set(Tracer.Frame(id, parent.op))
      sc.setJobGroup(id, name, interruptOnCancel = true)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setJobGroup(parent.group, parent.group, interruptOnCancel = true)
        current.set(parent)
        openGroups.remove(id)
        record(Span(id, name, parent.group, parent.op, t0, t1))
      }
    }
  }

  private def cancel(worker: Thread): Unit = {
    openGroups.asScala.foreach(g => sc.cancelJobGroup(g))
    def stopActiveStreams(): Unit = spark.streams.active.foreach { sq =>
      val stopper = new Thread(() => try sq.stop() catch { case _: Exception => () })
      stopper.setDaemon(true)
      stopper.start()
      stopper.join(15000)
    }
    stopActiveStreams()
    worker.join(30000)
    if (worker.isAlive) stopActiveStreams()
  }

  /** Counters of all job groups of operation `op` (its own span and its
    * children) plus any streams it started. */
  def opCounters(op: Long): Counters =
    spans.filter(_.op == op).map(s => counters(s.id)).foldLeft(Counters.zero)(_ + _)

  /** Counters of the span's own job group plus any streams it started. */
  def counters(spanId: String): Counters = {
    val own = metrics.groupJson(spanId).map(Counters.parse).getOrElse(Counters.zero)
    streamRuns.getOrDefault(spanId, Nil)
      .flatMap(metrics.groupJson).map(Counters.parse)
      .foldLeft(own)(_ + _)
  }

  def streamProgress(spanId: String): Seq[Seq[StreamingQueryProgress]] =
    streamRuns.getOrDefault(spanId, Nil).map(streams.progressOf)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq(
        "id" -> Json.str(s.id), "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
        "op" -> s.op.toString,
        "start_ms" -> Json.num((s.startNs - runStartNs) / 1e6),
        "end_ms" -> Json.num((s.endNs - runStartNs) / 1e6)))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  private final case class Frame(group: String, op: Long)
}

object HostProbe {
  /** Spark-free CPU probe: the 2^28-step splitmix64 loop of
    * `graft.Bench`'s calibration (a local def there, so copied). Returns
    * its wall time in seconds; a slow host window shows up as a larger
    * value in the run's own record. */

  def cpuSeconds(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 28)) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("[perfbench] probe sentinel")
    s
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kvs: Seq[(String, String)]): String = kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
