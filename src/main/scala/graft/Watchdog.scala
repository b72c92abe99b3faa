package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Runs one harness execution (a Bench pass of a query, a Verify dump)
  * under a wall-clock deadline, so one hung query costs one sample or one
  * gate row instead of holding the process until an outside kill.
  *
  * The body runs on its own daemon thread under job group `group` (the key
  * [[pipeline.MetricsListener]] and the bench sheet read) and job tag
  * `group`. Past the deadline the tag's jobs are cancelled; tasks yield at
  * the next record boundary. A Structured-Streaming query submits its
  * micro-batches from its own thread under its own job group, so the body
  * would stay blocked in `awaitTermination`. That thread inherits the tag,
  * though: the cancel fails a running micro-batch, and every stream that
  * started under the tag and is still active is then stopped. Streams of
  * other executions, such as a neighbouring Verify query, keep running.
  */
object Watchdog {

  sealed trait Outcome
  final case class Ok(seconds: Double) extends Outcome
  final case class Failed(error: Throwable) extends Outcome
  case object TimedOut extends Outcome

  /** How long a timed-out body gets to unwind after the cancel. */
  private val GraceMs = 30000L
  /** How long one `StreamingQuery.stop()` may block. */
  private val StopWaitMs = 15000L

  def run(spark: SparkSession, group: String, timeoutS: Long)(body: => Unit): Outcome = {
    val sc = spark.sparkContext
    val streams = ConcurrentHashMap.newKeySet[UUID]()
    // The start event is delivered on the stream's own thread, before
    // start() returns, and carries the tags that thread inherited.
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.jobTags.contains(group)) streams.add(e.id)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    @volatile var failed: Throwable = null
    val worker = new Thread(() => {
      try {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        sc.addJobTag(group)
        body
      } catch { case e: Throwable => failed = e }
      finally { sc.removeJobTag(group); sc.clearJobGroup() }
    }, group)
    worker.setDaemon(true)
    try {
      worker.start()
      worker.join(timeoutS * 1000)
      if (worker.isAlive) {
        System.err.println(s"[watchdog] $group TIMED OUT after ${timeoutS}s, cancelling")
        sc.cancelJobsWithTag(group)
        stopStreams(spark, group, streams)
        worker.join(GraceMs)
        // A body that timed out between reading its schema and start()
        // registers its stream only after the first sweep.
        if (worker.isAlive) stopStreams(spark, group, streams)
        // Cancellation is best-effort: a live worker keeps competing for
        // executor threads and slows whatever runs next.
        if (worker.isAlive)
          System.err.println(s"[watchdog] $group STILL RUNNING after cancel and " +
            s"${GraceMs / 1000}s grace; later timings may be contaminated")
        TimedOut
      } else if (failed != null) Failed(failed)
      else Ok((System.nanoTime() - t0) / 1e9)
    } finally spark.streams.removeListener(listener)
  }

  /** Stops each still-active stream in `ids`, each from a bounded daemon
    * thread: `stop()` waits for the stream thread without a timeout by
    * default, so a stream stuck in uninterruptible IO would otherwise turn
    * a per-query timeout into a hang of the whole run. */
  private def stopStreams(spark: SparkSession, group: String, ids: java.util.Set[UUID]): Unit =
    spark.streams.active.filter(q => ids.contains(q.id)).foreach { q =>
      System.err.println(s"[watchdog] $group: stopping streaming query ${q.name}")
      val stopper = new Thread(() =>
        try q.stop() catch {
          case e: Exception => System.err.println(s"[watchdog] $group: stop failed: $e")
        })
      stopper.setDaemon(true)
      stopper.start()
      stopper.join(StopWaitMs)
      if (stopper.isAlive)
        System.err.println(s"[watchdog] ${q.name} did not stop within " +
          s"${StopWaitMs / 1000}s, abandoning")
    }
}
