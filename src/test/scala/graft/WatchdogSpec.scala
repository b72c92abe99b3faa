package graft

import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

class WatchdogSpec extends SparkSpec {

  /** Starts a `rate` stream that never ends on its own, publishes it, and
    * blocks in `awaitTermination` like a streaming catalog query does. */
  private def endlessStream(name: String, started: AtomicReference[StreamingQuery]): Unit = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    val q = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    started.set(q)
    q.awaitTermination()
  }

  private def waitFor(what: String, seconds: Int)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
    assert(cond, s"$what not reached within ${seconds}s")
  }

  test("a timeout stops its own execution's stream and leaves a concurrent one running") {
    val mine = new AtomicReference[StreamingQuery]
    val neighbours = new AtomicReference[StreamingQuery]
    val neighbour = Future(
      Watchdog.run(spark, "watchdog-neighbour", 600)(endlessStream("wd_neighbour", neighbours)))
    try {
      waitFor("neighbour stream started", 60)(neighbours.get != null)
      val timed = Future(
        Watchdog.run(spark, "watchdog-timed", 2)(endlessStream("wd_timed", mine)))
      assert(Await.result(timed, 60.seconds) == Watchdog.TimedOut)
      waitFor("timed-out stream stopped", 30)(mine.get != null && !mine.get.isActive)
      assert(neighbours.get.isActive, "the neighbour's stream was stopped too")
    } finally Option(neighbours.get).foreach(_.stop())
    assert(Await.result(neighbour, 60.seconds).isInstanceOf[Watchdog.Ok])
  }
}
