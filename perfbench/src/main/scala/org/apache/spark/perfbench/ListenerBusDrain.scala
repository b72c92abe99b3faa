package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event, so
  * counters read after an operation include all of that operation's tasks
  * and streaming progress. `SparkContext.listenerBus` is `private[spark]`,
  * hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
