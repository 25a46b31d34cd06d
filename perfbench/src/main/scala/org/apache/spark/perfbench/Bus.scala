package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits for the listener bus to deliver every queued event, so the
  * counts the benchmark's listeners hold are complete when read. The
  * bus is package-private to Spark, hence this package. */
object Bus {
  /** False when events were still queued after `timeoutMs`; the reader
    * then sees partial counts and says so rather than waiting longer. */
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
