package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark's listener bus is `private[spark]`; the tracer drains it before it
  * reads per-call counters, so events that were posted but not yet
  * delivered are never missed.
  */
object BusBridge {

  /** True iff every event posted so far was delivered within `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
