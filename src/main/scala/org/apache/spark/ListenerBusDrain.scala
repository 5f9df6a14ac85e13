package org.apache.spark

/** Access to the listener bus's drain (private to Spark): waits until every
  * queued event has been delivered to every listener, at most `timeoutMs`.
  * A bus still busy at the cap returns instead of throwing, so a caller
  * that measures stays bounded.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
