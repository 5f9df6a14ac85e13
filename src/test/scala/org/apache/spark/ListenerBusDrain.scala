package org.apache.spark

/** Test access to the listener bus's drain (private to Spark): a listener
  * read after it has seen every event of the jobs that ran before it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
