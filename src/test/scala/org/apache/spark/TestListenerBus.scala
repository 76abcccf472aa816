package org.apache.spark

/** Lets specs wait until every queued listener event is delivered (the bus
  * is package-private to Spark), so a listener's counts are final.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
