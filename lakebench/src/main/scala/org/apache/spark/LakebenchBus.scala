package org.apache.spark

/** Lets the benchmark wait until every queued listener event is delivered
  * (the bus is package-private to Spark).
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
