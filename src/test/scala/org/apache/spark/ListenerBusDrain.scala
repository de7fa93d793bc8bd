package org.apache.spark

/** Waits until every event posted so far has reached its listeners: the
  * listener bus is asynchronous and its drain is private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
