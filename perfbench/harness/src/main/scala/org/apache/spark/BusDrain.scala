package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Listener delivery is asynchronous; the traced run reads its collectors
  * only after this returns. (The bus is package-private, hence this file's
  * package.)
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
