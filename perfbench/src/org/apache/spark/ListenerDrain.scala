package org.apache.spark

/** Waits until every posted scheduler event has reached the listeners, so
  * task metrics read after a job are complete. The listener bus is
  * package-private to Spark, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
