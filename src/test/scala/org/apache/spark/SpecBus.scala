package org.apache.spark

/** Lets specs wait for Spark's listener bus to deliver every posted
  * event before they read what their listeners recorded. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
