package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every
  * posted event before it reads what its listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
