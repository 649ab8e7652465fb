package org.apache.spark

/** The listener bus is asynchronous: counts read right after an action
  * come out low unless the bus is drained first. `waitUntilEmpty` is
  * `private[spark]`, hence this helper lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
