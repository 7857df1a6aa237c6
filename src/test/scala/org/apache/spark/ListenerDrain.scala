package org.apache.spark

/** Test access to the listener bus: `waitUntilEmpty` is Spark-private, and a
  * listener-based count is only complete once the bus has delivered every
  * event posted so far.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
