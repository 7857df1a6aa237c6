package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * traced run reads its spans only after every event of a rep is delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
