package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark reads its listener counters only after every event of
  * an operation has been delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
