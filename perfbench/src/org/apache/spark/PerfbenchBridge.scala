package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark reads its listener counters only after every posted
  * event has been delivered.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
