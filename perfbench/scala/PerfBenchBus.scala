package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads its listener records only after every event
  * posted so far has been delivered.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
