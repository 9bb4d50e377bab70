package org.apache.spark

/** The listener bus has no public drain call. This helper sits in
  * Spark's package to reach `LiveListenerBus.waitUntilEmpty`, so a
  * traced call's job and task events have all been delivered when the
  * call returns -- no sleep-polling of counters. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
