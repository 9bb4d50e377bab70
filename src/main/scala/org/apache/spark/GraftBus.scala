package org.apache.spark

/** The listener bus has no public drain call. This helper sits in
  * Spark's package to reach `LiveListenerBus.waitUntilEmpty`, so a
  * listener that counts jobs sees every event of the calls made before
  * this returns — no sleep-polling. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
