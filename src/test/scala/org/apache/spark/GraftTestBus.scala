package org.apache.spark

/** The listener bus has no public drain call. This helper sits in
  * Spark's package to reach `LiveListenerBus.waitUntilEmpty`, so a
  * spec that counts jobs with a listener sees every event of the
  * calls it made once this returns — no sleep-polling. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
