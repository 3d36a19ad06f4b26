package org.apache.spark

/** Test access to the listener bus's drain: a spec counting jobs with a
  * SparkListener waits for every posted event instead of sleeping.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
