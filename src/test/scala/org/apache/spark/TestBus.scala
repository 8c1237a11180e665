package org.apache.spark

/** TEST-ONLY: waits until the listener bus has delivered every posted
  * event, so a listener read afterwards has seen every job started
  * before the call.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
