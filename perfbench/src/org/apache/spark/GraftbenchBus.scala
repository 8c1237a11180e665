package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * a trace read after it sees all jobs and tasks that have ended.
  */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
