package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event.
  * `waitUntilEmpty` is private[spark]; this object lives in Spark's package
  * for access and changes nothing in Spark. Without it a listener read
  * right after an action can miss that action's last job and stage events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
