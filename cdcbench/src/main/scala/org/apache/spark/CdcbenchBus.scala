package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * listener events are delivered asynchronously, so counters read right
  * after an action can miss its last tasks unless the bus is drained first.
  */
object CdcbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
