package org.apache.spark

/** Test access to the driver's listener bus, whose drain is Spark-private:
  * waits until every event posted so far reached its listeners. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
