package org.apache.spark

/** The one Spark-internal call the trace needs: wait until the listener
  * bus has delivered every event posted so far, so an operation's jobs,
  * tasks and query executions are all attributed before its span closes. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
