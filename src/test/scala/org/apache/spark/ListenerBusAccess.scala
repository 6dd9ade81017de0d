package org.apache.spark

/** Test access to Spark's package-private listener bus: waits until every
  * posted event (including QueryExecutionListener callbacks) was delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
