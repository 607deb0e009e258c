package org.apache.spark

/** Test-side access to the package-private listener bus: blocks until every posted event reached its listeners. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
