package org.apache.spark

/** The one package-private Spark call the benchmark needs: listener events
  * are delivered asynchronously, so the traced run waits for the bus to
  * drain before it reads what the listener saw. */
object GraftbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
