package org.apache.spark

/** The one Spark-internal call the harness needs: listener events arrive
  * asynchronously, so per-layer totals are read only after the bus has
  * delivered everything posted so far. */
object LayerbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
