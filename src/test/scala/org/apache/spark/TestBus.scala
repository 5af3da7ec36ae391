package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a spec that listens to stages or query executions reads them all.
  * The bus is package-private to Spark. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
