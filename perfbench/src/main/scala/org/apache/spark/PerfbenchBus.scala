package org.apache.spark

/** The one non-public Spark call the benchmark makes: waiting until the
  * listener bus has delivered every event posted so far, so that counters
  * read at the end of a pass include all of that pass's tasks and block
  * updates. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
