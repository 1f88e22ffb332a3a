package org.apache.spark

/** Listener-bus drain for the benchmark: the bus delivers events on
  * its own thread, so counters are read only after it is empty.
  * (`SparkContext.listenerBus` is private to the spark package.)
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
