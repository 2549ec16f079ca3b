package org.apache.spark

/** The listener bus delivers events on its own thread; a traced span's
  * counters are read only after every event posted so far has been
  * delivered. `waitUntilEmpty` is package-private to Spark, hence this
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
