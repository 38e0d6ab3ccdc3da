package org.apache.spark

/** The listener bus's drain is private to Spark; the benchmark needs it
  * so that a traced block's job events are all delivered before the
  * block's listeners are detached. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
