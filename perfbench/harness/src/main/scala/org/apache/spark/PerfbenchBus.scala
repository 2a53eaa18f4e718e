package org.apache.spark

/** The two listener-bus facts the benchmark needs and Spark keeps
  * package-private: how many listeners are attached (the untraced mode
  * must attach none), and a drain point so a traced op's late events are
  * attributed before its metrics are read. */
object PerfbenchBus {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
