package org.apache.spark

/** Listener events reach the benchmark's counters asynchronously; counts
  * read right after an action could miss its last events. Spark keeps
  * `waitUntilEmpty` package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
