package org.apache.spark

/** Listener events reach listeners and the status store asynchronously, so
  * a count read right after an action could miss its last job. Spark keeps
  * `waitUntilEmpty` package-private, hence this one-line bridge. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
