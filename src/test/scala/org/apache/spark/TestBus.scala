package org.apache.spark

/** Listener events reach the status store asynchronously, so a job count
  * read right after an action could miss its last job. Spark keeps
  * `waitUntilEmpty` package-private, hence this one-line bridge. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
