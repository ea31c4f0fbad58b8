package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite wall-clock tolerable). */
object TestSession {
  lazy val spark: SparkSession = Session.local(2)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** `body`'s result and the number of Spark jobs it ran, counted
    * synchronously: `body` runs under a fresh job group (a thread-local
    * property, so other threads' jobs never count), the listener bus is
    * drained, and the status tracker lists the group's jobs. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    org.apache.spark.GraftBus.drain(sc)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
