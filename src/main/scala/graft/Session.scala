package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every main (and the test suite) runs on. */
object Session {

  /** `local[cpus]` with one shuffle partition per core, UTC session time
    * and the UI off; returns the running session if there is one. */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
