package graft.queries

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Degenerate corpora cut from sf0.001's events, for running a registered
  * query on input the three scale factors never produce. */
object EventCorpus {
  val Source = "/root/testdata/sf0.001"

  /** `body` run on a fresh data dir holding the sf0.001 events `keep`
    * selects from the raw file (written as one file); the dir is deleted
    * afterwards. */
  def withEvents[T](spark: SparkSession, prefix: String)
                   (keep: DataFrame => DataFrame)(body: String => T): T = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$Source/events.parquet")
    val dir = Files.createTempDirectory(prefix).toFile
    try {
      keep(ev).coalesce(1).write.parquet(s"$dir/events.parquet")
      body(dir.toString)
    } finally FileUtils.deleteDirectory(dir)
  }
}
