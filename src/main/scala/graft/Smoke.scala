package graft

/** Self-check of the driver smoke contract: `SparkEntry.entry` must return
  * rows > 0 on sf0.001. Prints `SMOKE_ROWS=<n>`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"SMOKE_ROWS=$n")
    spark.stop()
  }
}
