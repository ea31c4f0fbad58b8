package graft

/** Micro-timing harness: `runMain graft.Time <reps> <query ...>` runs each
  * named query `reps` times under the same session settings as [[Bench]]
  * and prints per-rep wall times — for isolating plan regressions from this
  * box's external CPU-contention noise (see PLANS.md). */
object Time {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names; r <- 1 to reps) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      println(f"[time] $n rep$r ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
