package graft

/** Plan-review harness: prints `explain("formatted")` for selected queries
  * so scan pruning (PushedFilters/ReadSchema), join strategies (broadcast vs
  * sort-merge), and WholeStageCodegen spans can be audited.
  * `runMain graft.Plans [query ...]` — defaults to a representative set. */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "s9_time_range_scan", "p2_feature_projection", "q3_top_orders",
      "q5_region_revenue", "j2_anomaly_writeback", "i1_inject_spike",
      "w1_sliding_avg", "e3_lsh_ann", "d3_minhash_lsh_pairs")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
