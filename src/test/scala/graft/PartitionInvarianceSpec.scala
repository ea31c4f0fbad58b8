package graft

import org.apache.spark.sql.Row

/** The engine-wide partition-invariance contract (the r1 id bug's class):
  * EVERY SparkEntry query must produce bit-identical rows under different
  * `spark.sql.shuffle.partitions` settings — the cluster-size knob a real
  * deployment turns. RanksSpec pins the primitive; this pins the whole
  * query surface (the driver's oracle gate runs at one fixed setting and
  * cannot see partition sensitivity). Each executed plan is also checked
  * for a `Ranks` boundary subplan computed twice (RankBoundaries). */
class PartitionInvarianceSpec extends SparkSpec {

  test("every query is identical at 16 vs 32 shuffle partitions (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val twice = collection.mutable.SortedSet[String]()
    def runAll(parts: String): Map[String, Seq[Row]] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try SparkEntry.queries.map { case (n, fn) =>
        val df = fn(spark, dir)
        val rows = df.collect().toSeq
        if (RankBoundaries.duplicated(df.queryExecution.executedPlan) > 0)
          twice += n
        n -> rows
      }
      finally spark.conf.set("spark.sql.shuffle.partitions", "2")
    }
    val at32 = runAll("32")
    val at16 = runAll("16")
    val diffs = at32.keys.toSeq.sorted.filter(k => at32(k) != at16(k))
    assert(diffs.isEmpty, s"partition-sensitive queries: ${diffs.mkString(", ")}")
    assert(twice.isEmpty,
      s"rank boundaries computed twice in one plan: ${twice.mkString(", ")}")
  }
}
