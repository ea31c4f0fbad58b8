package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Plan pins for the TextDedup candidate kernels (optimization r13).
  *
  * d22/d25 verify LSH candidates EXACTLY, so their candidate generator
  * must not pay the two signature re-joins `lshPairs` uses to compute
  * `est_jaccard` (inner joins Catalyst cannot prune — it cannot know the
  * signature frame has exactly one row per doc). These queries end at a
  * `localCheckpoint`, so `explain()` on the registered query shows only a
  * checkpoint-RDD scan — the pin must look at the kernel's own plan. */
class DedupKernelPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def joinCount(p: SparkPlan): Int = {
    val s = p.toString
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
      .map(k => s.sliding(k.length).count(_ == k)).sum
  }

  test("jacVerifiedPairs (d22/d25) plans exactly 3 joins: the band " +
      "self-join + two gram-attach joins — no est_jaccard re-joins") {
    val plan = TextDedup.jacVerifiedPairs(spark, dir)
      .queryExecution.executedPlan
    assert(joinCount(plan) === 3, s"plan was:\n$plan")
  }

  test("documents.doc_id is unique on every test corpus (lshCandFromSig's " +
      "pair-set equivalence with the est-join oracle twin rests on it)") {
    val root = new java.io.File(dir).getParent
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val r = graft.Tables.t(spark, s"$root/$sf", "documents")
        .agg(count(lit(1)), countDistinct(col("doc_id"))).head
      assert(r.getLong(0) > 0L, sf)
      assert(r.getLong(0) === r.getLong(1), s"$sf: duplicated doc_id")
    }
  }
}
