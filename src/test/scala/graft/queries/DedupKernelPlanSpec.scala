package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import scala.collection.mutable

/** Plan pins for the TextDedup candidate kernels (optimization r13).
  *
  * d22/d25 verify LSH candidates EXACTLY, so their candidate generator
  * must not pay the two signature re-joins `lshPairs` uses to compute
  * `est_jaccard` (inner joins Catalyst cannot prune — it cannot know the
  * signature frame has exactly one row per doc). These queries end at a
  * `localCheckpoint`, so `explain()` on the registered query shows only a
  * checkpoint-RDD scan — the pin must look at the kernel's own plan.
  *
  * The minhash dedup queries build ONE corpus frame each: `documents` read,
  * repartitioned and localCheckpointed once, holding the signatures and
  * the query's per-doc columns. */
class DedupKernelPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

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

  /** The Spark job count of `body` (run under `withJobCount`'s job
    * group), and the data scans (`FileScanRDD`s) and localCheckpoints
    * (persisted RDDs) its jobs ran, each counted once by RDD id over the
    * stages the jobs submitted. */
  private def scansAndCheckpoints(body: => Any): (Int, Int, Int) = {
    val sc = spark.sparkContext
    val scans, ckpts = mutable.Set.empty[Int]
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(p => Option(p.getProperty(
            "spark.jobGroup.id")).exists(_.startsWith("job-count-"))))
          scans.synchronized {
            e.stageInfo.rddInfos.foreach { r =>
              if (r.name == "FileScanRDD") scans += r.id
              if (r.storageLevel.isValid) ckpts += r.id
            }
          }
    }
    sc.addSparkListener(l)
    val (_, jobs) =
      try withJobCount(body) finally { GraftBus.drain(sc); sc.removeSparkListener(l) }
    scans.synchronized { (jobs, scans.size, ckpts.size) }
  }

  // (query, documents scans, localCheckpoints) while the query is built:
  // one scan feeding one corpus checkpoint; d6/d13/d17 add their scalar
  // `sized` checkpoint, d22/d25 their verified-pair checkpoint, and d25
  // reads the table once more for its other blocker (the gear-chunk
  // candidate frame, checkpointed)
  private val corpusShapes = Seq(("d6_ngram_jaccard", 1, 2),
    ("d13_containment", 1, 2), ("d17_minhash_calibration", 1, 2),
    ("d22_threshold_sweep", 1, 2), ("d25_blocking_audit", 2, 3),
    ("z3_curate_e2e", 1, 1))

  for ((q, wantScans, wantCkpts) <- corpusShapes)
    test(s"$q: building it runs one corpus checkpoint (documents scans " +
        "and checkpoints pinned)") {
      val (jobs, scans, ckpts) =
        scansAndCheckpoints(SparkEntry.queries(q)(spark, dir))
      assert((scans, ckpts) == ((wantScans, wantCkpts)),
        s"(scans, checkpoints) = ${(scans, ckpts)} over $jobs jobs")
    }

  test("z3: executed, no exchange carries an array column (the token " +
      "arrays stay in the corpus checkpoint)") {
    // planned as at corpus scale, where no corpus-sized side is small
    // enough to auto-broadcast (a test-SF broadcast would hide a shuffle)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val ex = try {
      val df = SparkEntry.queries("z3_curate_e2e")(spark, dir)
      df.collect()
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: Exchange => e
      }
    } finally spark.conf.set(key, prev)
    // the one-row rank boundary set (`ops.Ranks`' `__gr_bounds`) is the
    // only array an exchange may carry
    val fat = ex.filter(_.output.exists(a =>
      a.dataType.isInstanceOf[ArrayType] && a.name != "__gr_bounds"))
    assert(ex.nonEmpty)
    assert(fat.isEmpty, fat.map(e => e.output.mkString(", ")).mkString("\n"))
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
