package graft

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskStart}
import java.util.concurrent.atomic.AtomicInteger

/** Optimization-round measurement harness (guide §1): decomposes each
  * query's wall time into plan/codegen-build vs execution, and counts the
  * Spark jobs / stages / tasks / Exchange nodes behind it, so "where does
  * the second go" is a measured fact instead of a guess. Bench.scala stays
  * the driver contract; this main is diagnosis only.
  *
  * `runMain graft.Prof [query ...]` — defaults to the full registry.
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as Bench).
  * Output: one TSV line per query on stdout.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        tasks.incrementAndGet()
    })
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    println("query\tplan_ms\tcjobs\tcstages\texec1_s\texec2_s\tjobs\tstages\ttasks\texchanges")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      spark.catalog.clearCache()
      try {
        // plan_ms: DataFrame construction + analysis + optimization +
        // physical planning (NOT codegen/compile — that lands in exec1;
        // exec2 minus exec1 isolates the one-time codegen+scan-footer tax).
        // cjobs/cstages: Spark jobs run EAGERLY during construction
        // (localCheckpoints, approxQuantile probes, iterative rounds) —
        // for checkpoint-ended queries this phase, not the final plan,
        // is where the work lives, and explain() cannot witness it.
        jobs.set(0); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan // force planning
        val planMs = (System.nanoTime() - t0) / 1e6
        GraftBus.drain(spark.sparkContext) // construction counts are complete
        val (cj, cs) = (jobs.get, stages.get)
        jobs.set(0); stages.set(0); tasks.set(0)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val exec1 = (System.nanoTime() - t1) / 1e9
        GraftBus.drain(spark.sparkContext)
        val (j1, s1, tk1) = (jobs.get, stages.get, tasks.get)
        spark.catalog.clearCache()
        val df2 = fn(spark, sfDir) // fresh frame: no reused shuffle output
        val t2 = System.nanoTime()
        df2.write.format("noop").mode("overwrite").save()
        val exec2 = (System.nanoTime() - t2) / 1e9
        val nExch = df2.queryExecution.executedPlan.toString
          .sliding("Exchange".length).count(_ == "Exchange")
        println(f"$n\t$planMs%.0f\t$cj\t$cs\t$exec1%.3f\t$exec2%.3f\t$j1\t$s1\t$tk1\t$nExch")
      } catch { case e: Throwable =>
        println(s"$n\tERR\t${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
