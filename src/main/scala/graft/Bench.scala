package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE SHORT JSON line as the LAST stdout
  * line (the driver's tail capture keeps only ~2 KB, so per-query detail
  * must NOT ride on stdout — it goes to stderr and to a sidecar file
  * `bench_detail.json` in the working directory).
  *
  * Each query runs `SPARK_GRAFT_BENCH_REPS` times (default 2) and the
  * MINIMUM wall time is reported, so this box's documented external
  * CPU-contention windows (PLANS.md) and first-run codegen tax stop
  * poisoning the headline number; when the summed per-query spreads
  * exceed 25% of the total (a run-wide contention band, not per-query
  * noise) every query gets ONE extra rep and the min re-takes
  * (`"escalated":true` in the JSON). Queries are fully materialized
  * through the `noop` sink — a bare `count()` would let Catalyst prune
  * the projections we mean to measure. A fixed single-partition
  * calibration probe runs 3× at the start, every 25 queries, and 3× at
  * the end; its min/median/max land in the detail file's
  * `calibration` block (and `calib_min`/`calib_med` on stdout) so
  * cross-round per-query comparisons can be contention-normalized.
  *
  * Robustness to the driver's external kill (r12: rc=124 at BOTH core
  * counts left `parsed: null` — zero observable numbers for the round):
  *  - `SPARK_GRAFT_BENCH_BUDGET_S` (default 1500) is a wall-clock budget.
  *    The escalation pass only runs when the elapsed time plus a
  *    conservative estimate of one more full pass still fits the budget;
  *    otherwise it is skipped and the JSON says
  *    `"escalation_skipped_budget":true`. Timing methodology per query is
  *    unchanged (same reps, same min-of-successful-reps, same noop sink).
  *  - A JVM shutdown hook prints the one-line JSON with the totals over
  *    the queries COMPLETED so far plus `"partial":true` if the process
  *    is killed before the normal final line — the r12 c8 tail proves
  *    shutdown hooks do run under the driver's timeout kill. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1500").toDouble
    val startNano = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - startNano) / 1e9
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    def r3(v: Double): String = f"$v%.3f"

    // Incrementally updated record of completed queries: the shutdown hook
    // reads this to emit a valid partial summary on an external kill.
    // (name -> successful rep times so far); insertion-ordered.
    val recorded = new java.util.concurrent.ConcurrentHashMap[String, Seq[Double]]()
    val order = collection.mutable.ArrayBuffer[String]()
    val calibTimes = collection.mutable.ArrayBuffer[Double]()
    var finalLinePrinted = false // guarded by printLock
    val printLock = new Object
    @volatile var escalateFlag = false
    // reps + 1 only once the escalation pass has FINISHED: a kill landing
    // mid-escalation must not pass a partial line off as a completed one
    @volatile var effReps = reps
    @volatile var escalationSkippedBudget = false

    def summaryLine(partial: Boolean): String = {
      val names = order.synchronized(order.toSeq)
      val mins = names.flatMap(n => Option(recorded.get(n)).flatMap(_.minOption))
      val spreads = names.flatMap(n =>
        Option(recorded.get(n)).filter(_.nonEmpty).map(ts => ts.max - ts.min))
      val failures = names.count(n =>
        Option(recorded.get(n)).exists(_.isEmpty))
      val calib = calibTimes.synchronized(calibTimes.drop(1).toSeq.sorted)
      val calibShort = if (calib.isEmpty) "" else
        s""","calib_min":${r3(calib.head)},"calib_med":${r3(calib(calib.size / 2))}"""
      val partialPart = if (partial) ""","partial":true""" else ""
      val skipPart =
        if (escalationSkippedBudget) ""","escalation_skipped_budget":true""" else ""
      s"""{"metric":"total","value":${r3(mins.sum)},"unit":"sec","n_queries":${names.size},"reps":$effReps,"reps_is_attempted_ceiling":true,"failures":$failures,"spread_total":${r3(spreads.sum)},"escalated":$escalateFlag$skipPart$calibShort$partialPart,"sf":"$sfDir"}"""
    }
    // The final print and the shutdown hook's partial print share one lock
    // and the flag is set inside it, so a kill can never add a second line.
    def printSummaryOnce(partial: Boolean): Unit = printLock.synchronized {
      if (!finalLinePrinted) {
        println(summaryLine(partial))
        System.out.flush()
        finalLinePrinted = true
      }
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      printSummaryOnce(partial = true)))

    def calibRep(): Unit = {
      val t0 = System.nanoTime()
      spark.range(0L, 8000000L, 1L, 1)
        .selectExpr("sum(id * 2 + 1) AS s")
        .write.format("noop").mode("overwrite").save()
      calibTimes.synchronized { calibTimes += (System.nanoTime() - t0) / 1e9 }
    }
    // A rep that throws must NOT contribute its time-to-throw to the min —
    // a crashed query is fast, and a swallowed failure reads as a speedup
    // (r4's z1 "0.055 s" was exactly this). Failed reps are excluded; a
    // query with zero successful reps reports null and counts as a failure.
    def runRep(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
               rep: Int): Option[Double] = {
      spark.catalog.clearCache() // drop per-query cached frames between runs
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name rep$rep FAILED: ${e.getMessage}")
        None
      }
    }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    calibRep(); calibRep(); calibRep() // 3 at start (first = codegen warmup)
    sorted.zipWithIndex.foreach { case ((name, fn), i) =>
      if (i > 0 && i % 25 == 0) calibRep() // interleaved every 25 queries
      val ts = (1 to reps).flatMap(runRep(name, fn, _))
      order.synchronized { order += name }
      recorded.put(name, ts)
    }
    // Contention escalation: when the per-query spreads sum to >25% of the
    // total, min-of-`reps` demonstrably inflates the headline (the r7
    // driver artifact carried a 44% contention band) — one extra rep per
    // query buys each min another draw from the noise distribution.
    // Budget guard (r12 fix): the extra pass costs about one pass-total of
    // wall clock (more under the very contention that triggers it); only
    // run it when that provably fits `SPARK_GRAFT_BENCH_BUDGET_S`,
    // because a killed bench (rc=124) reports nothing at all.
    val passTotal = sorted.flatMap { case (n, _) =>
      Option(recorded.get(n)).flatMap(_.minOption) }.sum
    val passSpread = sorted.flatMap { case (n, _) =>
      Option(recorded.get(n)).filter(_.nonEmpty).map(ts => ts.max - ts.min) }.sum
    val wantEscalate = passTotal > 0 && passSpread / passTotal > 0.25
    val escalationFits = elapsedS + passTotal * 1.25 < budgetS
    escalateFlag = wantEscalate && escalationFits
    escalationSkippedBudget = wantEscalate && !escalationFits
    if (escalationSkippedBudget) System.err.println(
      s"[bench] spread ${r3(passSpread)} s (${f"${100 * passSpread / passTotal}%.0f"}%%)" +
        s" would escalate, but elapsed ${r3(elapsedS)} s + ~${r3(passTotal * 1.25)} s" +
        s" exceeds budget ${r3(budgetS)} s — escalation SKIPPED")
    if (escalateFlag) System.err.println(
      s"[bench] spread_total ${r3(passSpread)} s is ${
        f"${100 * passSpread / passTotal}%.0f"}%% of total ${r3(passTotal)} s" +
        " — escalating to one extra rep per query")
    if (escalateFlag) sorted.foreach { case (name, fn) =>
      val prev = Option(recorded.get(name)).getOrElse(Seq.empty)
      if (prev.nonEmpty) recorded.put(name, prev ++ runRep(name, fn, reps + 1))
    }
    if (escalateFlag) effReps = reps + 1
    val results = sorted.map { case (name, _) =>
      val times = Option(recorded.get(name)).getOrElse(Seq.empty)
      val min = if (times.isEmpty) None else Some(times.min)
      val spread = if (times.isEmpty) None else Some(times.max - times.min)
      System.err.println(
        s"[bench] $name ok=${times.size} reps=[${times.map(r3).mkString(",")}]" +
          s" min=${min.map(r3).getOrElse("FAILED")} s" +
          s" spread=${spread.map(r3).getOrElse("-")} s")
      (name, min, spread, times.size)
    }
    // `reps` in the artifacts is the ATTEMPTED ceiling, not the achieved
    // count: a query whose first-pass reps all failed never gets the
    // escalation rep, and an escalation rep can itself fail (r8 ADVICE).
    // The achieved per-query counts are the `ok` map in the detail file.
    val failed = results.collect { case (k, None, _, _) => k }
    val total = results.flatMap(_._2).sum
    val totalSpread = results.flatMap(_._3).sum
    val qs = results.map { case (k, v, _, _) =>
      "\"" + k + "\":" + v.map(r3).getOrElse("null")
    }.mkString("{", ",", "}")
    val sp = results.map { case (k, _, s, _) =>
      "\"" + k + "\":" + s.map(r3).getOrElse("null")
    }.mkString("{", ",", "}")
    val okm = results.map { case (k, _, _, ok) =>
      "\"" + k + "\":" + ok
    }.mkString("{", ",", "}")
    calibRep(); calibRep(); calibRep() // 3 at end
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // calibration block: drop the very first probe (codegen warmup tax,
    // not contention), report min / median / max / all times. The
    // contention factor a reader should use is median/min WITHIN the
    // run, and min-vs-min ACROSS rounds for box drift.
    val calib = calibTimes.drop(1).toSeq.sorted
    val calibJson = if (calib.isEmpty) "null" else {
      val med = calib(calib.size / 2)
      s"""{"n":${calib.size},"min":${r3(calib.head)},"median":${r3(med)},"max":${r3(calib.last)},"times":[${calibTimes.map(r3).mkString(",")}]}"""
    }
    val detail =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps_attempted":$effReps,"failures":${failed.size},"spread_total":${r3(totalSpread)},"escalated":$escalateFlag,"escalation_skipped_budget":$escalationSkippedBudget,"elapsed_wall_s":${r3(elapsedS)},"calibration":$calibJson,"failed":$failedJson,"queries":$qs,"spread":$sp,"ok":$okm,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("bench_detail.json")
      try w.println(detail) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    System.err.println(detail)
    spark.stop()
    // SHORT final stdout line only — must survive the driver's ~2 KB tail cap
    printSummaryOnce(partial = false)
  }
}
