package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark driver for one run of one workload. Closed loop, one client:
  * each iteration starts when the previous one has ended and been checked.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE --cores K --deadline D [--slowdown F]
  *
  * Set-up (session start, input generation — repeated, median taken — and
  * the warm-up iterations) is timed as `setup_s`. The untraced loop then
  * runs for S seconds (at least one iteration) and gives the
  * end-to-end metrics. With `--trace 1` it runs one iteration and a traced
  * loop follows, whose spans give the per-layer metrics. No loop starts an
  * iteration that, as long as the previous one, would end more than D
  * seconds after the JVM started. `--slowdown F` stretches every timed
  * iteration to F times its length (the harness's own regression test).
  * The result is written as JSON to FILE. */
object Main {
  val GenReps = 3
  /** Untimed iterations before the loop. The first timed iteration after a
    * single warm-up still ran 20-34 s for `exact_job` over five seeds (the
    * JIT was still compiling); after two it settled at 16-18 s. */
  val Warmups = 2

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String, cores: Int,
                        deadlineS: Double, slowdown: Double)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("out"), m("cores").toInt,
      m("deadline").toDouble, m.get("slowdown").map(_.toDouble).getOrElse(1.0))
  }

  val workloads: Map[String, Workload] =
    Seq(ExactJob, CurateDedup).map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/local")
      .config("spark.sql.streaming.checkpointLocation", s"${o.work}/stream_ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${o.work}/ckpt")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val sessionS = Jvm.uptimeS
    try {
      val result = new Run(spark, wl, o, counters, sessionS).execute()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), result)
    } finally spark.stop()
  }
}

/** One benchmark run: set-up, the untraced loop, the optional traced loop
  * and the result JSON. */
final class Run(spark: SparkSession, wl: Workload, o: Main.Opts,
                counters: Counters, sessionS: Double) {
  private def now = System.nanoTime()
  private val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0

  private def ctx(input: String) =
    Ctx(spark, input, o.work, s"pb_${wl.name}_${ProcessHandle.current.pid}")

  /** One timed iteration: returns (seconds, outcome, Spark work, GC s,
    * peak heap MB). A thrown error or a failed check counts as failed. The
    * readings are taken when the workload returns, before its check runs. */
  private def iteration(c: Ctx, i: Int, tr: Tracer, first: Option[Outcome]) = {
    val before = counters.snapshot(spark)
    val gc0 = Jvm.gcMillis
    Jvm.resetPeak()
    val t0 = now
    def broken(p: String) = Outcome(-1, -1, problems = Seq(p))
    val check: () => Outcome = try {
      val chk = wl.run(c, i, tr)
      if (o.slowdown > 1.0) Thread.sleep(((o.slowdown - 1.0) * (now - t0) / 1e6).toLong)
      chk
    } catch { case e: Exception => () => broken(s"iteration $i threw: $e") }
    val secs = (now - t0) / 1e9
    val heap = Jvm.peakHeapMb
    val gc = (Jvm.gcMillis - gc0) / 1000.0
    val work = counters.snapshot(spark) - before
    val out = try check() catch { case e: Exception => broken(s"iteration $i check threw: $e") }
    System.err.println(f"[perfbench] ${wl.name} iteration $i: $secs%.3f s, " +
      s"${work.jobs} jobs${out.problems.map("; " + _).mkString}")
    val bad = out.problems ++ first.toSeq.flatMap { f =>
      Seq(
        if ((out.rows, out.hash) != ((f.rows, f.hash)))
          Some(s"iteration $i output (${out.rows} rows) differs from the first") else None,
        if (out.quality != f.quality)
          Some(s"iteration $i scores ${out.quality} differ from ${f.quality}") else None
      ).flatten
    }
    (secs, out, work, gc, heap, bad)
  }

  /** Whether an iteration of `lastS` seconds started now ends in time. */
  private def fits(lastS: Double): Boolean = Jvm.uptimeS + lastS <= o.deadlineS

  def execute(): String = {
    val input = s"${o.work}/input"
    val genTimes = (0 until Main.GenReps).map { g =>
      val t0 = now
      wl.generate(spark, input, o.seed)
      (now - t0) / 1e9
    }
    val c = ctx(input)
    val off = new Tracer(spark, enabled = false)
    // iteration 0 is the reference output; later warm-ups are checked
    // against it like timed iterations
    val (warm0, first, _, _, _, warmBad) = iteration(c, 0, off, None)
    problems ++= warmBad
    val warmS = warm0 +: (1 until Main.Warmups).map { w =>
      val (s, _, _, _, _, bad) = iteration(c, 900 + w, off, Some(first))
      problems ++= bad
      s
    }
    val setupS = sessionS + Stats.median(genTimes) + warmS.sum

    // untraced closed loop; a traced run takes one iteration here and
    // leaves the time to the traced loop
    val rows = mutable.ArrayBuffer.empty[(Double, Outcome, Tally, Double, Double)]
    val loopStart = now
    var i = 1
    while (rows.isEmpty ||
      (!o.trace && (now - loopStart) / 1e9 < o.seconds && fits(rows.last._1))) {
      val (s, out, work, gc, heap, bad) = iteration(c, i, off, Some(first))
      attempted += 1
      if (bad.nonEmpty) { failed += 1; problems ++= bad }
      rows += ((s, out, work, gc, heap))
      i += 1
    }
    val traced = if (o.trace) Some(tracedLoop(c, first)) else None
    val finishLayer = wl.finish(c)

    def med(f: ((Double, Outcome, Tally, Double, Double)) => Double) =
      Stats.median(rows.toSeq.map(f))
    val e2e = med(_._1)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (traced.isEmpty) {
      metrics("setup_s") = (setupS, "s")
      metrics("e2e_s") = (e2e, "s")
      metrics("ok_ratio") = (1.0 - failed.toDouble / attempted, "ratio")
      metrics("spark_jobs") = (med(_._3.jobs.toDouble), "count")
      metrics("shuffle_mb") = (med(_._3.shuffleBytes / 1048576.0), "MB")
    } else metrics ++= Layers.perLayer(rows.toSeq, traced.get, first, finishLayer, e2e)
    Json.obj(Seq(
      "correct" -> (failed == 0 && problems.isEmpty).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "info" -> Json.obj(Seq(
        "workload" -> Json.str(wl.name),
        "input_size" -> Json.str(wl.inputSize),
        "seed" -> o.seed.toString,
        "iterations" -> rows.size.toString,
        "deadline_s" -> Json.num(o.deadlineS),
        "end_s" -> Json.num(Jvm.uptimeS),
        "iteration_s" -> Json.arr(rows.toSeq.map(r => Json.num(r._1))),
        "session_s" -> Json.num(sessionS),
        "generate_s" -> Json.arr(genTimes.map(Json.num)),
        "warmup_s" -> Json.arr(warmS.map(Json.num)),
        "problems" -> Json.arr(problems.distinct.toSeq.map(Json.str)),
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "master" -> Json.str(spark.sparkContext.master),
        "heap_max_mb" -> Json.num(Jvm.maxHeapMb),
        "jdk" -> Json.str(System.getProperty("java.version")),
        "spark" -> Json.str(spark.version)))))
  }

  /** The traced loop: same iterations, layer calls in spans. Runs for the
    * run's seconds too, at least two iterations unless the second would
    * miss the deadline. */
  private def tracedLoop(c: Ctx, first: Outcome): Traced = {
    val tr = new Tracer(spark, enabled = true)
    val times = mutable.ArrayBuffer.empty[Double]
    val outs = mutable.ArrayBuffer.empty[Outcome]
    val start = now
    var i = 1
    while (times.isEmpty ||
      ((times.size < 2 || (now - start) / 1e9 < o.seconds) && fits(times.last))) {
      tr.iter = i
      val (s, out, _, _, _, bad) = iteration(c, 1000 + i, tr, Some(first))
      attempted += 1
      if (bad.nonEmpty) { failed += 1; problems ++= bad }
      times += s
      outs += out
      i += 1
    }
    val groups = tr.spans.map(s => s.id -> counters.group(spark, s.group)).toMap
    val adopted = tr.adopted.toSeq.map { case (g, id) => id -> counters.group(spark, g) }
    val work = adopted.foldLeft(groups) { case (m, (id, t)) => m.updated(id, m(id) + t) }
    val self = tr.selfSeconds
    val t0 = tr.spans.map(_.startNs).minOption.getOrElse(0L)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${o.work}/spans.jsonl"),
      tr.spans.sortBy(_.startNs).map { s =>
        val w = work(s.id)
        Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
          "parent" -> s.parent.toString, "iter" -> s.iter.toString,
          "start_s" -> Json.num((s.startNs - t0) / 1e9),
          "end_s" -> Json.num((s.endNs - t0) / 1e9),
          "self_s" -> Json.num(self(s.id)), "jobs" -> w.jobs.toString,
          "stages" -> w.stages.toString, "tasks" -> w.tasks.toString,
          "shuffle_bytes" -> w.shuffleBytes.toString,
          "spill_bytes" -> w.spillBytes.toString))
      }.asJava)
    // work the untraced iteration does not do (the stream twin, the layer
    // probes) runs in `probe.*` spans; it is not part of the traced e2e
    val probeS = tr.spans.filter(_.name.startsWith("probe.")).groupBy(_.iter)
      .map { case (it, ss) => it -> ss.map(_.durS).sum }
    val sameWork = times.toSeq.zipWithIndex.map { case (s, k) =>
      s - probeS.getOrElse(k + 1, 0.0) }
    Traced(tr.spans.toSeq, self, work, sameWork, outs.toSeq)
  }
}

final case class Traced(spans: Seq[Span], self: Map[Int, Double],
                        work: Map[Int, Tally], iterS: Seq[Double],
                        outcomes: Seq[Outcome])

/** The per-layer metric catalog. Every workload reports every name; a
  * layer the workload does not call reads 0. */
object Layers {
  /** Span name → metric prefix; `<prefix>_s` is the median per-iteration
    * self time of the spans of that name. */
  val timedSpans: Seq[String] = Seq(
    "ingest.read", "ingest.normalize", "ingest.write_table",
    "inject.inject_all", "inject.static_stats", "window.temporal_split",
    "window.flatten", "ml.fit", "ml.transform", "eval.confusion",
    "xai.attribution_plan", "xai.attribution_exec", "xai.ndcg",
    "streaming.stage", "streaming.drain", "ops.components") ++
    CurateDedup.Queries.flatMap(q => Seq(s"queries.$q.construct", s"queries.$q.exec"))

  /** Kernel probe span → corpus rows per second. */
  val kernels: Seq[String] = Seq("text.tokens", "expressions.minhash",
    "expressions.simhash64", "expressions.ngrams")

  def perLayer(untraced: Seq[(Double, Outcome, Tally, Double, Double)],
               t: Traced, first: Outcome, finish: Map[String, Double],
               e2e: Double): Seq[(String, (Double, String))] = {
    val iters = t.spans.map(_.iter).distinct
    def perIter(names: Set[String], f: Span => Double): Double =
      Stats.median(iters.map(i =>
        t.spans.filter(s => s.iter == i && names(s.name)).map(f).sum))
    def selfS(name: String) = perIter(Set(name), s => t.self(s.id))
    def jobs(names: Set[String]) = perIter(names, s => t.work(s.id).jobs.toDouble)
    def untracedLayer(k: String) = Stats.median(untraced.map(_._2.layer.getOrElse(k, 0.0)))
    def tracedLayer(k: String) = Stats.median(t.outcomes.map(_.layer.getOrElse(k, 0.0)))
    val xaiSpans = t.spans.map(_.name).filter(_.startsWith("xai.")).toSet
    val docs = CurateDedup.NDocs.toDouble

    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    timedSpans.foreach(n => out(s"${n}_s") = (selfS(n), "s"))
    kernels.foreach { k =>
      val s = selfS(k)
      out(s"${k}_rows_per_s") = (if (s > 0) docs / s else 0.0, "1/s")
    }
    out("xai.jobs") = (jobs(xaiSpans), "count")
    out("ops.components_jobs") = (jobs(Set("ops.components")), "count")
    CurateDedup.Queries.foreach { q =>
      out(s"queries.$q.jobs") =
        (jobs(Set(s"queries.$q.construct", s"queries.$q.exec")), "count")
    }
    Seq("jobs.simulation_s", "jobs.training_s", "jobs.detection_s", "jobs.xai_s")
      .foreach(k => out(k) = (untracedLayer(k), "s"))
    // the streaming twin runs in the traced loop only
    out("streaming.batch_ms_p50") = (tracedLayer("streaming.batch_ms_p50"), "ms")
    out("streaming.add_batch_ms_p50") = (tracedLayer("streaming.add_batch_ms_p50"), "ms")
    out("streaming.batches") = (tracedLayer("streaming.batches"), "count")
    Seq("eval.detect_f1", "xai.ndcg_at_3").foreach { k =>
      out(k) = (first.quality.getOrElse(k, 0.0), "score")
    }
    out("eval.stream_detect_f1") = (tracedLayer("eval.stream_detect_f1"), "score")
    out("ops.dedup_recall") = (finish.getOrElse("ops.dedup_recall", 0.0), "ratio")
    out("spark.stages") = (Stats.median(untraced.map(_._3.stages.toDouble)), "count")
    out("spark.tasks") = (Stats.median(untraced.map(_._3.tasks.toDouble)), "count")
    out("spark.spill_mb") = (Stats.median(untraced.map(_._3.spillBytes / 1048576.0)), "MB")
    out("spark.gc_s") = (Stats.median(untraced.map(_._4)), "s")
    // per layer, not end to end: on curate_dedup it swung between ~950 and
    // ~1260 MB by seed (quartile spread 0.27 over ten seeds), wider than
    // any bound an end-to-end metric may have
    out("jvm.heap_peak_mb") = (Stats.median(untraced.map(_._5)), "MB")
    val tracedE2e = Stats.median(t.iterS)
    out("trace.e2e_s") = (tracedE2e, "s")
    out("trace.overhead_s") = (tracedE2e - e2e, "s")
    out.toSeq
  }
}

/** Minimal JSON writing (values arrive pre-rendered). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
