package graft.ml

import graft.SparkSpec
import graft.inject.AnomalySetting
import graft.jobs.BatchJob
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class ModelsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) =
    new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + i * 1000L)

  /** 2000-point series: smooth sine + noise; 60 planted anomalies with large
    * spikes and label=1. */
  private lazy val series = {
    val rng = new scala.util.Random(7)
    (0 until 2000).map { i =>
      val anomalous = i % 33 == 13
      val base = 50.0 + 10.0 * math.sin(i / 25.0) + rng.nextGaussian()
      val v = if (anomalous) base * (3.0 + rng.nextDouble()) else base
      (ts(i), v, v * 0.5 + rng.nextGaussian(), if (anomalous) 1 else 0)
    }.toDF("timestamp", "v1", "v2", "label")
  }

  test("supervised decision tree learns planted anomalies end-to-end") {
    val summary = BatchJob.run(spark, "t_dt", series, "timestamp", Some("label"),
      injections = Nil,
      detector = SupervisedDetector(Seq("v1", "v2"), "decision_tree"),
      persistTable = false)
    assert(summary.rows == 2000)
    assert(summary.metricsTest("accuracy") > 0.9,
      s"test metrics: ${summary.metricsTest}")
    assert(summary.metricsTest("recall_tpr") > 0.7)
    assert(summary.metricsAll("f1_score") > 0.7)
  }

  test("logreg + linear_svc produce calibrated-ish anomaly scores") {
    Seq("logreg", "linear_svc").foreach { algo =>
      val det = SupervisedDetector(Seq("v1", "v2"), algo)
      val fitted = det.fit(series)
      val out = fitted.transform(series)
      val scores = out.select(min("anomaly_score"), max("anomaly_score")).head
      assert(scores.getDouble(0) >= 0.0 && scores.getDouble(1) <= 1.0, algo)
      // scores must rank anomalies above normals on average
      val m = out.groupBy($"label").agg(avg("anomaly_score")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(m(1) > m(0), s"$algo: $m")
    }
  }

  test("isolation forest flags planted extremes without labels") {
    val det = IsolationForestDetector(Seq("v1", "v2"), nTrees = 50,
      contamination = 0.05)
    val out = det.fit(series).transform(series)
    val m = Metrics2.recallPrecision(out)
    assert(m._1 > 0.6, s"recall ${m._1}") // most planted spikes caught
  }

  test("windowed z-score detector flags spikes, warm-up never flagged") {
    val det = WindowZScoreDetector(Seq("v1"), tsCol = "timestamp", L = 10,
      percentile = 0.98)
    val out = det.fit(series).transform(series).cache()
    // warm-up rows cannot be flagged
    val first9 = out.orderBy($"timestamp").limit(9)
    assert(first9.filter($"is_anomaly").count() == 0)
    val m = Metrics2.recallPrecision(out)
    assert(m._1 > 0.5, s"recall ${m._1}")
    out.unpersist()
  }

  test("window z-score no-series default equals the keyed path (blocked " +
      "two-pass rank replaces the single-task global window)") {
    val none = WindowZScoreDetector(Seq("v1", "v2"), L = 10).fit(series)
      .asInstanceOf[FittedWindowZScore]
    val keyed = WindowZScoreDetector(Seq("v1", "v2"), seriesCol = Some("sid"),
        L = 10)
      .fit(series.withColumn("sid", lit("x")))
      .asInstanceOf[FittedWindowZScore]
    // identical calibration rows → identical exact-percentile threshold
    assert(math.abs(none.threshold - keyed.threshold) < 1e-9,
      s"${none.threshold} vs ${keyed.threshold}")
    val a = none.transform(series)
      .select($"timestamp", $"anomaly_score".as("sa"), $"is_anomaly".as("fa"))
    val b = keyed.transform(series.withColumn("sid", lit("x")))
      .select($"timestamp", $"anomaly_score".as("sb"), $"is_anomaly".as("fb"))
    val j = a.join(b, "timestamp").cache()
    assert(j.count() == 2000)
    // blocked windows see the exact cells the bare window saw, in order
    val maxDiff = j.filter($"sa".isNotNull)
      .agg(max(abs($"sa" - $"sb"))).head.getDouble(0)
    assert(maxDiff < 1e-9, s"maxDiff $maxDiff")
    assert(j.filter($"fa" =!= $"fb").count() == 0)
    assert(j.filter($"sa".isNull =!= $"sb".isNull).count() == 0)
    j.unpersist()
  }

  test("window_pca catches a cross-feature correlation break invisible to " +
      "per-feature z-score (M1 autoencoder-equivalent)") {
    // v2 tracks v1 (v2 = 2 + 0.8·s + noise); in [804, 904) the relation
    // FLIPS (v2 = 2 − 0.8·s): both marginals keep their usual range and
    // smoothness, so per-feature rolling z sees nothing, while a linear
    // autoencoder over the joint window reconstructs v2 badly. The flip
    // point sits where s ≈ 0, so no per-feature jump marks the boundary.
    val rng = new scala.util.Random(23)
    val df = (0 until 1200).map { i =>
      val s = 10.0 * math.sin(i / 8.0)
      val v1 = s + rng.nextGaussian() * 0.3
      val flipped = i >= 804 && i < 904
      val v2 = 2.0 + (if (flipped) -0.8 else 0.8) * s + rng.nextGaussian() * 0.3
      (ts(i), v1, v2, if (flipped) 1 else 0)
    }.toDF("timestamp", "v1", "v2", "label")
    val clean = df.filter($"label" === 0 && $"timestamp" < ts(804))

    val pca = WindowPcaDetector(Seq("v1", "v2"), L = 10, k = 4,
      percentile = 0.98).fit(clean)
    val z = WindowZScoreDetector(Seq("v1", "v2"), L = 10,
      percentile = 0.98).fit(clean)

    // interior of the flipped region: windows fully inside the anomaly
    val interior = ($"timestamp" >= ts(814)) && ($"timestamp" < ts(904))
    val pcaFlags = pca.transform(df).filter(interior && $"is_anomaly").count()
    val zFlags = z.transform(df).filter(interior && $"is_anomaly").count()
    assert(pcaFlags > 50, s"pca caught $pcaFlags of 90")
    assert(zFlags < 10, s"z-score should miss the break, flagged $zFlags")

    // warm-up parity: first L−1 rows never flagged, score null
    val out = pca.transform(df).orderBy($"timestamp").limit(9)
    assert(out.filter($"is_anomaly" || $"anomaly_score".isNotNull).count() == 0)
  }

  test("batch job with injection: injected rows get labeled and detected; " +
      "in-job XAI ranks the injected column first") {
    val clean = series.drop("label")
    val inj = AnomalySetting("spike", 1704067200L + 500, durationSec = 300,
      magnitude = 6.0, percentage = 80.0, columns = Seq("v1"))
    val summary = BatchJob.run(spark, "t_inj", clean, "timestamp", None,
      injections = Seq(inj),
      detector = SupervisedDetector(Seq("v1", "v2"), "decision_tree"),
      persistTable = false,
      xai = Some(graft.jobs.XaiConfig(Seq("v1", "v2"),
        methods = Seq("permutation_importance", "nun_counterfactuals"))))
    assert(summary.injectedRows > 100 && summary.injectedRows < 280,
      s"injected ${summary.injectedRows}")
    assert(summary.metricsAll("recall_tpr") > 0.5, summary.metricsAll.toString)
    // X1/X5: both methods attribute v1 (the injected column), NDCG@3 = 1
    summary.xaiImportance.foreach { case (m, imp) =>
      assert(imp("v1") > imp("v2"), s"$m: $imp")
    }
    assert(summary.xaiNdcg.values.forall(_ == 1.0), summary.xaiNdcg.toString)
    assert(summary.timingsSec.contains("xai"))

    // S15: summary JSON sink round-trips
    val out = java.nio.file.Files.createTempDirectory("graft_sum").toString
    BatchJob.writeSummary(spark, summary, out)
    val back = spark.read.json(out)
    assert(back.count() == 1)
    assert(back.select("job").head.getString(0) == "t_inj")
  }

  test("windowed detector + per-timestep XAI land in the run summary " +
      "(X2 over sequences, Demo path)") {
    // anomaly-free base series: the ONLY anomaly signal is the injected one
    // (the shared `series` fixture has unlabeled natural spikes that leak
    // into v2 and would legitimately draw attribution)
    val rng = new scala.util.Random(19)
    val clean = (0 until 2000).map { i =>
      (ts(i), 50.0 + 10.0 * math.sin(i / 25.0) + rng.nextGaussian(),
        rng.nextGaussian() * 5.0)
    }.toDF("timestamp", "v1", "v2")
    val inj = AnomalySetting("spike", 1704067200L + 500, durationSec = 300,
      magnitude = 6.0, percentage = 80.0, columns = Seq("v1"))
    val summary = BatchJob.run(spark, "t_pts", clean, "timestamp", None,
      injections = Seq(inj),
      detector = WindowZScoreDetector(Seq("v1", "v2"), L = 8,
        percentile = 0.98),
      persistTable = false,
      xai = Some(graft.jobs.XaiConfig(Seq("v1", "v2"),
        methods = Seq("per_timestep_importance"), ndcgK = 1)))
    val imp = summary.xaiImportance("per_timestep_importance")
    assert(imp("v1") > imp("v2"), imp.toString)
    assert(summary.xaiNdcg("per_timestep_importance") == 1.0,
      summary.xaiNdcg.toString)

    // X6: the HTML report artifact carries the method, features and NDCG
    val report = java.nio.file.Files.createTempFile("graft_rep", ".html")
    BatchJob.writeReport(summary, report.toString)
    val html = java.nio.file.Files.readString(report)
    assert(html.contains("per_timestep_importance") && html.contains("v1") &&
      html.contains("NDCG"), html.take(200))
  }

  /** The pinned run's input: 1000 clean rows and one spike on v1. */
  private def pinnedInput = {
    val rng = new scala.util.Random(23)
    val clean = (0 until 1000).map { i =>
      (ts(i), 50.0 + 10.0 * math.sin(i / 25.0) + rng.nextGaussian(),
        rng.nextGaussian() * 5.0)
    }.toDF("timestamp", "v1", "v2")
    val inj = AnomalySetting("spike", 1704067200L + 300, durationSec = 100,
      magnitude = 6.0, percentage = 80.0, columns = Seq("v1"))
    (clean, inj)
  }

  /** The `exact_job` branch of `BatchJob.run`: windowed detector, one
    * injection, per-timestep XAI, persisted job table. */
  private def pinnedRun(job: String) = {
    val (clean, inj) = pinnedInput
    BatchJob.run(spark, job, clean, "timestamp", None,
      injections = Seq(inj),
      detector = WindowZScoreDetector(Seq("v1", "v2"), L = 3),
      xai = Some(graft.jobs.XaiConfig(Seq("v1", "v2"),
        methods = Seq("per_timestep_importance"))))
  }

  private def dropJobTables(job: String): Unit =
    Seq("", "_scored").foreach(s => spark.sql(s"DROP TABLE IF EXISTS job_batch_$job$s"))

  test("batch job (windowed detector, per-timestep XAI, persisted table): " +
      "Spark job count and outputs pinned") {
    try {
      val (s, jobs) = withJobCount(pinnedRun("t_pin"))
      // each fanned-out frame is materialized once (111 jobs before),
      // `id + 1` is every consumer's global rank (59 jobs before), the
      // metrics and NDCG come from the detection checkpoint's observation
      // and the collected importance rows (34 jobs before), and the spike
      // plans no stats aggregate while the per-timestep XAI collects its
      // (feature, lag) means unsorted (27 jobs before)
      assert(jobs == 18, s"jobs $jobs")
      // outputs equal those of the run before that change, bit for bit
      assert((s.rows, s.injectedRows, s.flaggedRows) == ((1000L, 78L, 56L)))
      assert(s.metricsTest == Map("accuracy" -> 0.9533, "f1_score" -> 0.0,
        "fn" -> 0.0, "fp" -> 7.0, "precision" -> 0.0, "recall_tpr" -> 0.0,
        "specificity_tnr" -> 0.9533, "tn" -> 143.0,
        "total_predictions" -> 150.0, "tp" -> 0.0), s.metricsTest.toString)
      assert(s.metricsAll == Map("accuracy" -> 0.872, "f1_score" -> 0.0448,
        "fn" -> 75.0, "fp" -> 53.0, "precision" -> 0.0536,
        "recall_tpr" -> 0.0385, "specificity_tnr" -> 0.9425, "tn" -> 869.0,
        "total_predictions" -> 1000.0, "tp" -> 3.0), s.metricsAll.toString)
      assert(s.xaiImportance == Map("per_timestep_importance" -> Map(
        "v1" -> 1.7187256645993616, "v2" -> 1.5798134811925164)),
        s.xaiImportance.toString)
      assert(s.xaiNdcg == Map("per_timestep_importance" -> 1.0))
      // the scored table: row count and order-insensitive xxhash64 sum
      val scored = spark.table("job_batch_t_pin_scored")
      val h = scored.agg(count(lit(1)), sum(pmod(
        xxhash64(scored.columns.map(col).toIndexedSeq: _*), lit(2147483647L)))).head
      assert((h.getLong(0), h.getLong(1)) == ((1000L, 1100422263566L)))
    } finally dropJobTables("t_pin")
  }

  test("batch job with an empty test split (trainRatio = 1.0): the " +
      "test metrics are the zero-count map") {
    val (clean, inj) = pinnedInput
    val s = BatchJob.run(spark, "t_notest", clean, "timestamp", None,
      injections = Seq(inj),
      detector = WindowZScoreDetector(Seq("v1", "v2"), L = 3),
      trainRatio = 1.0, persistTable = false)
    assert(s.metricsTest == Map("accuracy" -> 0.0, "f1_score" -> 0.0,
      "fn" -> 0.0, "fp" -> 0.0, "precision" -> 0.0, "recall_tpr" -> 0.0,
      "specificity_tnr" -> 0.0, "tn" -> 0.0, "total_predictions" -> 0.0,
      "tp" -> 0.0), s.metricsTest.toString)
    assert(s.metricsAll("total_predictions") == 1000.0, s.metricsAll.toString)
    assert(s.metricsAll("tp") + s.metricsAll("fn") == s.injectedRows.toDouble,
      s.metricsAll.toString)
  }

  test("every Spark job of a batch run carries its stage tag; the caller's " +
      "job group and description stay in force") {
    val sc = spark.sparkContext
    val ledger = graft.JobLedger.register(sc)
    try {
      // an untagged job of the run would carry the caller's description
      val caller = s"stage-tags-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(caller, caller)
      try {
        pinnedRun("t_tags")
        assert(sc.getLocalProperty("spark.job.description") == caller)
        assert(sc.getLocalProperty("spark.jobGroup.id") == caller)
      } finally sc.clearJobGroup()
      val tags = Seq("simulation", "training", "detection", "evaluation", "xai")
        .map(st => s"graft:t_tags:$st").toSet
      val seen = ledger.read().keySet
        .filter(t => t.startsWith("graft:t_tags:") || t == caller)
      assert(seen == tags, seen.toString)
    } finally {
      sc.removeSparkListener(ledger)
      dropJobTables("t_tags")
    }
  }

  test("autoTune surfaces CV fold metrics into the run summary") {
    val summary = BatchJob.run(spark, "t_cv", series, "timestamp", Some("label"),
      injections = Nil,
      detector = SupervisedDetector(Seq("v1", "v2"), "decision_tree",
        autoTune = true),
      persistTable = false)
    assert(summary.cvMetrics.contains("cv_auc_best"), summary.cvMetrics.toString)
    assert(summary.cvMetrics("cv_auc_best") > 0.8)
    assert(summary.cvMetrics.keys.count(_.startsWith("cv_auc_candidate_")) == 3)
  }

  test("gbt feature importances are exposed (X2 capability)") {
    val det = SupervisedDetector(Seq("v1", "v2"), "gbt")
    val fitted = det.fit(series).asInstanceOf[FittedSupervised]
    val imp = fitted.featureImportances
    assert(imp.isDefined && imp.get.length == 2)
    assert(math.abs(imp.get.sum - 1.0) < 1e-6)
  }
}

/** Tiny helpers for unsupervised evaluation in tests. */
object Metrics2 {
  def recallPrecision(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
    val r = df.agg(
      sum(when(col("is_anomaly") && col("label") === 1, 1L).otherwise(0L)),
      sum(when(col("label") === 1, 1L).otherwise(0L)),
      sum(when(col("is_anomaly"), 1L).otherwise(0L))).head
    val tp = r.getLong(0).toDouble
    (tp / math.max(r.getLong(1), 1L), tp / math.max(r.getLong(2), 1L))
  }
}
