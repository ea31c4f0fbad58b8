package graft.api

import graft.SparkSpec
import graft.inject.AnomalySetting
import graft.jobs.XaiConfig
import java.nio.file.Files

class EngineApiSpec extends SparkSpec {

  private lazy val csvPath: String = {
    val rng = new scala.util.Random(3)
    val sb = new StringBuilder("t,x,y,lbl\n")
    (0 until 600).foreach { i =>
      val anom = i % 29 == 7
      val x = if (anom) 400.0 + rng.nextGaussian() else 50.0 + rng.nextGaussian()
      sb.append(s"${1704067200 + i * 60},$x,${rng.nextGaussian()},${if (anom) 1 else 0}\n")
    }
    val f = Files.createTempFile("graft_api", ".csv")
    Files.writeString(f, sb.toString); f.toString
  }

  test("13-verb surface: run-batch → discovery → get-data → cancel") {
    val api = new EngineApi(spark, Files.createTempDirectory("graft_ds").toString)
    assert(api.getModels.contains("decision_tree"))
    assert(api.getInjectionMethods ==
      Seq("spike", "lowered", "step", "offline", "custom", "drift", "seasonal"))
    assert(api.getDatasetColumns(csvPath) == Seq("t", "x", "y", "lbl"))

    val imported = api.importDataset(csvPath)
    assert(api.getDatasets.nonEmpty)

    // one setting per advertised method, each on its own 3-row window
    val injections = api.getInjectionMethods.zipWithIndex.map { case (m, k) =>
      AnomalySetting(m, 1704067200L + 60 * (50 + 80 * k), durationSec = 180,
        columns = Seq("x"))
    }
    val summary = api.runBatch("apitest", imported, "t", Some("lbl"),
      "decision_tree", Seq("x", "y"), injections)
    assert(summary.status == "completed" && summary.rows == 600)
    assert(summary.injectedRows > 0, summary.toString)
    assert(summary.metricsAll("accuracy") > 0.9)

    assert(api.getAllJobs.contains("job_batch_apitest"))
    assert(!api.getRunning.contains("job_batch_apitest")) // scored table exists
    assert(api.getColumns("apitest") ==
      Seq("timestamp", "x", "y", "label", "id"))
    assert(api.getData("apitest").count() == 600)

    api.cancelJob("apitest")
    assert(!api.getAllJobs.contains("job_batch_apitest"))
  }

  test("run-batch runs every model get-models advertises") {
    val api = new EngineApi(spark, Files.createTempDirectory("graft_ds").toString)
    api.getModels.foreach { m =>
      val job = s"model_$m"
      try {
        val s = api.runBatch(job, csvPath, "t", Some("lbl"), m, Seq("x", "y"))
        assert(s.status == "completed" && s.rows == 600, s"$m: $s")
        assert(s.metricsAll("total_predictions") == 600, s"$m: ${s.metricsAll}")
        assert(s.flaggedRows == s.metricsAll("tp") + s.metricsAll("fp"), s"$m: $s")
      } finally api.cancelJob(job)
    }
  }

  test("decision tree on a spike injected into one column ranks that column " +
      "first by permutation importance") {
    // an unlabeled, anomaly-free series: the injected rows are the labels
    val rng = new scala.util.Random(11)
    val sb = new StringBuilder("time,reading,aux\n")
    (0 until 2000).foreach { i =>
      sb.append(s"${1704067200 + i},${50 + 10 * math.sin(i / 40.0) + rng.nextGaussian()},${rng.nextGaussian()}\n")
    }
    val csv = Files.createTempFile("graft_api_clean", ".csv")
    Files.writeString(csv, sb.toString)
    val api = new EngineApi(spark, Files.createTempDirectory("graft_ds").toString)
    val feats = Seq("reading", "aux")
    val inj = AnomalySetting("spike", 1704067200L + 1000, durationSec = 120,
      magnitude = 5.0, percentage = 90.0, columns = Seq("reading"))
    try {
      val s = api.runBatch("dt_spike", csv.toString, "time", None, "decision_tree",
        feats, Seq(inj), Some(XaiConfig(feats)))
      assert(s.injectedRows > 80, s.toString)
      assert(s.metricsAll("recall_tpr") > 0.5, s.metricsAll.toString)
      assert(s.xaiNdcg("permutation_importance") == 1.0, s.xaiImportance.toString)
    } finally api.cancelJob("dt_spike")
  }

  test("run-batch runs every XAI method get-xai-methods advertises") {
    val api = new EngineApi(spark, Files.createTempDirectory("graft_ds").toString)
    val feats = Seq("x", "y")
    val inj = Seq(AnomalySetting("spike", 1704067200L + 60 * 300, durationSec = 60 * 40,
      magnitude = 6.0, percentage = 80.0, columns = Seq("y")))
    api.getXaiMethods.foreach { m =>
      // per-timestep attribution needs a windowed detector; the other
      // methods perturb and re-score single rows
      val model = if (m == "per_timestep_importance") "window_zscore" else "pca_oneclass"
      val job = s"xai_$m"
      try {
        val s = api.runBatch(job, csvPath, "t", Some("lbl"), model, feats, inj,
          Some(XaiConfig(feats, Seq(m))))
        assert(s.xaiImportance.get(m).map(_.keySet) == Some(feats.toSet), s"$m: $s")
        assert(s.xaiNdcg.contains(m), s"$m: ${s.xaiNdcg}")
      } finally api.cancelJob(job)
    }
  }
}
