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
    assert(api.getInjectionMethods == Seq("spike", "lowered", "step", "offline", "custom"))
    assert(api.getDatasetColumns(csvPath) == Seq("t", "x", "y", "lbl"))

    val imported = api.importDataset(csvPath)
    assert(api.getDatasets.nonEmpty)

    val summary = api.runBatch("apitest", imported, "t", Some("lbl"),
      "decision_tree", Seq("x", "y"))
    assert(summary.status == "completed" && summary.rows == 600)
    assert(summary.metricsAll("accuracy") > 0.9)

    assert(api.getAllJobs.contains("job_batch_apitest"))
    assert(!api.getRunning.contains("job_batch_apitest")) // scored table exists
    assert(api.getColumns("apitest") ==
      Seq("timestamp", "x", "y", "label", "id"))
    assert(api.getData("apitest").count() == 600)

    api.cancelJob("apitest")
    assert(!api.getAllJobs.contains("job_batch_apitest"))
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
