package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest.Ingest
import graft.inject.{AnomalySetting, Injector}
import graft.jobs.{BatchJob, RunSummary, XaiConfig}
import graft.ml._

/** The reference's 13-verb job-control surface (SURVEY §2.12;
  * `Backend/engine.py:159-406`) as a Scala facade over the session catalog —
  * no sockets: the engine embeds in the host app, serving stays outside.
  *
  * Job state: the reference tracks started/running jobs in engine lists;
  * here a job IS its catalog tables (`job_batch_<name>`, `_scored`), so
  * discovery verbs read the catalog directly — stateless and
  * restart-safe. */
class EngineApi(spark: SparkSession, datasetDir: String = "/tmp/graft_datasets") {

  /** run-batch (`engine.py:161`): full §3.1 lifecycle. */
  def runBatch(name: String, datasetPath: String, timeColumn: String,
               labelColumn: Option[String], modelName: String,
               features: Seq[String],
               injections: Seq[AnomalySetting] = Nil,
               xai: Option[XaiConfig] = None): RunSummary = {
    val raw = Ingest.readFile(spark, datasetPath)
    BatchJob.run(spark, name, raw, timeColumn, labelColumn, injections,
      detector(modelName, features), xai = xai)
  }

  /** get-models (`engine.py:332`). */
  def getModels: Seq[String] =
    Seq("decision_tree", "gbt", "logreg", "linear_svc", "isolation_forest",
      "window_zscore", "window_pca", "pca_oneclass")

  def detector(modelName: String, features: Seq[String]): AnomalyDetector =
    modelName match {
      case "isolation_forest" => IsolationForestDetector(features)
      case "window_zscore"    => WindowZScoreDetector(features)
      case "window_pca"       => WindowPcaDetector(features)
      case "pca_oneclass"     => PcaDetector(features)
      case supervised         => SupervisedDetector(features, supervised)
    }

  /** get-injection-methods (`engine.py:347`): exactly the methods
    * [[runBatch]] injects (`Injector.methods`). */
  def getInjectionMethods: Seq[String] = Injector.methods

  /** get-xai-methods (`engine.py:339`): exactly the methods [[runBatch]]
    * runs (`BatchJob.xaiMethods`). */
  def getXaiMethods: Seq[String] = BatchJob.xaiMethods

  /** get-data (`engine.py:257`): time-range scan of a job table. */
  def getData(jobName: String,
              from: Option[java.sql.Timestamp] = None,
              to: Option[java.sql.Timestamp] = None): DataFrame =
    Ingest.readRange(spark, s"job_batch_$jobName", from, to)

  /** get-all-jobs (`engine.py:372`) — catalog-backed discovery (S14). */
  def getAllJobs: Seq[String] =
    spark.catalog.listTables().collect()
      .map(_.name).filter(n => n.startsWith("job_batch_") || n.startsWith("job_stream_"))
      .filterNot(_.endsWith("_scored")).toSeq

  /** get-running: jobs whose scored table hasn't landed yet (T6 analogue). */
  def getRunning: Seq[String] =
    getAllJobs.filterNot(j => spark.catalog.tableExists(j + "_scored"))

  /** cancel-job (`engine.py:330`): drop the job's tables (S11). */
  def cancelJob(jobName: String): Unit =
    Seq(s"job_batch_$jobName", s"job_batch_${jobName}_scored",
      s"job_stream_$jobName").foreach { tbl =>
      if (spark.catalog.tableExists(tbl)) spark.sql(s"DROP TABLE $tbl")
    }

  /** get-columns (`engine.py:386`): job-table columns minus flags (S13). */
  def getColumns(jobName: String): Seq[String] =
    spark.table(s"job_batch_$jobName").schema.fieldNames
      .filterNot(Set("is_anomaly", "injected_anomaly")).toSeq

  /** get-dataset-columns (`engine.py:393`): header probe (S2). */
  def getDatasetColumns(path: String): Seq[String] = Ingest.columns(spark, path)

  /** get-datasets (`engine.py:354`): files in the dataset dir (S6). */
  def getDatasets: Seq[String] = {
    val d = new java.io.File(datasetDir)
    if (!d.isDirectory) Nil else d.listFiles().map(_.getName).sorted.toSeq
  }

  /** import-dataset (`engine.py:361`): copy into the dataset dir (S5). */
  def importDataset(srcPath: String): String = {
    val src = new java.io.File(srcPath)
    val dstDir = new java.io.File(datasetDir); dstDir.mkdirs()
    val dst = new java.io.File(dstDir, src.getName)
    java.nio.file.Files.copy(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.getPath
  }
}
