package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.JobLedger
import graft.eval.Metrics
import graft.inject.{AnomalySetting, Injector}
import graft.ingest.Ingest
import graft.ml.{AnomalyDetector, FittedDetector, FittedSupervised,
  FittedWindowZScore, WindowZScoreDetector}
import graft.window.Sequencer
import graft.xai.{Lime, Xai}

/** Per-job run summary (S15; reference writes `/data/<job>/logfile`,
  * `Backend/execute_calls.py:870-903`). */
case class RunSummary(
    job: String,
    status: String,
    rows: Long,
    injectedRows: Long,
    flaggedRows: Long,
    metricsTest: Map[String, Double],
    metricsAll: Map[String, Double],
    timingsSec: Map[String, Double],
    xaiImportance: Map[String, Map[String, Double]] = Map.empty,
    xaiNdcg: Map[String, Double] = Map.empty,
    cvMetrics: Map[String, Double] = Map.empty)

/** XAI stage configuration (X1 parity: the reference's `xai_params`,
  * `Frontend/callbacks.py:1665-1708`). */
case class XaiConfig(
    features: Seq[String],
    methods: Seq[String] = Seq("permutation_importance"),
    ndcgK: Int = 3,
    nInstances: Int = 10)

/** The `run-batch` lifecycle (SURVEY §3.1) as one declarative driver-side
  * flow: normalize → inject → persist job table → temporal split → fit →
  * detect → flag write-back → metrics → summary. Each stage is a DataFrame
  * transformation. A frame that more than one action reads (the job
  * table, the scored frame) is materialized once with `localCheckpoint()`,
  * and the counts the summary needs ride that same job through `observe`:
  * the job table's row and injection counts, the scored frame's flag
  * count and its A3/A4 confusion counts (test split and all rows), from
  * which `Metrics.confusionHost` derives the metrics. Each importance frame
  * has one reader, its `collect` (one row per feature); NDCG scores the
  * collected rows (`Xai.ndcgVsInjected`). `per_timestep_importance`
  * collects its F·L unsorted (feature, lag) means instead and sums each
  * feature's lags on the host (`Xai.aggregateTimestepsHost`), so it runs
  * no sort. No action re-runs a frame's lineage, and the driver only
  * collects counts, the importance rows and bounded model state. Each
  * stage's Spark jobs carry the description `graft:<job>:<stage>`,
  * stage ∈ {simulation, training, detection, evaluation, xai}.
  *
  * One order: `Ingest.normalize` makes `id` a 0-based dense rank over
  * `(timestamp, measures…, label)` — unique by construction, since it is a
  * row number — and injection rewrites values only, so the time order
  * `(timestamp, id)` IS the `id` order. Every global-order consumer (the
  * split, the windowed detector's fit and transform, the per-timestep XAI
  * windows) takes `id + 1` as its rank and the row count as its total
  * instead of re-ranking the table. The job-table checkpoint checks the
  * precondition it can see for free, `min(id) = 0` and
  * `max(id) = rows − 1`. */
object BatchJob {

  /** One XAI method: the scored frame (checkpointed, with `split`,
    * `anomaly_score`, `is_anomaly`), the fitted model, the stage config
    * and the frame's (rank, total) in time order → the collected
    * (feature, importance) rows. */
  private type Explainer =
    (DataFrame, FittedDetector, XaiConfig, (Column, Long)) => Seq[(String, Double)]

  /** The rows of a (feature, importance) frame, one per feature. */
  private def importanceRows(df: DataFrame): Seq[(String, Double)] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq

  private val explainers: Seq[(String, Explainer)] = Seq(
    ("permutation_importance", (detected, fitted, cfg, _) =>
      importanceRows(Xai.permutationImportance(detected, fitted, cfg.features))),
    ("nun_counterfactuals", (detected, _, cfg, _) => {
      val anoms = detected.filter(col("is_anomaly")).limit(cfg.nInstances)
      val normals = detected.filter(!col("is_anomaly")).limit(500)
      importanceRows(Xai.counterfactualImportance(
        Xai.nunCounterfactuals(anoms, normals, cfg.features), cfg.features))
    }),
    ("lime", (detected, fitted, cfg, _) => {
      // X3: a local linear surrogate around each of up to nInstances
      // flagged rows, mean |weight| per feature
      val anoms = detected.filter(col("is_anomaly")).limit(cfg.nInstances)
      importanceRows(Lime.importance(detected.sparkSession,
        Lime.explain(anoms, detected, fitted, cfg.features), cfg.features))
    }),
    ("per_timestep_importance", (detected, fitted, cfg, rank) => {
      // X2 over sequences: per-(feature, lag) occlusion attribution on
      // flattened windows of the labeled anomalies (xai_runner.py:197-308).
      // Its F·L (feature, lag) means are collected unsorted and reduced to
      // base features on the host: no sort, no second aggregate
      val fz = fitted match {
        case f: FittedWindowZScore => f
        case _ => throw new IllegalArgumentException(
          "per_timestep_importance requires a windowed detector (M1)")
      }
      val flat = Sequencer.flattenWindows(
        detected.drop("anomaly_score", "is_anomaly", "split"),
        fz.cfg.seriesCol, "timestamp", cfg.features, fz.cfg.L,
        orderTiebreak = Seq(col("id")), rank = Some(rank))
      Xai.aggregateTimestepsHost(Xai.perTimestepImportance(
          flat.filter(col("label") === 1), fz.transformFlat,
          cfg.features, fz.cfg.L)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq)
    }),
    ("random_counterfactuals", (detected, fitted, cfg, _) => {
      // X4 'random' DiCE mode; needs a per-row scorer, so windowed
      // detectors should use per_timestep_importance instead
      val clean = detected.drop("anomaly_score", "is_anomaly")
      val anoms = detected.filter(col("is_anomaly")).limit(cfg.nInstances)
        .drop("anomaly_score", "is_anomaly")
      importanceRows(Xai.counterfactualImportance(Xai.randomCounterfactuals(
        anoms, clean, fitted.transform, cfg.features), cfg.features))
    }),
    ("genetic_counterfactuals", (detected, fitted, cfg, _) => {
      // X4 'genetic' DiCE mode: evolved validity/proximity/sparsity
      val clean = detected.drop("anomaly_score", "is_anomaly")
      val anoms = detected.filter(col("is_anomaly")).limit(cfg.nInstances)
        .drop("anomaly_score", "is_anomaly")
      importanceRows(Xai.counterfactualImportance(Xai.geneticCounterfactuals(
        anoms, clean, fitted.transform, cfg.features), cfg.features))
    }))

  /** The XAI method names [[run]] accepts in `XaiConfig.methods`. */
  val xaiMethods: Seq[String] = explainers.map(_._1)

  def run(spark: SparkSession,
          jobName: String,
          raw: DataFrame,
          timeColumn: String,
          labelColumn: Option[String],
          injections: Seq[AnomalySetting],
          detector: AnomalyDetector,
          trainRatio: Double = 0.85,
          persistTable: Boolean = true,
          xai: Option[XaiConfig] = None): RunSummary =
    runScored(spark, jobName, raw, timeColumn, labelColumn, injections,
      detector, trainRatio, persistTable, xai)._1

  /** [[run]], also returning the scored frame (the job table with
    * `split`, `anomaly_score` and `is_anomaly`; checkpointed) and the
    * fitted model. */
  private[graft] def runScored(spark: SparkSession,
                               jobName: String,
                               raw: DataFrame,
                               timeColumn: String,
                               labelColumn: Option[String],
                               injections: Seq[AnomalySetting],
                               detector: AnomalyDetector,
                               trainRatio: Double,
                               persistTable: Boolean,
                               xai: Option[XaiConfig])
      : (RunSummary, DataFrame, FittedDetector) = {
    def now() = System.nanoTime()
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val t0 = now()
    def stage[T](name: String)(body: => T): T =
      JobLedger.tagged(spark.sparkContext, s"graft:$jobName:$name")(body)
    def timed[T](name: String)(body: => T): T = {
      val t = now()
      val out = stage(name)(body)
      timings += name -> (now() - t) / 1e9
      out
    }
    // `df` checkpointed, with the counts `aggs` taken in the same job. The
    // observation is unnamed: a named one is matched by name across the
    // session, so two runs at once would mix their counts
    def observed(df: DataFrame, aggs: Column*): (DataFrame, Map[String, Long]) = {
      val obs = Observation()
      val cp = df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint()
      (cp, obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] })
    }

    // ingest + inject (the reference's "simulation" stage)
    val table = s"job_batch_$jobName"
    val (data, rows, injectedRows) = timed("simulation") {
      val normalized = Ingest.normalize(raw, timeColumn, labelColumn)
      val injected =
        if (injections.isEmpty) normalized
        else Injector.injectAll(normalized, "id", "timestamp", injections)
      if (persistTable) Ingest.writeJobTable(injected, table)
      val (d, n) = observed(if (persistTable) spark.table(table) else injected,
        count(lit(1)).as("rows"), count_if(col("injected_anomaly")).as("injected"),
        min(col("id")).as("id_min"), max(col("id")).as("id_max"))
      require(n("rows") == 0 || (n("id_min") == 0 && n("id_max") == n("rows") - 1),
        s"job table ids span [${n("id_min")}, ${n("id_max")}] over ${n("rows")} " +
          "rows: not Ingest.normalize's 0-based rank")
      (d, n("rows"), n("injected"))
    }
    // (timestamp, id) order = id order: id + 1 is every row's global rank
    val rank = col("id") + 1
    val nTrain = Sequencer.trainRows(rows, trainRatio)

    // W3 temporal split (a narrow projection over the job table) + training
    val (split, fitted) = timed("training") {
      val split = Sequencer.temporalSplit(data, Seq(col("timestamp"), col("id")),
        trainRatio, Some((rank, rows)))
      val train = split.filter(col("split") === "train")
      (split, detector match {
        case z: WindowZScoreDetector => z.fit(train, Some((rank, nTrain)))
        case d                       => d.fit(train)
      })
    }

    // detection on the full table (reference detects test + all). The
    // A3/A4 confusion counts, on the test split and on everything (needs a
    // label), ride the checkpoint's job next to `flagged`
    val labeled = split.columns.contains("label")
    val (detected, counts) = timed("detection") {
      val scored = fitted match {
        case f: FittedWindowZScore => f.transform(split, Some((rank, rows)))
        case f                     => f.transform(split)
      }
      val pred = col("is_anomaly")
      val actual = col("label") === 1
      val cells = if (!labeled) Nil else Seq("tp" -> (pred && actual),
        "tn" -> (!pred && !actual), "fp" -> (pred && !actual), "fn" -> (!pred && actual))
      observed(scored, count_if(pred).as("flagged") +: cells.flatMap {
        case (c, cond) => Seq(count_if(cond).as(s"all_$c"),
          count_if(col("split") === "test" && cond).as(s"test_$c"))
      }: _*)
    }
    def metricsOf(part: String): Map[String, Double] =
      if (!labeled) Map.empty
      else Metrics.confusionHost(counts(s"${part}_tp"), counts(s"${part}_tn"),
        counts(s"${part}_fp"), counts(s"${part}_fn"))
    val (flagged, mTest, mAll) = (counts("flagged"), metricsOf("test"), metricsOf("all"))

    // J2 write-back: ONE overwrite of `<table>_scored` with the flag column
    // (the reference's per-PK `UPDATE` loop)
    stage("evaluation") {
      if (persistTable)
        Ingest.writeJobTable(detected.drop("split", "anomaly_score"),
          table + "_scored")
    }

    // X1/X5: in-job explanation stage + NDCG vs injected ground truth. Each
    // method returns its collected (feature, importance) rows; NDCG scores
    // them
    val (xaiImp, xaiNdcg) = xai match {
      case Some(cfg) if labeled => timed("xai") {
        val truth = injections.flatMap(_.columns).toSet
        val byName = explainers.toMap
        val results = cfg.methods.map { m =>
          val explain = byName.getOrElse(m,
            throw new IllegalArgumentException(s"xai method $m"))
          m -> explain(detected, fitted, cfg, (rank, rows))
        }
        val ndcg =
          if (truth.isEmpty) Map.empty[String, Double]
          else results.map { case (m, imp) =>
            m -> Xai.ndcgVsInjected(imp, truth, cfg.ndcgK)
          }.toMap
        (results.map { case (m, imp) => m -> imp.toMap }.toMap, ndcg)
      }
      case _ => (Map.empty[String, Map[String, Double]], Map.empty[String, Double])
    }
    timings += "total" -> (now() - t0) / 1e9

    val cvMetrics = fitted match {
      case fs: FittedSupervised => fs.cvMetrics
      case _                    => Map.empty[String, Double]
    }

    (RunSummary(jobName, "completed", rows, injectedRows, flagged,
      mTest, mAll, timings.toMap, xaiImp, xaiNdcg, cvMetrics), detected, fitted)
  }

  /** S15: persist the summary as a one-record JSON file (the reference's
    * `/data/<job>/logfile`). */
  def writeSummary(spark: SparkSession, summary: RunSummary, path: String): Unit = {
    import spark.implicits._
    Seq(summary).toDS().coalesce(1).write.mode("overwrite").json(path)
  }

  /** X6: render the run's metrics + per-method feature importances as one
    * self-contained HTML file (inline CSS bars, no script, no deps) — the
    * engine-side equivalent of the reference's importance plots
    * (`Frontend/callbacks.py` XAI figures), produced as a data artifact a
    * dashboard can serve directly. */
  def writeReport(summary: RunSummary, file: String): Unit = {
    def esc(s: String) =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def fmt(d: Double) = f"$d%.4f"
    val metricsRows = (summary.metricsTest.toSeq.sortBy(_._1).map {
      case (k, v) => s"<tr><td>test.${esc(k)}</td><td>${fmt(v)}</td></tr>"
    } ++ summary.metricsAll.toSeq.sortBy(_._1).map {
      case (k, v) => s"<tr><td>all.${esc(k)}</td><td>${fmt(v)}</td></tr>"
    }).mkString("\n")
    val methods = summary.xaiImportance.toSeq.sortBy(_._1).map {
      case (method, imp) =>
        val mx = math.max(imp.values.map(math.abs).maxOption.getOrElse(1.0), 1e-12)
        val rows = imp.toSeq.sortBy(-_._2).map { case (f, v) =>
          val pct = (math.abs(v) / mx * 100).round
          s"""<tr><td>${esc(f)}</td><td>${fmt(v)}</td>
             |<td><div style="background:#47c;height:10px;width:$pct%"></div></td></tr>"""
            .stripMargin.replace("\n", "")
        }.mkString("\n")
        val ndcg = summary.xaiNdcg.get(method)
          .map(n => s"<p>NDCG vs injected ground truth: <b>${fmt(n)}</b></p>")
          .getOrElse("")
        s"""<h2>${esc(method)}</h2>$ndcg
           |<table border="1" cellspacing="0" cellpadding="4">
           |<tr><th>feature</th><th>importance</th><th></th></tr>
           |$rows</table>""".stripMargin
    }.mkString("\n")
    val html =
      s"""<!DOCTYPE html><html><head><meta charset="utf-8">
         |<title>graft run ${esc(summary.job)}</title></head>
         |<body style="font-family:sans-serif;max-width:48em">
         |<h1>Run ${esc(summary.job)} — ${esc(summary.status)}</h1>
         |<p>rows: ${summary.rows}, injected: ${summary.injectedRows},
         |flagged: ${summary.flaggedRows}</p>
         |<h2>Metrics</h2>
         |<table border="1" cellspacing="0" cellpadding="4">$metricsRows</table>
         |$methods
         |</body></html>""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file), html)
  }
}
