package graft.queries

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.eval.Metrics
import graft.functions.Det
import graft.inject.{AnomalySetting, Injector}
import graft.window.Sequencer

/** The full `run-batch` lifecycle as ONE oracle-gated query (SURVEY §3.1;
  * reference `Backend/execute_calls.py:423-907` steps 4–6): normalize →
  * inject → temporal split → train a threshold detector on the train slice →
  * warm-up-aligned predictions on the test slice → merge-back → confusion
  * metrics. Every stage is individually oracle-green elsewhere (`i8`, `w3`,
  * `j1`, `j2`, `a3`); this row gates the SEAMS between them — the id
  * handoffs, the split boundary, the alignment offset, the merge join — where
  * a cross-stage bug could hide from the per-stage gates.
  *
  * Detector choice: p95-of-train threshold (the SQL-expressible stand-in the
  * engine's [[graft.ml.WindowDetector]] calibration also uses, w13) — so the
  * entire pipeline is reproducible as a single DuckDB CTE chain.
  *
  * Injection methods are restricted to the stat-free ones (spike, custom):
  * mean/range-based methods fold doubles in partition order, and here the
  * injected values feed a threshold COMPARISON, where one ULP flips a
  * prediction. Spike/custom are pure per-row arithmetic — bit-identical
  * cross-engine.
  *
  * Scale shape: one two-pass rank (the normalize id), one injection
  * projection over a broadcast stats row, one localCheckpoint of the
  * injected frame (its row count rides that job via `observe`), one
  * data-sized left join (id ⋈ id), two 1-row aggregates. The split and
  * the test slice's alignment rank are narrow projections of `id`:
  * normalize's id is the 0-based row number of the `(timestamp, id)`
  * order (as in `jobs.BatchJob`), so the split rank is `id + 1` and the
  * test rank is `id + 1 − nTrain`.
  */
object Lifecycle {

  // train-side spike: Jan 10 → 12 (inside the 85% train slice)
  private val trainW = (1704844800L, 1705017600L)
  // test-side custom anomaly: Jan 27 → 28 (inside the 15% test tail)
  private val testW = (1706313600L, 1706400000L)
  private val warmup = 10

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "z1_run_batch_e2e" -> ((s, dir) => {
      import s.implicits._
      // 1. normalize: stable content-derived ids (the i8 contract)
      val raw = t(s, dir, "events")
        .select(Det.epochS($"ts").as("when"), $"value", $"event_id")
      val norm = graft.ingest.Ingest.normalize(raw, "when")
      // 2. inject: spike in train, custom in test (stat-free methods only);
      // checkpointed for the split fan-out (thr, test, merge), with the
      // row count taken in the same job
      val obs = Observation()
      val inj = Injector.injectAll(norm, "id", "timestamp", Seq(
        AnomalySetting("spike", trainW._1, trainW._2 - trainW._1,
          magnitude = 3.0, percentage = 50.0, columns = Seq("value"), seed = 42L),
        AnomalySetting("custom", testW._1, testW._2 - testW._1,
          magnitude = 6.0, percentage = 40.0, columns = Seq("value"), seed = 43L)))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      val n = obs.get("n").asInstanceOf[Long]
      val nTrain = Sequencer.trainRows(n, 0.85)
      // 3. temporal 85/15 split: rank = id + 1 (see the scaladoc)
      val snap = Sequencer.temporalSplit(inj, Seq($"timestamp", $"id"), 0.85,
        Some(($"id" + 1, n)))
      // 4. "train": p95 threshold from the train slice (1-row broadcast)
      val thr = snap.filter($"split" === "train")
        .agg(round(expr("percentile(value, 0.95)"), 4).as("__thr"))
      // 5. detect + align: predictions exist only past the warm-up rank
      val preds = snap.filter($"split" === "test")
        .withColumn("__trn", $"id" + 1 - nTrain)
        .crossJoin(broadcast(thr))
        .select($"id".as("__pid"),
          ($"__trn" >= warmup && $"value" > $"__thr").as("__pred"))
      // 6. merge-back (J2): full table gets is_anomaly from the predictions
      val merged = snap.join(preds, $"id" === $"__pid", "left")
        .withColumn("is_anomaly", coalesce($"__pred", lit(false)))
      // 7. metrics + alignment checksums (flagged-id sum catches any shift)
      val conf = Metrics.confusion(merged, $"is_anomaly", $"label" === 1)
      val sums = merged.agg(
        sum(when($"is_anomaly", 1L).otherwise(0L)).as("n_flagged"),
        sum(when($"is_anomaly", $"id").otherwise(0L)).as("flagged_id_sum"))
      conf.crossJoin(sums).crossJoin(thr.select($"__thr".as("threshold")))
    }))

  def oracles: Map[String, String] = Map(
    "z1_run_batch_e2e" -> {
      val es = Det.epochSSql("ts")
      // seed layout mirrors Injector: selection at seed+colIdx*1000, u at
      // seed+7919 (custom never draws u)
      val sel1 = s"(es >= ${trainW._1} AND es < ${trainW._2} " +
        s"AND ${Det.fracSql("id", 42L)} < 0.5)"
      val u1 = Det.fracSql("id", 42L + 7919L)
      val sel2 = s"(es >= ${testW._1} AND es < ${testW._2} " +
        s"AND ${Det.fracSql("id", 43L)} < 0.4)"
      s"""WITH base AS (
         |  SELECT $es AS es, CAST(value AS DOUBLE) AS value,
         |         CAST(event_id AS DOUBLE) AS eid
         |  FROM events),
         |norm AS (
         |  SELECT es, value,
         |         row_number() OVER (ORDER BY es, value, eid) - 1 AS id
         |  FROM base),
         |inj AS (
         |  SELECT id, es,
         |    CASE WHEN $sel1 THEN value * (1.0 + 2.0 * ($u1))
         |         WHEN $sel2 THEN value * 6.0
         |         ELSE value END AS v,
         |    CASE WHEN $sel1 OR $sel2 THEN 1 ELSE 0 END AS label
         |  FROM norm),
         |spl AS (
         |  SELECT id, es, v, label,
         |    CASE WHEN row_number() OVER (ORDER BY es, id)
         |         <= floor(count(*) OVER () * 0.85)
         |      THEN 'train' ELSE 'test' END AS split
         |  FROM inj),
         |thr AS (
         |  SELECT round(quantile_cont(v, 0.95), 4) AS thr
         |  FROM spl WHERE split = 'train'),
         |tst AS (
         |  SELECT id, v, row_number() OVER (ORDER BY es, id) AS trn
         |  FROM spl WHERE split = 'test'),
         |prd AS (
         |  SELECT id, (trn >= $warmup AND v > (SELECT thr FROM thr)) AS p
         |  FROM tst),
         |mrg AS (
         |  SELECT s.id, s.label, coalesce(p.p, false) AS ia
         |  FROM spl s LEFT JOIN prd p ON s.id = p.id),
         |c AS (
         |  SELECT
         |    CAST(sum(CASE WHEN ia AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN NOT ia AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |    CAST(sum(CASE WHEN ia AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN NOT ia AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |    CAST(sum(CASE WHEN ia THEN id ELSE 0 END) AS BIGINT) AS flagged_id_sum
         |  FROM mrg)
         |SELECT tp, tn, fp, fn,
         |  CAST(tp + tn + fp + fn AS BIGINT) AS total_predictions,
         |  round(CASE WHEN tp+tn+fp+fn = 0 THEN 0.0 ELSE (tp+tn) / CAST(tp+tn+fp+fn AS DOUBLE) END, 4) AS accuracy,
         |  round(CASE WHEN tp+fp = 0 THEN 0.0 ELSE tp / CAST(tp+fp AS DOUBLE) END, 4) AS precision,
         |  round(CASE WHEN tp+fn = 0 THEN 0.0 ELSE tp / CAST(tp+fn AS DOUBLE) END, 4) AS recall_tpr,
         |  round(CASE WHEN (CASE WHEN tp+fp = 0 THEN 0.0 ELSE tp / CAST(tp+fp AS DOUBLE) END)
         |           + (CASE WHEN tp+fn = 0 THEN 0.0 ELSE tp / CAST(tp+fn AS DOUBLE) END) = 0 THEN 0.0
         |        ELSE 2 * (CASE WHEN tp+fp = 0 THEN 0.0 ELSE tp / CAST(tp+fp AS DOUBLE) END)
         |               * (CASE WHEN tp+fn = 0 THEN 0.0 ELSE tp / CAST(tp+fn AS DOUBLE) END)
         |             / ((CASE WHEN tp+fp = 0 THEN 0.0 ELSE tp / CAST(tp+fp AS DOUBLE) END)
         |              + (CASE WHEN tp+fn = 0 THEN 0.0 ELSE tp / CAST(tp+fn AS DOUBLE) END)) END, 4) AS f1_score,
         |  round(CASE WHEN tn+fp = 0 THEN 0.0 ELSE tn / CAST(tn+fp AS DOUBLE) END, 4) AS specificity_tnr,
         |  n_flagged, flagged_id_sum,
         |  (SELECT thr FROM thr) AS threshold
         |FROM c""".stripMargin
    })
}
