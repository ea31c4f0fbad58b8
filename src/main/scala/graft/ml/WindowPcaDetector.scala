package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.linalg.DenseMatrix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.window.Sequencer

/** M1's cross-feature capability substitute (SURVEY §2.10 option (a)): a
  * windowed AUTOENCODER equivalent. The reference's LSTM autoencoder
  * (`Backend/ML_models/lstm.py:14-388`) learns the joint structure of
  * stride-1 windows and scores reconstruction error; here the window is
  * flattened to L·F scalar lag cells
  * ([[graft.window.Sequencer.flattenWindows]]) and the "autoencoder" is
  * scale → PCA(k) → reconstruction error ([[PcaDetector]]'s machinery) —
  * a linear autoencoder over the window, which DOES capture cross-feature
  * and cross-lag correlation that [[WindowZScoreDetector]]'s independent
  * per-feature rolling z cannot (a correlation break between two features
  * whose marginals stay in range is invisible to z, loud in PCA residual).
  *
  * Contract parity with the reference: threshold = `percentile` (p95) of
  * reconstruction error on the most-recent `calibrationFraction` of the
  * training windows (`lstm.py:128-147`'s 80/20 threshold split);
  * `transform` flags every input row, warm-up rows (no complete window)
  * score null and are never flagged (W6).
  *
  * Scale shape: fit is one flatten (blocked, no single-task window) + one
  * MLlib pipeline fit + one percentile agg; scoring broadcasts only the
  * d×k principal matrix and is per-row (`PcaDetector.scoreFrame`). The
  * calibration tail uses [[graft.ops.Ranks]]' two-pass rank, not an
  * unpartitioned `percent_rank`. Windows and the calibration tail order
  * by `tsCol`, then the job table's `id` when the frame has one (as
  * [[WindowZScoreDetector]] does), so tied timestamps have one order.
  *
  * Oracle gate: `w30_window_pca_score` (queries/Curate.scala) runs this
  * detector's score-pipeline seams — the same `flattenWindows` lag
  * cells, centering, project→reconstruct→residual formula (the
  * [[PcaDetector.scoreFrame]] arithmetic), calibration-tail
  * thresholding, and the warm-up null-score contract — against a DuckDB
  * twin, with a deterministic dyadic projection standing in for the
  * MLlib-fitted basis (SVD is float-order-dependent and not
  * SQL-expressible; every seam around it is exactly gated).
  */
case class WindowPcaDetector(
    features: Seq[String],
    tsCol: String = "timestamp",
    seriesCol: Option[String] = None,
    L: Int = 10,
    k: Int = 4,
    calibrationFraction: Double = 0.2,
    percentile: Double = 0.95) extends AnomalyDetector {

  private[ml] def lagNames: Seq[String] =
    for (f <- features; j <- 0 until L) yield s"${f}_tm$j"

  /** Inner model over the flattened lag cells (its `nu` is unused — the
    * threshold here comes from the calibration tail). */
  private[ml] def inner: PcaDetector = PcaDetector(lagNames, k)

  def fit(train: DataFrame): FittedDetector = {
    val flat = Sequencer.flattenWindows(train, seriesCol, tsCol, features, L,
      orderTiebreak = Sequencer.idTiebreak(train))
    val (model, pc) = inner.fitPipeline(flat)
    val scored = inner.scoreFrame(model.transform(flat), pc)
    val cal = calibrationTail(scored)
    val thr = cal.agg(expr(s"percentile(__err, $percentile)")).head.getDouble(0)
    FittedWindowPca(this, model, pc, thr)
  }

  /** Most-recent `calibrationFraction` of scored windows (W4 parity). */
  private def calibrationTail(scored: DataFrame): DataFrame = {
    val order = col(tsCol) +: Sequencer.idTiebreak(scored)
    seriesCol match {
      case Some(c) =>
        scored.withColumn("__pr", percent_rank()
            .over(Window.partitionBy(col(c)).orderBy(order: _*)))
          .filter(col("__pr") >= 1.0 - calibrationFraction)
      case None =>
        graft.ops.Ranks
          .globalRowNumberWithTotal(scored, order, "__rn", "__n")
          .filter((col("__rn") - 1).cast("double") >=
            (lit(1.0) - calibrationFraction) * (col("__n") - 1))
    }
  }
}

case class FittedWindowPca(cfg: WindowPcaDetector, model: PipelineModel,
                           pc: DenseMatrix, threshold: Double)
    extends FittedDetector {
  def transform(df: DataFrame): DataFrame = {
    val flat = Sequencer.flattenWindows(df, cfg.seriesCol, cfg.tsCol,
      cfg.features, cfg.L, orderTiebreak = Sequencer.idTiebreak(df),
      keepIncomplete = true)
    // warm-up rows carry null lag cells → assembler keeps NaN → NaN error;
    // the window_complete mask turns that into the null-score contract
    val scored = cfg.inner.scoreFrame(model.transform(flat), pc)
    scored
      .withColumn("anomaly_score",
        when(col("window_complete"), col("__err")))
      .withColumn("is_anomaly",
        coalesce(col("anomaly_score") > threshold, lit(false)))
      .drop(cfg.lagNames: _*)
      .drop("__fvec", "__scaled", "__pc", "__err", "window_complete")
  }
}
