package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

/** Windowed unsupervised detector — the M1 capability (reference: LSTM
  * autoencoder reconstruction error over stride-1 windows,
  * `Backend/ML_models/lstm.py:14-388`) delivered with Spark-native windowed
  * statistics instead of a neural net:
  *
  *   score(row) = Σ_f z_f²  where z_f = (x_f − rollmean_f) / rollstd_f over
  *   the trailing L rows; threshold = p95 (A6) of scores on the calibration
  *   tail of the training split (reference uses the last 20%,
  *   `lstm.py:128-147`); first L−1 rows have no full window ⇒ never flagged
  *   (W6 warm-up parity by construction).
  *
  * Everything is window aggregates + expressions: whole-stage codegen
  * throughout, no model state to broadcast. With a `seriesCol` the window
  * partitions on the series key (one keyed shuffle). WITHOUT one, scoring
  * no longer funnels into a single-task global window: the frame is blocked
  * into ~P contiguous rank ranges with the previous block's last L−1 rows
  * replicated as context ([[graft.window.Sequencer.blockedByRank]]), so the
  * rolling window partitions by block and sees exactly the rows the bare
  * `Window.partitionBy()` form saw — same cells, same in-order aggregation,
  * identical scores — while every partition works in parallel.
  *
  * Time order: `tsCol`, then the job table's `id` whenever the frame
  * carries one (every job table and every `StreamJob.detectSink` batch
  * does), in the keyed window, the keyed calibration rank and the blocked
  * rank alike — distinct rows sharing a timestamp otherwise score
  * differently under another partitioning. On tie-free data the order,
  * and so every score, is the same as by `tsCol` alone.
  *
  * Given-rank path: `fit(train, rank)` / `transform(df, rank)` take the
  * frame's precomputed 1-based position in that order and its row count,
  * and the no-series path then blocks on them instead of calling
  * [[graft.ops.Ranks]] ([[graft.window.Sequencer.blockedByRank]]);
  * `jobs.BatchJob` passes `id + 1`. A keyed detector ignores the rank.
  *
  * For a cross-feature windowed-autoencoder equivalent (correlation
  * structure, not just per-feature level), see [[WindowPcaDetector]].
  */
case class WindowZScoreDetector(
    features: Seq[String],
    tsCol: String = "timestamp",
    seriesCol: Option[String] = None,
    L: Int = 10,
    calibrationFraction: Double = 0.2,
    percentile: Double = 0.95) extends AnomalyDetector {

  /** Σ_f z² over the rolling frame `w`; null while incomplete (warm-up). */
  private def zSum(w: WindowSpec): Column = {
    val full = count(lit(1)).over(w) === L
    val z2 = features.map { f =>
      val m = avg(col(f)).over(w)
      val sd = stddev_samp(col(f)).over(w)
      val z = (col(f) - m) / when(sd > 1e-12, sd).otherwise(lit(1.0))
      z * z
    }.reduce(_ + _)
    when(full, z2).otherwise(lit(null))
  }

  /** The frame's time order: `tsCol`, then `id` when the frame has one. */
  private def timeOrder(df: DataFrame): Seq[Column] =
    col(tsCol) +: graft.window.Sequencer.idTiebreak(df)

  /** Input frame + `__s` score column. The no-series path returns the
    * blocked frame WITH `__rn`/`__n` (global position / total) still
    * attached — [[fit]] reuses them for the calibration tail; `transform`
    * drops them. */
  private[ml] def scoredFrame(df: DataFrame, rank: Option[(Column, Long)]): DataFrame =
    seriesCol match {
      case Some(c) =>
        df.withColumn("__s", zSum(Window.partitionBy(col(c)).orderBy(timeOrder(df): _*)
          .rowsBetween(-(L - 1), Window.currentRow)))
      case None =>
        val b = graft.window.Sequencer.blockedByRank(df, timeOrder(df), L, rank)
        val w = Window.partitionBy(col("__blk")).orderBy(col("__rn"))
          .rowsBetween(-(L - 1), Window.currentRow)
        b.withColumn("__s", zSum(w))
          .filter(!col("__ctx"))
          .drop("__blk", "__ctx")
    }

  def fit(train: DataFrame): FittedDetector = fit(train, None)

  /** [[fit]] with `train`'s precomputed (position, total) in time order. */
  def fit(train: DataFrame, rank: Option[(Column, Long)]): FittedWindowZScore = {
    // calibration = most-recent fraction of the scored rows (W4 parity)
    val scored = scoredFrame(train, rank).filter(col("__s").isNotNull)
    val cal = seriesCol match {
      case Some(c) =>
        scored.withColumn("__pr",
            percent_rank().over(Window.partitionBy(col(c)).orderBy(timeOrder(train): _*)))
          .filter(col("__pr") >= 1.0 - calibrationFraction)
      case None =>
        // percent_rank twin from the global rank already on the blocked
        // frame: among scored rows (rn ≥ L), pr = (rn−L)/(n−L) — no
        // unpartitioned window anywhere in the fit
        scored.filter((col("__rn") - L).cast("double") >=
          (lit(1.0) - calibrationFraction) * (col("__n") - L))
    }
    FittedWindowZScore(this,
      cal.agg(expr(s"percentile(__s, $percentile)")).head.getDouble(0))
  }
}

case class FittedWindowZScore(cfg: WindowZScoreDetector, threshold: Double)
    extends FittedDetector {
  def transform(df: DataFrame): DataFrame = transform(df, None)

  /** [[transform]] with `df`'s precomputed (position, total) in time order. */
  def transform(df: DataFrame, rank: Option[(Column, Long)]): DataFrame = {
    val scored = cfg.seriesCol match {
      case Some(_) => cfg.scoredFrame(df, rank)
      case None    => cfg.scoredFrame(df, rank).drop("__rn", "__n")
    }
    scored.withColumn("anomaly_score", col("__s")).drop("__s")
      .withColumn("is_anomaly",
        coalesce(col("anomaly_score") > threshold, lit(false)))
  }

  /** Score a flattened-window frame ([[graft.window.Sequencer.flattenWindows]]
    * columns `<f>_tm<j>`) — the same Σ_f z² as [[transform]], but computed
    * from the window's own lag cells instead of a window function. Pure
    * per-row expressions (no shuffle), so per-timestep XAI can perturb a
    * single (feature, lag) cell and re-score; on a complete window the score
    * is identical to the windowed form up to float association order. */
  def transformFlat(flat: DataFrame): DataFrame = {
    val z2 = cfg.features.map { f =>
      val cells = (0 until cfg.L).map(j => col(s"${f}_tm$j"))
      val m = cells.reduce(_ + _) / lit(cfg.L.toDouble)
      val variance = cells.map(v => (v - m) * (v - m)).reduce(_ + _) /
        lit((cfg.L - 1).toDouble)
      val sd = sqrt(variance)
      val z = (col(s"${f}_tm0") - m) / when(sd > 1e-12, sd).otherwise(lit(1.0))
      z * z
    }.reduce(_ + _)
    flat.withColumn("anomaly_score", z2)
      .withColumn("is_anomaly",
        coalesce(col("anomaly_score") > threshold, lit(false)))
  }
}
