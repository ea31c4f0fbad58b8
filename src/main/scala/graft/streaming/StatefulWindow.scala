package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Stateful streaming window scoring (closes the documented T3 gap: plain
  * `foreachBatch` loses rolling-window context at micro-batch boundaries).
  *
  * A [[KeyedFold]] keyed on the series carries the trailing L−1 rows
  * across batches, so every streamed row is scored over exactly the
  * same trailing-L window as batch mode ([[graft.ml.WindowZScoreDetector]]):
  * score = Σ_f z_f², z = (x − mean)/max(stddev_samp, guard), warm-up rows
  * (fewer than L trailing rows, including across batch boundaries) are
  * never flagged.
  *
  * State per key is L−1 rows × F doubles — constant-size, spill-free at any
  * stream length; keys scale horizontally. Rows are ordered by event time
  * under the [[KeyedFold]] arrival contract (for out-of-order sources add
  * a watermark-delayed sorter upstream).
  */
object StatefulWindow {

  case class InRow(series: String, tsMicros: Long, features: Seq[Double])
  case class Scored(series: String, tsMicros: Long,
                    anomaly_score: Option[Double], is_anomaly: Boolean)
  case class WinState(rows: Seq[(Long, Seq[Double])])

  /** Batch-exact z² score of the LAST row of `win` over the whole window.
    * Bit-faithful to [[graft.ml.WindowZScoreDetector]]'s expression: the
    * mean replicates Spark's `avg` (sequential sum / count) and the std
    * replicates `stddev_samp`'s Welford central-moment update in row
    * order — a textbook two-pass std differs in final ULPs, which flips
    * flags for scores at the p-quantile threshold knife edge. */
  private def z2(win: Seq[Seq[Double]]): Double = {
    val n = win.length
    val f = win.head.length
    var total = 0.0
    var j = 0
    while (j < f) {
      // Spark avg(): left-to-right sum, then divide
      var s = 0.0; var i = 0
      while (i < n) { s += win(i)(j); i += 1 }
      val mean = s / n
      // Spark stddev_samp(): Welford M2 in row order
      var wMean = 0.0; var m2 = 0.0; var cnt = 0.0; i = 0
      while (i < n) {
        val x = win(i)(j)
        cnt += 1.0
        val delta = x - wMean
        wMean += delta / cnt
        m2 += delta * (x - wMean)
        i += 1
      }
      val sd = math.sqrt(m2 / (n - 1))
      val denom = if (sd > 1e-12) sd else 1.0
      val z = (win(n - 1)(j) - mean) / denom
      total += z * z; j += 1
    }
    total
  }

  /** Score a stream with exact trailing-L windows carried across batches.
    * Input needs `seriesCol`, timestamp `tsCol`, and the feature columns;
    * output: (series, tsMicros, anomaly_score, is_anomaly). */
  def score(stream: DataFrame, features: Seq[String], seriesCol: String,
            tsCol: String, L: Int, threshold: Double): Dataset[Scored] =
    KeyedFold.keyedSortedFold(
      stream.select(col(seriesCol).cast("string").as("series"),
        (col(tsCol).cast("double") * 1000000.0).cast("long").as("tsMicros"),
        array(features.map(f => col(f).cast("double")): _*).as("features")),
      KeyedFold[String, InRow, WinState, Scored](_.series, WinState(Seq.empty),
        Ordering.by((r: InRow) => r.tsMicros), (key, st, r, emit) => {
          val window =
            (st.rows.toVector :+ ((r.tsMicros, r.features))).takeRight(L)
          val sc = if (window.length == L) Some(z2(window.map(_._2))) else None
          emit(Scored(key, r.tsMicros, sc, sc.exists(_ > threshold)))
          Some(WinState(window.takeRight(L - 1)))
        }))
}
