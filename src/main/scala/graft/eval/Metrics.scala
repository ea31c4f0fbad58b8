package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Classification metrics (SURVEY A3/A4; reference
  * `Backend/execute_calls.py:354-381`, `:811-839`) computed in ONE distributed
  * pass — a single hash aggregate with partial/final combine, vs the
  * reference's four full boolean-mask scans. Derived metrics are scalar
  * arithmetic on the 1-row result, rounded to 4 dp like the reference.
  *
  * Host twins for counts a caller already holds: [[confusionHost]] derives
  * [[confusion]]'s metrics from the four counts (`BatchJob` takes them as
  * `count_if`s on its detection checkpoint's observation), and
  * [[ndcgAtKHost]] scores one collected ranking as [[ndcgAtK]] scores a
  * group (`Xai.ndcgVsInjected` on the importance rows it collected). Each
  * gives its Spark twin's doubles bit for bit (`MetricsSpec` properties). */
object Metrics {

  /** Confusion counts + derived metrics as a 1-row DataFrame.
    * `pred`/`actual` are boolean columns. */
  def confusion(df: DataFrame, pred: Column, actual: Column): DataFrame = {
    val c = df.agg(
      sum(when(pred && actual, 1L).otherwise(0L)).as("tp"),
      sum(when(!pred && !actual, 1L).otherwise(0L)).as("tn"),
      sum(when(pred && !actual, 1L).otherwise(0L)).as("fp"),
      sum(when(!pred && actual, 1L).otherwise(0L)).as("fn"))
    val tp = col("tp"); val tn = col("tn"); val fp = col("fp"); val fn = col("fn")
    val total = tp + tn + fp + fn
    def safeDiv(n: Column, d: Column): Column = when(d === 0, 0.0).otherwise(n / d)
    val precision = safeDiv(tp, tp + fp)
    val recall = safeDiv(tp, tp + fn)
    c.select(
      tp, tn, fp, fn,
      total.as("total_predictions"),
      round(safeDiv(tp + tn, total), 4).as("accuracy"),
      round(precision, 4).as("precision"),
      round(recall, 4).as("recall_tpr"),
      round(safeDiv(lit(2) * precision * recall, precision + recall), 4).as("f1_score"),
      round(safeDiv(tn, tn + fp), 4).as("specificity_tnr"))
  }

  /** NDCG@k (SURVEY A8; reference math `Backend/utils.py:284-342`): rank items
    * by `score` desc within each group, DCG = Σ_{rank≤k} rel/log2(rank+1),
    * IDCG the same over the ideal (rel-desc) ordering, NDCG = DCG/IDCG
    * (0 when IDCG=0). `tiebreak` makes ranking deterministic.
    * Window-function implementation — no custom aggregate needed, stays in
    * whole-stage codegen, shuffles once on the group key. */
  def ndcgAtK(df: DataFrame, groupCols: Seq[String], score: Column, rel: Column,
              tiebreak: Column, k: Int): DataFrame = {
    val g = groupCols.map(col)
    df.select(g ++ Seq(score.as("__s"), rel.as("__r"), tiebreak.as("__t")): _*)
      .withColumn("__rn", row_number().over(Window.partitionBy(g: _*).orderBy(col("__s").desc, col("__t").asc)))
      .withColumn("__irn", row_number().over(Window.partitionBy(g: _*).orderBy(col("__r").desc, col("__t").asc)))
      .groupBy(g: _*)
      .agg(
        sum(when(col("__rn") <= k, col("__r") / log2(col("__rn") + 1)).otherwise(0.0)).as("__dcg"),
        sum(when(col("__irn") <= k, col("__r") / log2(col("__irn") + 1)).otherwise(0.0)).as("__idcg"))
      .select(g :+ when(col("__idcg") === 0.0, 0.0).otherwise(col("__dcg") / col("__idcg")).as(s"ndcg_$k"): _*)
  }

  /** [[confusion]]'s row, as a column name → value map, from the four
    * counts: the same safe division, `2 * precision * recall`, and Spark's
    * `round(x, 4)` (HALF_UP on `BigDecimal.valueOf`). Zero counts give the
    * zero map where [[confusion]] on an empty frame gives NULLs. */
  def confusionHost(tp: Long, tn: Long, fp: Long, fn: Long): Map[String, Double] = {
    def safeDiv(n: Double, d: Double): Double = if (d == 0) 0.0 else n / d
    def round4(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    val total = tp + tn + fp + fn
    val precision = safeDiv(tp.toDouble, (tp + fp).toDouble)
    val recall = safeDiv(tp.toDouble, (tp + fn).toDouble)
    Map("tp" -> tp.toDouble, "tn" -> tn.toDouble, "fp" -> fp.toDouble,
      "fn" -> fn.toDouble, "total_predictions" -> total.toDouble,
      "accuracy" -> round4(safeDiv((tp + tn).toDouble, total.toDouble)),
      "precision" -> round4(precision),
      "recall_tpr" -> round4(recall),
      "f1_score" -> round4(safeDiv(2 * precision * recall, precision + recall)),
      "specificity_tnr" -> round4(safeDiv(tn.toDouble, (tn + fp).toDouble)))
  }

  /** [[ndcgAtK]] of one group, on the host: `items` are (tiebreak, score,
    * rel). Ranks as Spark sorts — score desc (NaN first, -0.0 = 0.0), then
    * tiebreak asc by UTF-8 bytes — and sums the DCG and IDCG terms in
    * ideal-rank order, the row order [[ndcgAtK]]'s aggregate sees, with
    * Spark's `log2` (`StrictMath.log(x) / StrictMath.log(2)`). */
  def ndcgAtKHost(items: Seq[(String, Double, Double)], k: Int): Double = {
    val utf8: Ordering[String] = (a, b) => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sqlDesc: Ordering[Double] =
      (a, b) => if (a == b) 0 else java.lang.Double.compare(b, a)
    def rankBy(key: ((String, Double, Double)) => Double) = items.indices
      .sorted(Ordering.by((i: Int) => key(items(i)))(sqlDesc)
        .orElseBy(i => items(i)._1)(utf8))
    val byScore = rankBy(_._2)
    val rn = new Array[Int](items.size)
    byScore.zipWithIndex.foreach { case (i, r) => rn(i) = r + 1 }
    def log2(x: Double) = StrictMath.log(x) / StrictMath.log(2)
    def term(rel: Double, rank: Int) = if (rank <= k) rel / log2(rank + 1) else 0.0
    var dcg = 0.0
    var idcg = 0.0
    rankBy(_._3).zipWithIndex.foreach { case (i, r) =>
      dcg += term(items(i)._3, rn(i))
      idcg += term(items(i)._3, r + 1)
    }
    if (idcg == 0.0) 0.0 else dcg / idcg
  }
}
