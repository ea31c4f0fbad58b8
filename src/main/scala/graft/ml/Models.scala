package graft.ml

import org.apache.spark.ml.{GraftModels, Pipeline, PipelineModel}
import org.apache.spark.ml.classification._
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{Imputer, MinMaxScaler, StandardScaler, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model layer (SURVEY §2.10). The reference's contract is
  * `ModelInterface.run(df)/detect(df)` (`Backend/ML_models/model_interface.py:3-14`)
  * plus informal `get_anomaly_score`/`predict_proba`. Here:
  * [[AnomalyDetector.fit]] returns a [[FittedDetector]] whose `transform`
  * appends `anomaly_score DOUBLE` (higher = more anomalous) and
  * `is_anomaly BOOLEAN` — predictions stay distributed columns, never
  * driver-side arrays, so detection scales with the cluster. */
trait AnomalyDetector {
  def fit(train: DataFrame): FittedDetector
}

trait FittedDetector {
  def transform(df: DataFrame): DataFrame
}

/** Supervised detectors (M4 gbt / M5 decision_tree / M6 logreg, linear_svc)
  * as one MLlib Pipeline: per-feature mean [[Imputer]] (A2) → assemble →
  * scale (F9) → weighted classifier (class_weight='balanced' parity via an
  * instance-weight column). `autoTune` wraps the estimator in a 3-fold
  * [[CrossValidator]] (reference: RandomizedSearchCV + StratifiedKFold,
  * `Backend/ML_models/decision_tree.py:91-102`). */
case class SupervisedDetector(
    features: Seq[String],
    algo: String = "decision_tree",
    labelCol: String = "label",
    scaler: String = "minmax",
    autoTune: Boolean = false,
    seed: Long = 42L) extends AnomalyDetector {

  def fit(train: DataFrame): FittedDetector = {
    val imputed = features.map(f => s"__imp_$f")
    val imputer = new Imputer().setStrategy("mean")
      .setInputCols(features.toArray).setOutputCols(imputed.toArray)
    val assembler = new VectorAssembler()
      .setInputCols(imputed.toArray).setOutputCol("__fvec")
      .setHandleInvalid("keep")
    val scalerStage = scaler match {
      case "standard" => new StandardScaler()
        .setInputCol("__fvec").setOutputCol("__scaled").setWithMean(true)
      case _ => new MinMaxScaler().setInputCol("__fvec").setOutputCol("__scaled")
    }
    val clf = algo match {
      case "decision_tree" => new DecisionTreeClassifier()
        .setFeaturesCol("__scaled").setLabelCol(labelCol)
        .setWeightCol("__w").setSeed(seed)
      case "gbt" => new GBTClassifier()
        .setFeaturesCol("__scaled").setLabelCol(labelCol)
        .setWeightCol("__w").setSeed(seed)
      case "logreg" => new LogisticRegression()
        .setFeaturesCol("__scaled").setLabelCol(labelCol).setWeightCol("__w")
      case "linear_svc" => new LinearSVC()
        .setFeaturesCol("__scaled").setLabelCol(labelCol).setWeightCol("__w")
      case other => throw new IllegalArgumentException(s"unknown algo $other")
    }

    // balanced instance weights: w_c = N / (2 * N_c)  (one tiny agg)
    val Array(nPos, nTot) = train.agg(
      sum(when(col(labelCol) === 1, 1L).otherwise(0L)), count(lit(1)))
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val nNeg = nTot - nPos
    val wPos = if (nPos > 0) nTot.toDouble / (2.0 * nPos) else 1.0
    val wNeg = if (nNeg > 0) nTot.toDouble / (2.0 * nNeg) else 1.0
    val weighted = train.withColumn("__w",
      when(col(labelCol) === 1, wPos).otherwise(wNeg))

    val stages = Array(imputer, assembler, scalerStage, clf)
    var cvMetrics = Map.empty[String, Double]
    val model: PipelineModel =
      if (!autoTune) new Pipeline().setStages(stages).fit(weighted)
      else {
        val grid = algo match {
          case "decision_tree" => new ParamGridBuilder()
            .addGrid(clf.asInstanceOf[DecisionTreeClassifier].maxDepth, Array(3, 5, 8))
            .build()
          case "gbt" => new ParamGridBuilder()
            .addGrid(clf.asInstanceOf[GBTClassifier].maxDepth, Array(3, 5))
            .build()
          case "logreg" => new ParamGridBuilder()
            .addGrid(clf.asInstanceOf[LogisticRegression].regParam, Array(0.0, 0.01, 0.1))
            .build()
          case _ => new ParamGridBuilder().build()
        }
        val cv = new CrossValidator()
          .setEstimator(new Pipeline().setStages(stages))
          .setEvaluator(new BinaryClassificationEvaluator().setLabelCol(labelCol))
          .setEstimatorParamMaps(grid).setNumFolds(3).setSeed(seed)
        val cvm = cv.fit(weighted)
        // reference parity: per-candidate CV scores land in the run summary
        cvMetrics = cvm.avgMetrics.zipWithIndex.map { case (m, i) =>
          s"cv_auc_candidate_$i" -> m
        }.toMap + ("cv_auc_best" -> cvm.avgMetrics.max)
        cvm.bestModel.asInstanceOf[PipelineModel]
      }
    FittedSupervised(GraftModels.withoutSummaries(model), algo, cvMetrics)
  }
}

case class FittedSupervised(model: PipelineModel, algo: String,
    cvMetrics: Map[String, Double] = Map.empty) extends FittedDetector {
  /** M8 score interpretation: normalize every algo to
    * `anomaly_score` = P(anomaly) (probability when available; rawPrediction
    * margin pushed through a sigmoid for hinge models, F7). */
  def transform(df: DataFrame): DataFrame = {
    val out = model.transform(df)
    val score = algo match {
      case "linear_svc" => // margin → pseudo-probability
        lit(1.0) / (lit(1.0) + exp(-element_at(vector_to_array(col("rawPrediction")), 2)))
      case _ => element_at(vector_to_array(col("probability")), 2)
    }
    out.withColumn("anomaly_score", score)
      .withColumn("is_anomaly", col("prediction") === 1.0)
      .drop("__fvec", "__scaled", "rawPrediction", "probability", "prediction")
      .drop(out.columns.filter(_.startsWith("__imp_")): _*)
  }

  /** X2 capability: native impurity-based feature importances where the
    * algo provides them. */
  def featureImportances: Option[Array[Double]] = {
    val last = model.stages.last
    last match {
      case m: DecisionTreeClassificationModel => Some(m.featureImportances.toArray)
      case m: GBTClassificationModel          => Some(m.featureImportances.toArray)
      case _                                  => None
    }
  }
}
