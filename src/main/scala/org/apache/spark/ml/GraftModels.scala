package org.apache.spark.ml

import org.apache.spark.ml.util.HasTrainingSummary

/** A fitted logistic regression or linear SVC keeps its training summary,
  * which holds the SparkSession, and its `transform` UDFs capture the model.
  * Once the session has run an `Observation` it no longer serializes, so the
  * UDFs' tasks fail "Task not serializable". `setSummary` is `private[ml]`. */
object GraftModels {
  /** `model` with every stage's training summary dropped. */
  def withoutSummaries(model: PipelineModel): PipelineModel = {
    model.stages.foreach {
      case s: HasTrainingSummary[_] => s.setSummary(None)
      case _ =>
    }
    model
  }
}
