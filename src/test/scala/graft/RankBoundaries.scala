package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

/** `ops.Ranks`' bucket-boundary subplans in an EXECUTED (final adaptive)
  * plan: the `BroadcastExchange`s directly over the one-row
  * `percentile_approx` aggregate that outputs `__gr_bounds`, and the
  * `ReusedExchange`s that read one. A boundary set must be computed once
  * per plan and read by every branch that buckets with it. */
object RankBoundaries extends AdaptiveSparkPlanHelper {

  private def isBounds(b: BroadcastExchangeExec): Boolean = b.child match {
    case a: BaseAggregateExec => a.output.exists(_.name == "__gr_bounds")
    case _ => false
  }

  /** The boundary broadcasts `plan` computed. */
  def computed(plan: SparkPlan): Seq[BroadcastExchangeExec] =
    collectWithSubqueries(plan) {
      case b: BroadcastExchangeExec if isBounds(b) => b
    }

  /** The reads of an already computed boundary broadcast. */
  def reused(plan: SparkPlan): Seq[ReusedExchangeExec] =
    collectWithSubqueries(plan) {
      case r @ ReusedExchangeExec(_, b: BroadcastExchangeExec) if isBounds(b) => r
    }

  /** Boundary broadcasts computed although an identical one already was
    * (0 when every repeat is a `ReusedExchange`). */
  def duplicated(plan: SparkPlan): Int = {
    val bs = computed(plan)
    bs.size - bs.foldLeft(Seq.empty[BroadcastExchangeExec]) { (uniq, b) =>
      if (uniq.exists(_.sameResult(b))) uniq else uniq :+ b
    }.size
  }
}
