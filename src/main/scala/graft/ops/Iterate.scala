package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The synchronous round loop of the iterative operators ([[Components]],
  * [[PageRank]], [[Bfs]], [[KCore]], [[Lpa]], `Xai.geneticCounterfactuals`)
  * and the only code that knows the round-materialization policy: round
  * r reads only round r−1's state, and each round's output is
  * `localCheckpoint()`ed — one Spark job per round, and the lineage stays
  * bounded instead of re-running every earlier round. `init` is never
  * checkpointed here: callers pass it materialized, or lazy when round
  * 1's job may compute it. */
object Iterate {

  /** The boolean column an [[untilStable]] step sets on changed rows. */
  val Changed = "__changed"

  /** `n` rounds of `step` from `init`; `n = 0` returns `init`. */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((state, _) => step(state).localCheckpoint())

  /** Rounds of `step` until no row is marked [[Changed]] (the column is
    * dropped from the state the next round reads). The count rides the
    * round's checkpoint job via `observe` (optimization r13, guide §1.5:
    * a separate count would be a second job per round); eager
    * `localCheckpoint` runs through `withAction`, so the observation
    * resolves when that job ends, and `coalesce` covers the null sum of
    * an empty state. Convergence is REQUIRED: a silent stop would hand
    * back an unconverged state (for [[Components]], non-minimal labels —
    * a wrong dedup representative), so rows still changing after
    * `maxIter` rounds throw `IllegalStateException`. */
  def untilStable(init: DataFrame, maxIter: Int, what: String)(
      step: DataFrame => DataFrame): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    @annotation.tailrec
    def loop(state: DataFrame, round: Int): DataFrame = {
      val obs = Observation()
      val next = step(state)
        .observe(obs, coalesce(sum(when(col(Changed), 1L).otherwise(0L)),
          lit(0L)).as("n_changed"))
        .localCheckpoint()
        .drop(Changed)
      val changed = obs.get("n_changed").asInstanceOf[Long]
      if (changed == 0L) next
      else if (round == maxIter) throw new IllegalStateException(
        s"$what did not converge in $maxIter rounds ($changed rows still " +
          "changing) — raise maxIter")
      else loop(next, round + 1)
    }
    loop(init, 1)
  }
}
