package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** What one iteration produced. `rows`/`hash` identify the output (the
  * hash is order-insensitive); `quality` holds scores that must repeat
  * exactly; `layer` holds per-iteration layer readings (untraced). */
final case class Outcome(rows: Long, hash: Long,
                         quality: Map[String, Double] = Map.empty,
                         layer: Map[String, Double] = Map.empty,
                         problems: Seq[String] = Nil)

/** Per-run context: the session, the generated input dir, a scratch dir
  * for this run and a tag unique to the run (job and table names). */
final case class Ctx(spark: SparkSession, input: String, work: String, tag: String)

trait Workload {
  def name: String

  /** Input size as stated in the results. */
  def inputSize: String

  /** Writes this workload's inputs for `seed` under `dir`. */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit

  /** One iteration. Everything up to the return is timed; the returned
    * function reads back and checks the output and cleans up, untimed.
    * With `tr.enabled` the iteration runs its layer calls one by one, each
    * in a span with its output forced. */
  def run(ctx: Ctx, iter: Int, tr: Tracer): () => Outcome

  /** Once-per-run work after the loops (oracle files, scores taken in the
    * traced run). Returns extra per-layer readings. */
  def finish(ctx: Ctx): Map[String, Double] = Map.empty
}

object Check {
  /** `df` with an observation of its row count and order-insensitive hash
    * (sum of per-row xxhash64 mod a prime, so it cannot overflow). */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val cols: Seq[Column] = df.columns.toSeq.map(c => col(s"`$c`"))
    (df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L)).as("h")),
      obs)
  }

  def read(obs: Observation): (Long, Long) = {
    val m = obs.get
    (m("n").asInstanceOf[Number].longValue, m("h").asInstanceOf[Number].longValue)
  }

  /** Row count and hash of a frame, in one pass. */
  def of(df: DataFrame): (Long, Long) = {
    val (o, obs) = observed(df)
    o.write.format("noop").mode("overwrite").save()
    read(obs)
  }

  def mix(a: Long, b: Long): Long = a * 1000003L + b

  def force(df: DataFrame): DataFrame = df.localCheckpoint()
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
