package graft.inject

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Det

/** One anomaly-injection request (SURVEY §2.8; reference
  * `Backend/Simulator/DBAPI/type_classes.py:3-14`). `anomalyType` is one of
  * [[Injector.methods]]: `spike`, `lowered`, `step`, `offline`, `custom`,
  * `drift` or `seasonal` (triangle period [[Injector.SeasPeriodS]]).
  * `startEpoch` is absolute UTC seconds (the reference converts a relative
  * offset at ingest, `batchimport.py:288-346`); the span is half-open
  * `[start, start+duration)` (`anomalyinjector.py:98-108`; the stream path
  * uses a closed interval — we standardize on half-open and document the
  * divergence). */
case class AnomalySetting(
    anomalyType: String,
    startEpoch: Long,
    durationSec: Long,
    magnitude: Double = 2.0,
    percentage: Double = 100.0,
    columns: Seq[String] = Nil,
    seed: Long = 42L) {
  def endEpoch: Long = startEpoch + durationSec
}

/** Anomaly-injection operators — the reference's signature write-side
  * transform (`Backend/Simulator/AnomalyInjector/anomalyinjector.py:20-220`)
  * — as one method table and one kernel. The table gives each of the seven
  * methods (spike, lowered, step, offline, custom, drift, seasonal) its
  * value formula and whether that formula reads the selected-slice
  * mean/range. The kernel applies a setting as a single declarative
  * projection, so Catalyst fuses it into one codegen'd pass: no shuffle, no
  * driver materialization, scale-linear.
  *
  * Row selection (I6): the reference draws `percentage`% of in-span rows
  * uniformly *per column* without replacement (`anomalyinjector.py:133-146`).
  * We keep the per-column independence but derive selection from
  * [[Det.frac]] (keyed LCG of a stable row id) so results are identical on
  * any partitioning/cluster size — and reproducible by the SQL oracle.
  */
object Injector {

  /** The seasonal method's triangle period: daily. */
  val SeasPeriodS = 86400L

  /** One injection method: whether its formula reads the selected-slice
    * `mean`/`range`, and the formula over
    * `(v, u, epochS, mean, range, setting)`. `u` is a second independent
    * uniform draw for the methods that need a random factor. */
  private final case class Method(
      usesStats: Boolean,
      value: (Column, Column, Column, Column, Column, AnomalySetting) => Column)

  private val table: Seq[(String, Method)] = Seq(
    // I1: v * U(1, magnitude)   (InjectionMethods/spike.py:6-10)
    "spike" -> Method(usesStats = false, (v, u, _, _, _, s) =>
      v * (lit(1.0) + lit(s.magnitude - 1.0) * u)),
    // I2: max(v - range*U(0.3,0.4), 0), 0⇒v*f, range=0⇒mean*f
    "lowered" -> Method(usesStats = true, (v, u, _, mean, range, _) => {
      val f = lit(0.3) + lit(0.1) * u // (InjectionMethods/lowered.py:6-21)
      val base = when(range === 0.0, mean * f).otherwise(greatest(v - range * f, lit(0.0)))
      when(base === 0.0, v * f).otherwise(base)
    }),
    // I3: v + mean*magnitude      (InjectionMethods/step.py:6-9)
    "step" -> Method(usesStats = true, (v, _, _, mean, _, s) => v + mean * s.magnitude),
    // I4: 0 (the reference's intent; its impl is a no-op bug)
    "offline" -> Method(usesStats = false, (_, _, _, _, _, _) => lit(0.0)),
    // I5: v * magnitude         (InjectionMethods/custom.py:6-9)
    "custom" -> Method(usesStats = false, (v, _, _, _, _, s) => v * s.magnitude),
    // I10: linear drift, v + mean·magnitude·(es − start)/duration — the
    // gradual-ramp anomaly (concept drift) the step method cannot express,
    // and the natural test signal for the drift detectors (a27 KS, a45 PSI,
    // w28 CUSUM): a step is detected by all of them instantly, a ramp
    // separates fast alarms from slow ones. Beyond-reference.
    "drift" -> Method(usesStats = true, (v, _, epochS, mean, _, s) => {
      // CONTRACT: the ramp divides by the span — a zero-length window would
      // silently write NaN/Infinity into every selected row. Fail fast.
      require(s.endEpoch > s.startEpoch,
        s"drift needs endEpoch > startEpoch (got [${s.startEpoch}, " +
          s"${s.endEpoch}]); use step for an instantaneous anomaly")
      v + mean * s.magnitude * ((epochS - lit(s.startEpoch)).cast("double") /
        lit((s.endEpoch - s.startEpoch).toDouble))
    }),
    // I11: periodic (triangle-wave) load pattern, v + mean·magnitude·tri
    // where tri = 1 − |2·phase/period − 1| rises 0→1→0 over each period.
    // DELIBERATELY piecewise-linear rather than sinusoidal: every factor is
    // rational arithmetic on an integer phase, so the oracle reproduces it
    // bit-for-bit with no libm sin in the gate.
    "seasonal" -> Method(usesStats = true, (v, _, epochS, mean, _, s) =>
      v + mean * s.magnitude * (lit(1.0) - abs(lit(2.0) *
        (((epochS - lit(s.startEpoch)) % SeasPeriodS).cast("double") /
          lit(SeasPeriodS.toDouble)) - lit(1.0)))))

  /** The method names, in table order. */
  val methods: Seq[String] = table.map(_._1)

  private def method(anomalyType: String): Method =
    table.collectFirst { case (`anomalyType`, m) => m }.getOrElse(
      throw new IllegalArgumentException(s"unknown anomaly_type $anomalyType"))

  /** In-span predicate (P5): half-open `[start, end)` on truncated seconds. */
  def inSpan(epochS: Column, s: AnomalySetting): Column =
    epochS >= s.startEpoch && epochS < s.endEpoch

  /** Whether this (row, column-index) pair is selected for injection. */
  def selected(id: Column, epochS: Column, s: AnomalySetting, colIdx: Int): Column =
    inSpan(epochS, s) && Det.frac(id, s.seed + colIdx * 1000L) < s.percentage / 100.0

  /** The injected value for one target column: the method's table formula.
    * `mean`/`range` are the in-span column statistics (A1) the reference
    * pre-computes. Throws on an unknown method. */
  def injectedValue(v: Column, u: Column, epochS: Column, s: AnomalySetting,
                    mean: Column, range: Column): Column =
    method(s.anomalyType).value(v, u, epochS, mean, range, s)

  /** Whether [[injectedValue]] reads the selected-slice `mean`/`range` for
    * this method: `lowered` (both), `step`, `drift` and `seasonal` (mean).
    * `spike`, `custom` and `offline` are pure per-row rewrites. Throws on an
    * unknown method, as [[injectedValue]] does. */
  def usesStats(anomalyType: String): Boolean = method(anomalyType).usesStats

  private def meanCol(c: String) = s"__mean_$c"
  private def rangeCol(c: String) = s"__range_$c"

  /** The selected-slice mean and range of every target column, in
    * `columns` order: the one stats aggregate list of both paths. */
  private def statsAggs(idCol: String, tsCol: String, s: AnomalySetting): Seq[Column] = {
    val epochS = col(tsCol).cast("long")
    s.columns.zipWithIndex.flatMap { case (c, i) =>
      val sel = selected(col(idCol), epochS, s, i)
      Seq(avg(when(sel, col(c))).as(meanCol(c)),
        (max(when(sel, col(c))) - min(when(sel, col(c)))).as(rangeCol(c)))
    }
  }

  /** The kernel: rewrites each target column of `df` on its selected rows,
    * sets `injected_anomaly` and `label` on touched rows
    * (`anomalyinjector.py:156-167`) and drops the stats columns. `stats`
    * gives a target column's mean/range as Columns. */
  private def rewrite(df: DataFrame, idCol: String, tsCol: String, s: AnomalySetting,
                      stats: String => (Column, Column)): DataFrame = {
    val epochS = col(tsCol).cast("long")
    val sels = s.columns.indices.map(i => selected(col(idCol), epochS, s, i))
    val rewritten = s.columns.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val u = Det.frac(col(idCol), s.seed + 7919L + i * 1000L)
      val (mean, range) = stats(c)
      d.withColumn(c,
        when(sels(i), injectedValue(col(c), u, epochS, s, mean, range)).otherwise(col(c)))
    }
    val touched = sels.reduce(_ || _)
    def prior(name: String, absent: Column) =
      if (df.columns.contains(name)) col(name) else absent
    rewritten
      .withColumn("injected_anomaly",
        when(touched, lit(true)).otherwise(prior("injected_anomaly", lit(false))))
      .withColumn("label", when(touched, lit(1)).otherwise(prior("label", lit(0))))
      .drop(s.columns.flatMap(c => Seq(meanCol(c), rangeCol(c))): _*)
  }

  /** Apply one setting to a job DataFrame. Expects a stable numeric `idCol`
    * and a timestamp `tsCol`. For the methods that read them
    * ([[usesStats]]) the per-column mean/range (A1) are computed over the
    * *selected* slice (matching the reference, which draws the subset first
    * and derives stats from it, `anomalyinjector.py:148-154`) in one tiny
    * conditional-aggregate pass joined back by cross-join broadcast
    * (constant per setting — no per-row shuffle). The other methods build
    * no aggregate: the setting is one projection over `df`.
    */
  def inject(df: DataFrame, idCol: String, tsCol: String, s: AnomalySetting): DataFrame = {
    val withStats =
      if (!usesStats(s.anomalyType)) df
      else df.crossJoin(broadcast(df.select(statsAggs(idCol, tsCol, s): _*)))
    rewrite(withStats, idCol, tsCol, s, c => (col(meanCol(c)), col(rangeCol(c))))
  }

  /** Apply a list of settings in order (the reference iterates settings). */
  def injectAll(df: DataFrame, idCol: String, tsCol: String,
                settings: Seq[AnomalySetting]): DataFrame =
    settings.foldLeft(df)((d, s) => inject(d, idCol, tsCol, s))

  /** Selected-slice stats collected to the driver — the streaming pre-pass
    * (reference computes per-column stats on the static dataset before the
    * stream starts, `simulator.py:166-183`). */
  def staticStats(df: DataFrame, idCol: String, tsCol: String,
                  s: AnomalySetting): Map[String, (Double, Double)] = {
    val row = df.select(statsAggs(idCol, tsCol, s): _*).head
    s.columns.zipWithIndex.map { case (c, i) =>
      c -> ((if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i),
        if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)))
    }.toMap
  }

  /** T2: streaming-safe injection — the [[inject]] kernel with stats as
    * literals (no aggregate, no join: legal in any streaming `select`,
    * stateless, shuffle-free). */
  def injectStreaming(df: DataFrame, idCol: String, tsCol: String,
                      s: AnomalySetting,
                      stats: Map[String, (Double, Double)]): DataFrame =
    rewrite(df, idCol, tsCol, s, c => {
      val (mean, range) = stats.getOrElse(c, (0.0, 0.0))
      (lit(mean), lit(range))
    })
}
