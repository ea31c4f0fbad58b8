package graft.inject

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Det

/** One anomaly-injection request (SURVEY §2.8; reference
  * `Backend/Simulator/DBAPI/type_classes.py:3-14`). `startEpoch` is absolute
  * UTC seconds (the reference converts a relative offset at ingest,
  * `batchimport.py:288-346`); the span is half-open `[start, start+duration)`
  * (`anomalyinjector.py:98-108`; the stream path uses a closed interval — we
  * standardize on half-open and document the divergence). */
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

/** Anomaly-injection operators I1–I6 as pure Column expressions — the
  * reference's signature write-side transform
  * (`Backend/Simulator/AnomalyInjector/anomalyinjector.py:20-220`), rebuilt as
  * a single declarative `select` so Catalyst fuses it into one codegen'd
  * projection pass: no shuffle, no driver materialization, scale-linear.
  *
  * Row selection (I6): the reference draws `percentage`% of in-span rows
  * uniformly *per column* without replacement (`anomalyinjector.py:133-146`).
  * We keep the per-column independence but derive selection from
  * [[Det.frac]] (keyed LCG of a stable row id) so results are identical on
  * any partitioning/cluster size — and reproducible by the SQL oracle.
  */
object Injector {

  /** In-span predicate (P5): half-open `[start, end)` on truncated seconds. */
  def inSpan(epochS: Column, s: AnomalySetting): Column =
    epochS >= s.startEpoch && epochS < s.endEpoch

  /** Whether this (row, column-index) pair is selected for injection. */
  def selected(id: Column, epochS: Column, s: AnomalySetting, colIdx: Int): Column =
    inSpan(epochS, s) && Det.frac(id, s.seed + colIdx * 1000L) < s.percentage / 100.0

  /** The injected value for one target column. `u` is a second independent
    * uniform draw used by methods that need a random factor; `mean`/`range`
    * are the in-span column statistics (A1) the reference pre-computes. */
  def injectedValue(v: Column, u: Column, s: AnomalySetting,
                    mean: Column, range: Column): Column =
    s.anomalyType match {
      case "spike" => // I1: v * U(1, magnitude)   (InjectionMethods/spike.py:6-10)
        v * (lit(1.0) + lit(s.magnitude - 1.0) * u)
      case "lowered" => // I2: max(v - range*U(0.3,0.4), 0), 0⇒v*f, range=0⇒mean*f
        val f = lit(0.3) + lit(0.1) * u // (InjectionMethods/lowered.py:6-21)
        val base = when(range === 0.0, mean * f).otherwise(greatest(v - range * f, lit(0.0)))
        when(base === 0.0, v * f).otherwise(base)
      case "step" => // I3: v + mean*magnitude      (InjectionMethods/step.py:6-9)
        v + mean * s.magnitude
      case "offline" => // I4: 0 (the reference's intent; its impl is a no-op bug)
        lit(0.0)
      case "custom" => // I5: v * magnitude         (InjectionMethods/custom.py:6-9)
        v * s.magnitude
      case other => throw new IllegalArgumentException(s"unknown anomaly_type $other")
    }

  /** Whether [[injectedValue]] reads the selected-slice `mean`/`range` for
    * this method: `lowered` (both) and `step` (mean). `spike`, `custom` and
    * `offline` are pure per-row rewrites. Throws on an unknown method, as
    * [[injectedValue]] does. */
  def usesStats(anomalyType: String): Boolean = anomalyType match {
    case "lowered" | "step"            => true
    case "spike" | "custom" | "offline" => false
    case other => throw new IllegalArgumentException(s"unknown anomaly_type $other")
  }

  /** Apply one setting to a job DataFrame. Expects a stable numeric `idCol`
    * and a timestamp `tsCol`; rewrites each target column, sets
    * `injected_anomaly` and `label` on touched rows
    * (`anomalyinjector.py:156-167`). For the methods that read them
    * ([[usesStats]]: `lowered`, `step`) the per-column mean/range (A1) are
    * computed over the *selected* slice (matching the reference, which
    * draws the subset first and derives stats from it,
    * `anomalyinjector.py:148-154`) in one tiny conditional-aggregate pass
    * joined back by cross-join broadcast (constant per setting — no
    * per-row shuffle). The other methods build no aggregate: the setting
    * is one projection over `df`.
    */
  def inject(df: DataFrame, idCol: String, tsCol: String, s: AnomalySetting): DataFrame = {
    val epochS = col(tsCol).cast("long")
    val withStats =
      if (!usesStats(s.anomalyType)) df
      else df.crossJoin(broadcast(df.select(s.columns.zipWithIndex.flatMap {
        case (c, i) =>
          val sel = selected(col(idCol), epochS, s, i)
          Seq(avg(when(sel, col(c))).as(s"__mean_$c"),
            (max(when(sel, col(c))) - min(when(sel, col(c)))).as(s"__range_$c"))
      }: _*)))

    val touched = s.columns.zipWithIndex
      .map { case (c, i) => selected(col(idCol), epochS, s, i) }
      .reduce(_ || _)

    val rewritten = s.columns.zipWithIndex.foldLeft(withStats) { case (d, (c, i)) =>
      val sel = selected(col(idCol), epochS, s, i)
      val u = Det.frac(col(idCol), s.seed + 7919L + i * 1000L)
      d.withColumn(c,
        when(sel, injectedValue(col(c), u, s, col(s"__mean_$c"), col(s"__range_$c")))
          .otherwise(col(c)))
    }

    val flagged = rewritten
      .withColumn("injected_anomaly",
        when(touched, lit(true)).otherwise(
          if (df.columns.contains("injected_anomaly")) col("injected_anomaly") else lit(false)))
    val labeled =
      if (df.columns.contains("label"))
        flagged.withColumn("label", when(touched, lit(1)).otherwise(col("label")))
      else flagged.withColumn("label", when(touched, lit(1)).otherwise(lit(0)))
    labeled.drop(s.columns.flatMap(c => Seq(s"__mean_$c", s"__range_$c")): _*)
  }

  /** I10: linear drift — v + mean·magnitude·(es − start)/duration on
    * selected rows: the gradual-ramp anomaly (concept drift) the step
    * injector cannot express, and the natural test signal for the drift
    * detectors (a27 KS, a45 PSI, w28 CUSUM) — a step is detected by all
    * of them instantly, a ramp separates fast alarms from slow ones.
    * Beyond-reference (the reference's methods are all instantaneous);
    * same selection, stats, flag and label contract as [[inject]], same
    * one-codegen-projection-over-a-broadcast-stats-row shape. */
  def injectDrift(df: DataFrame, idCol: String, tsCol: String,
                  s: AnomalySetting): DataFrame = {
    // CONTRACT: the ramp divides by the span — a zero-length window would
    // silently write NaN/Infinity into every selected row. Fail fast.
    require(s.endEpoch > s.startEpoch,
      s"injectDrift needs endEpoch > startEpoch (got [${s.startEpoch}, " +
        s"${s.endEpoch}]); use inject() for an instantaneous anomaly")
    val epochS = col(tsCol).cast("long")
    val stats = df.select(s.columns.zipWithIndex.map { case (c, i) =>
      val sel = selected(col(idCol), epochS, s, i)
      avg(when(sel, col(c))).as(s"__mean_$c")
    }: _*)
    val withStats = df.crossJoin(broadcast(stats))
    val touched = s.columns.zipWithIndex
      .map { case (c, i) => selected(col(idCol), epochS, s, i) }
      .reduce(_ || _)
    val frac = (epochS - lit(s.startEpoch)).cast("double") /
      lit((s.endEpoch - s.startEpoch).toDouble)
    val rewritten = s.columns.zipWithIndex.foldLeft(withStats) {
      case (d, (c, i)) =>
        val sel = selected(col(idCol), epochS, s, i)
        d.withColumn(c, when(sel,
          col(c) + col(s"__mean_$c") * s.magnitude * frac)
          .otherwise(col(c)))
    }
    val flagged = rewritten
      .withColumn("injected_anomaly",
        when(touched, lit(true)).otherwise(
          if (df.columns.contains("injected_anomaly"))
            col("injected_anomaly") else lit(false)))
    val labeled =
      if (df.columns.contains("label"))
        flagged.withColumn("label", when(touched, lit(1)).otherwise(col("label")))
      else flagged.withColumn("label", when(touched, lit(1)).otherwise(lit(0)))
    labeled.drop(s.columns.map(c => s"__mean_$c"): _*)
  }

  /** Periodic (triangle-wave) anomaly — the daily/weekly load pattern the
    * step/drift methods cannot express: within the window, value +=
    * mean·magnitude·tri where tri = 1 − |2·phase/period − 1| rises 0→1→0
    * over each period. The triangle is DELIBERATELY piecewise-linear
    * rather than sinusoidal: every factor is rational arithmetic on an
    * integer phase, so the oracle reproduces it bit-for-bit with no libm
    * sin in the gate. CONTRACT: periodS > 0 (fail fast, the injectDrift
    * rule). */
  def injectSeasonal(df: DataFrame, idCol: String, tsCol: String,
                     s: AnomalySetting, periodS: Long): DataFrame = {
    require(periodS > 0, s"injectSeasonal needs periodS > 0 (got $periodS)")
    val epochS = col(tsCol).cast("long")
    val stats = df.select(s.columns.zipWithIndex.map { case (c, i) =>
      val sel = selected(col(idCol), epochS, s, i)
      avg(when(sel, col(c))).as(s"__mean_$c")
    }: _*)
    val withStats = df.crossJoin(broadcast(stats))
    val touched = s.columns.zipWithIndex
      .map { case (c, i) => selected(col(idCol), epochS, s, i) }
      .reduce(_ || _)
    val tri = lit(1.0) - abs(lit(2.0) *
      (((epochS - lit(s.startEpoch)) % periodS).cast("double") /
        lit(periodS.toDouble)) - lit(1.0))
    val rewritten = s.columns.zipWithIndex.foldLeft(withStats) {
      case (d, (c, i)) =>
        val sel = selected(col(idCol), epochS, s, i)
        d.withColumn(c, when(sel,
          col(c) + col(s"__mean_$c") * s.magnitude * tri)
          .otherwise(col(c)))
    }
    val flagged = rewritten
      .withColumn("injected_anomaly",
        when(touched, lit(true)).otherwise(
          if (df.columns.contains("injected_anomaly"))
            col("injected_anomaly") else lit(false)))
    val labeled =
      if (df.columns.contains("label"))
        flagged.withColumn("label", when(touched, lit(1)).otherwise(col("label")))
      else flagged.withColumn("label", when(touched, lit(1)).otherwise(lit(0)))
    labeled.drop(s.columns.map(c => s"__mean_$c"): _*)
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
    val epochS = col(tsCol).cast("long")
    val row = df.select(s.columns.zipWithIndex.flatMap { case (c, i) =>
      val sel = selected(col(idCol), epochS, s, i)
      Seq(avg(when(sel, col(c))), max(when(sel, col(c))) - min(when(sel, col(c))))
    }: _*).head
    s.columns.zipWithIndex.map { case (c, i) =>
      c -> ((if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i),
        if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)))
    }.toMap
  }

  /** T2: streaming-safe injection — identical per-row expressions to
    * [[inject]] but with stats as literals (no aggregate, no join: legal in
    * any streaming `select`, stateless, shuffle-free). */
  def injectStreaming(df: DataFrame, idCol: String, tsCol: String,
                      s: AnomalySetting,
                      stats: Map[String, (Double, Double)]): DataFrame = {
    val epochS = col(tsCol).cast("long")
    val touched = s.columns.zipWithIndex
      .map { case (_, i) => selected(col(idCol), epochS, s, i) }
      .reduce(_ || _)
    val rewritten = s.columns.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val sel = selected(col(idCol), epochS, s, i)
      val u = Det.frac(col(idCol), s.seed + 7919L + i * 1000L)
      val (mean, range) = stats.getOrElse(c, (0.0, 0.0))
      d.withColumn(c,
        when(sel, injectedValue(col(c), u, s, lit(mean), lit(range)))
          .otherwise(col(c)))
    }
    val flagged = rewritten.withColumn("injected_anomaly",
      when(touched, lit(true)).otherwise(
        if (df.columns.contains("injected_anomaly")) col("injected_anomaly")
        else lit(false)))
    if (df.columns.contains("label"))
      flagged.withColumn("label", when(touched, lit(1)).otherwise(col("label")))
    else flagged.withColumn("label", when(touched, lit(1)).otherwise(lit(0)))
  }
}
