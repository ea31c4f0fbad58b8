package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Det
import graft.inject.{AnomalySetting, Injector}

/** Anomaly-injection operators I1–I6, I10 and I11 (SURVEY §2.8) over the
  * `events` table, each with an exact DuckDB oracle that reproduces the
  * keyed-LCG row selection ([[Det.fracSql]]) and the method formula
  * bit-for-bit. Every injected value is a per-row arithmetic function of
  * (value, two LCG draws, selected-slice stats), so the only cross-engine
  * risk is the selected-slice mean (double sum order); outputs are rounded
  * to 4 dp.
  *
  * The whole operator is one codegen'd projection — over a broadcast 1-row
  * stats frame for the methods that read stats (lowered, step, drift,
  * seasonal) — no shuffle, linear at any scale.
  */
object Inject {

  private val es = Det.epochSSql("ts")

  // injection windows (events span 2024-01-01 .. 2024-01-30 UTC)
  private val spikeW   = (1704844800L, 1705017600L) // Jan 10 → 12
  private val lowerW   = (1704412800L, 1704585600L) // Jan 05 → 07
  private val stepW    = (1705276800L, 1705363200L) // Jan 15 → 16
  private val offW     = (1705708800L, 1705795200L) // Jan 20 → 21
  private val customW  = (1706140800L, 1706227200L) // Jan 25 → 26
  private val driftW   = (1705449600L, 1705622400L) // Jan 17 → 19
  private val seasW    = (1705104000L, 1705276800L) // Jan 13 → 15

  private def setting(typ: String, w: (Long, Long), pct: Double,
                      mag: Double = 2.0): AnomalySetting =
    AnomalySetting(typ, w._1, w._2 - w._1, magnitude = mag, percentage = pct,
      columns = Seq("value"), seed = 42L)

  private def run(s: SparkSession, dir: String, sets: AnomalySetting*): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events").select($"event_id", $"ts", $"value")
    Injector.injectAll(ev, "event_id", "ts", sets)
      .select($"event_id", round($"value", 4).as("value_inj"),
        $"injected_anomaly", $"label")
      .orderBy($"event_id")
  }

  /** SQL twins of [[Injector.selected]] / the u-draw (seed layout: selection
    * seed + colIdx*1000; u at +7919). */
  private def selSql(w: (Long, Long), pct: Double): String =
    s"($es >= ${w._1} AND $es < ${w._2} AND ${Det.fracSql("event_id", 42L)} < ${pct / 100.0})"
  private val uSql: String = Det.fracSql("event_id", 42L + 7919L)

  private def oracle(valueExpr: String, sel: String*): String = {
    val touched = sel.mkString("(", " OR ", ")")
    s"""SELECT event_id, round($valueExpr, 4) AS value_inj,
       |  $touched AS injected_anomaly,
       |  CASE WHEN $touched THEN 1 ELSE 0 END AS label
       |FROM events ORDER BY event_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i1_inject_spike" -> ((s, dir) =>
      run(s, dir, setting("spike", spikeW, pct = 50.0, mag = 3.0))),
    "i2_inject_lowered" -> ((s, dir) =>
      run(s, dir, setting("lowered", lowerW, pct = 80.0))),
    "i3_inject_step" -> ((s, dir) =>
      run(s, dir, setting("step", stepW, pct = 100.0, mag = 2.0))),
    "i4_inject_offline" -> ((s, dir) =>
      run(s, dir, setting("offline", offW, pct = 100.0))),
    "i5_inject_custom" -> ((s, dir) =>
      run(s, dir, setting("custom", customW, pct = 60.0, mag = 5.0))),
    // I6 composition: two settings with disjoint windows applied in order
    "i6_inject_multi" -> ((s, dir) =>
      run(s, dir,
        setting("spike", spikeW, pct = 50.0, mag = 3.0),
        setting("step", stepW, pct = 100.0, mag = 2.0))),

    // I11: periodic triangle-wave load pattern (period Injector.SeasPeriodS)
    "i11_inject_seasonal" -> ((s, dir) =>
      run(s, dir, setting("seasonal", seasW, pct = 100.0, mag = 2.0))),
    // I10: linear drift ramp
    "i10_inject_drift" -> ((s, dir) =>
      run(s, dir, setting("drift", driftW, pct = 100.0, mag = 2.0))),

    // Full ingest pipeline: normalize (stable rank-derived ids) → inject.
    // The oracle recomputes the id AS PURE SQL (row_number over the content
    // order), so this row goes red if ids ever become partition-dependent
    // again — the gate for the stable-id contract.
    "i8_normalize_inject" -> ((s, dir) => {
      import s.implicits._
      val raw = t(s, dir, "events")
        .select(Det.epochS($"ts").as("when"), $"value", $"event_id")
      val norm = graft.ingest.Ingest.normalize(raw, "when")
      val inj = Injector.inject(norm, "id", "timestamp",
        setting("spike", spikeW, pct = 50.0, mag = 3.0))
      inj.select($"id", $"timestamp".cast("long").as("es"),
          round($"value", 4).as("value_inj"), $"injected_anomaly", $"label")
        .orderBy($"id")
    }))

  def oracles: Map[String, String] = {
    val spikeSel = selSql(spikeW, 50.0)
    val lowerSel = selSql(lowerW, 80.0)
    val stepSel = selSql(stepW, 100.0)
    val offSel = selSql(offW, 100.0)
    val customSel = selSql(customW, 60.0)

    val spikeVal = s"CASE WHEN $spikeSel THEN value * (1.0 + 2.0 * $uSql) ELSE value END"
    val stepMean = s"(SELECT avg(value) FILTER (WHERE $stepSel) FROM events)"
    val stepVal = s"CASE WHEN $stepSel THEN value + $stepMean * 2.0 ELSE value END"
    val lowerF = s"(0.3 + 0.1 * $uSql)"
    val lowerRange =
      s"(SELECT max(value) FILTER (WHERE $lowerSel) - min(value) FILTER (WHERE $lowerSel) FROM events)"
    val lowerMean = s"(SELECT avg(value) FILTER (WHERE $lowerSel) FROM events)"
    val lowerBase =
      s"(CASE WHEN $lowerRange = 0.0 THEN $lowerMean * $lowerF ELSE greatest(value - $lowerRange * $lowerF, 0.0) END)"
    val lowerVal =
      s"CASE WHEN $lowerSel THEN (CASE WHEN $lowerBase = 0.0 THEN value * $lowerF ELSE $lowerBase END) ELSE value END"

    val driftSel = selSql(driftW, 100.0)
    val driftMean = s"(SELECT avg(value) FILTER (WHERE $driftSel) FROM events)"
    val driftVal = s"CASE WHEN $driftSel THEN value + $driftMean * 2.0" +
      s" * (CAST(($es - ${driftW._1}) AS DOUBLE)" +
      s" / ${(driftW._2 - driftW._1).toDouble}) ELSE value END"

    val seasSel = selSql(seasW, 100.0)
    val seasMean = s"(SELECT avg(value) FILTER (WHERE $seasSel) FROM events)"
    val seasTri = s"(1.0 - abs(2.0 * (CAST((($es - ${seasW._1}) % ${Injector.SeasPeriodS})" +
      s" AS DOUBLE) / ${Injector.SeasPeriodS.toDouble}) - 1.0))"
    val seasVal =
      s"CASE WHEN $seasSel THEN value + $seasMean * 2.0 * $seasTri ELSE value END"

    Map(
      "i1_inject_spike" -> oracle(spikeVal, spikeSel),
      "i10_inject_drift" -> oracle(driftVal, driftSel),
      "i11_inject_seasonal" -> oracle(seasVal, seasSel),
      "i2_inject_lowered" -> oracle(lowerVal, lowerSel),
      "i3_inject_step" -> oracle(stepVal, stepSel),
      "i4_inject_offline" ->
        oracle(s"CASE WHEN $offSel THEN 0.0 ELSE value END", offSel),
      "i5_inject_custom" ->
        oracle(s"CASE WHEN $customSel THEN value * 5.0 ELSE value END", customSel),
      "i6_inject_multi" ->
        oracle(s"CASE WHEN $stepSel THEN value + $stepMean * 2.0 ELSE ($spikeVal) END",
          spikeSel, stepSel),

      "i8_normalize_inject" -> {
        // the id is recomputed as pure SQL: 0-based row_number over the
        // normalized content order (timestamp, measures...) — the oracle
        // twin of the Ranks-based stable-id contract in Ingest.normalize
        val sel = s"(es >= ${spikeW._1} AND es < ${spikeW._2} " +
          s"AND ${Det.fracSql("id", 42L)} < 0.5)"
        val u = Det.fracSql("id", 42L + 7919L)
        s"""WITH base AS (
           |  SELECT $es AS es, CAST(value AS DOUBLE) AS value,
           |         CAST(event_id AS DOUBLE) AS eid
           |  FROM events),
           |norm AS (
           |  SELECT es, value,
           |         row_number() OVER (ORDER BY es, value, eid) - 1 AS id
           |  FROM base)
           |SELECT id, es,
           |  round(CASE WHEN $sel THEN value * (1.0 + 2.0 * ($u)) ELSE value END, 4)
           |    AS value_inj,
           |  $sel AS injected_anomaly,
           |  CASE WHEN $sel THEN 1 ELSE 0 END AS label
           |FROM norm ORDER BY id""".stripMargin
      })
  }
}
