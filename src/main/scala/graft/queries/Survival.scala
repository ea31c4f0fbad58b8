package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Det

/** Survival analysis over the activation funnel + the multiple-testing
  * close of the experimentation layer — beyond-reference operators a
  * product/experimentation platform runs daily, each with an exact
  * DuckDB oracle:
  *
  *   - q26 Kaplan–Meier survival (Kaplan & Meier 1958) with Greenwood
  *     1926 standard errors — time from first signup to the first
  *     HIGH-VALUE purchase, under administrative right-censoring at a
  *     fixed study horizon (the textbook design; q20's uncensored
  *     time-to-convert is the d=1 subset of this frame).
  *   - a79 Nelson–Aalen cumulative hazard (Nelson 1972, Aalen 1978)
  *     with the Fleming–Harrington survivor exp(−H) riding along.
  *   - q27 log-rank test (Mantel 1966) comparing the two keyed-LCG
  *     arms' survival — "does treatment speed activation?", the
  *     time-to-event sibling of a39/q19.
  *   - q28 Benjamini–Hochberg FDR (1995) over the q19 family's per-arm
  *     Welch tests — the step every platform runs once it reads more
  *     than one metric; Φ via Abramowitz & Stegun 26.2.17 generated
  *     ONCE as text for both engines (|ε| < 7.5e-8, identical IEEE).
  *
  * RELATION TO THE a49/a50 FAMILY (Stats.scala): two KM/log-rank pairs
  * coexist BY DESIGN and differ ONLY in the observation frame (t, d,
  * grp), i.e. in the censoring rule. `a49_km_survival`/`a50_logrank`
  * estimate time from FIRST EVENT to FIRST purchase with
  * loss-to-follow-up censoring at each user's LAST OBSERVED event and
  * no variance estimate — the observational retention-monitor reading,
  * where "stopped appearing" is all the design gives you. THIS pack's
  * q26/q27 estimate time from SIGNUP to the first HIGH-VALUE purchase
  * under ADMINISTRATIVE right-censoring at a fixed study horizon
  * ([[kmObs]]), with Greenwood se and KP confidence bounds — the
  * designed-study reading, and the frame Cox (q29/q31), RMST (a80),
  * Nelson–Aalen (a79) and Weibull (a81) ride. From the frame on, all
  * ten queries run ONE kernel: [[kmArmRiskTable]] (the total curve
  * reads it as one arm) and [[kmScanCarries]]. Decision rule for a
  * user: monitoring an open-ended event stream where subjects silently
  * drop out → a49/a50; analyzing a fixed-horizon cohort or experiment
  * (arms, hazard ratios, CIs) → this pack. The two are NOT
  * interchangeable: a49's censoring-at-last-event is informative
  * whenever activity correlates with conversion, which is exactly why
  * the designed family exists.
  *
  * House exactness recipe throughout: integer epoch seconds and counts;
  * per-time summands carried as pure-integer divs (e6/e9/e12, DECIMAL
  * where the product can cross int64); log/exp on bit-identical doubles
  * from exact integers; every degenerate division CASE-guarded the same
  * way in both engines. */
object Survival {

  /** Terminal event: a purchase of ≥ $200 (cents) — rare enough that
    * administrative censoring BINDS at every test SF (events/censored:
    * 3/12 at sf0.001, 16/134 at sf0.01, 165/1333 at sf0.1), so both
    * branches of the estimator are exercised. */
  private[graft] val KmThrCents = 20000L

  /** Study horizon: min + 3(max−min)/5 of the corpus event range, in
    * exact integer seconds (identical floor-div in both engines). */
  private[graft] def kmHorizon(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .agg(min(Det.epochS(col("ts"))).as("mn"),
        max(Det.epochS(col("ts"))).as("mx"))
      .selectExpr("mn + (3 * (mx - mn)) div 5 AS tc")

  /** The shared observation frame: per cohort user (first signup at or
    * before the horizon) the observed time t = min(delta, tc − s_es),
    * the event flag d (1 = high-value purchase inside the window), and
    * the q22 keyed-LCG arm. 100 TB shape: two per-user aggs collapse
    * the corpus; the horizon is a 1-row broadcast. ONE checkpoint: the
    * cohort's two reads (purchase join, left side) run in its job. */
  private[graft] def kmObs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val coh = Stats2.ttcSignups(s, dir)
      .crossJoin(broadcast(kmHorizon(s, dir)))
      .filter($"s_es" <= $"tc")
    val pu = t(s, dir, "events")
      .filter($"event_type" === "purchase" &&
        round($"value" * 100).cast("long") >= KmThrCents)
      .select($"user_id", Det.epochS($"ts").as("es"))
      .join(coh.select($"user_id", $"s_es"), Seq("user_id"))
      .filter($"es" >= $"s_es")
      .groupBy($"user_id").agg(min($"es" - $"s_es").as("delta"))
    val ev = ($"delta".isNotNull && $"delta" <= $"tc" - $"s_es")
    coh.join(pu, Seq("user_id"), "left")
      .select($"user_id",
        (Det.frac($"user_id", Stats3.AbSeed) < 0.5).cast("long").as("grp"),
        when(ev, $"delta").otherwise($"tc" - $"s_es").as("t"),
        when(ev, 1L).otherwise(0L).as("d"))
      .localCheckpoint() // feeds the cohort counts AND the collapse
  }

  /** q26/a49/a80/a81's shared KM scan (t, d, r, cl6, cgw) over a (t, d)
    * observation frame. Takes `obs` (not a dir) so the streaming twin's
    * spec can rebuild the IDENTICAL curve from kmObsStream emissions. */
  private[graft] def kmSurvScan(s: SparkSession, obs: DataFrame)
      : DataFrame = kmScanCarries(s, kmRiskTable(s, obs))

  /** The total-curve risk table: [[kmArmRiskTable]] with every subject in
    * one arm (its constant arm sums are pruned from the plan). */
  private def kmRiskTable(s: SparkSession, obs: DataFrame): DataFrame =
    kmArmRiskTable(s, obs.withColumn("grp", lit(0L)))

  /** The carry half of the KM scan over ANY (t, d, r) event-time frame
    * — shared by q26/a49/a80/a81 (total curve) and q30 (per-arm curves):
    * the e6 ln-survivor and e12 Greenwood summands cumulated by the
    * distributed prefix sum. A caller that reads only cl6 (a49) gets the
    * Greenwood window expression pruned from its plan. */
  private[graft] def kmScanCarries(s: SparkSession, rt: DataFrame)
      : DataFrame = {
    import s.implicits._
    val ev = rt
      .withColumn("l6", when($"d" < $"r",
        round(log(($"r" - $"d").cast("double") / $"r".cast("double"))
          * 1e6).cast("long")).otherwise(0L))
      .withColumn("gw12", when($"d" < $"r",
        expr("(d * 1000000000000) div (r * (r - d))")).otherwise(0L))
    // ONE fused prefix-sum pass for both carries (optimization r12):
    // the chained form paid a second boundary pass + shuffle + window
    // over the first cumsum's whole plan.
    graft.ops.Ranks.globalCumSums(ev, Seq($"t"),
      Seq(($"l6", "cl6"), ($"gw12", "cgw")))
  }

  /** THE risk table of both families over a (t, d, grp) frame: per
    * event time (t, d, d1, r, r1) + the cohort counts (n_cohort, n_arm1),
    * r = n − #{t_i < t} (r1 over arm 1) from a DISTRIBUTED prefix sum
    * (never a one-task window — censoring times are O(users) distinct). */
  private[graft] def kmArmRiskTable(s: SparkSession, obs: DataFrame)
      : DataFrame = {
    import s.implicits._
    val nc = obs.agg(count(lit(1)).as("n_cohort"),
      sum($"grp").as("n_arm1"))
    val vt = obs.groupBy($"t")
      .agg(sum($"d").as("d"), count(lit(1)).as("c"),
        sum($"d" * $"grp").as("d1"), sum($"grp").as("c1"))
    // fused: both arm cumulations in ONE prefix-sum pass (optimization r12)
    val c1 = graft.ops.Ranks.globalCumSums(vt, Seq($"t"),
      Seq(($"c", "cumc"), ($"c1", "cumc1")))
    c1.crossJoin(broadcast(nc))
      .withColumn("r", $"n_cohort" - ($"cumc" - $"c"))
      .withColumn("r1", $"n_arm1" - ($"cumc1" - $"c1"))
      .filter($"d" > 0L)
  }

  /** q29's Newton summands at an inline β expression — e9-quantized
    * BIGINT (the a45 summand rule) so the event-time sums are
    * order-free; ONE text for both engines. w = r1·e^β, r0 = r − r1:
    * U term d·w/(r0+w) (Breslow ties), I term d·w·r0/(r0+w)². */
  private val CoxIters = 6
  /** `p` prefixes the risk-table columns (""  = plain columns, the oracle
    * CTE form; "e." = array-element fields in the folded Spark form) —
    * ONE generator for both, so the texts cannot drift. */
  private def coxDen(b: String, p: String = ""): String =
    s"(CAST(${p}r - ${p}r1 AS DOUBLE) + CAST(${p}r1 AS DOUBLE) * exp($b))"
  private def coxU9(b: String, p: String = ""): String =
    s"CAST(round(1000000000.0 * CAST(${p}d AS DOUBLE) " +
      s"* (CAST(${p}r1 AS DOUBLE) * exp($b)) / ${coxDen(b, p)}) AS BIGINT)"
  private def coxI9(b: String, p: String = ""): String =
    s"CAST(round(1000000000.0 * CAST(${p}d AS DOUBLE) " +
      s"* (CAST(${p}r1 AS DOUBLE) * exp($b)) * CAST(${p}r - ${p}r1 AS DOUBLE) " +
      s"/ (${coxDen(b, p)} * ${coxDen(b, p)})) AS BIGINT)"
  /** U/β-update texts from the (o1, su, si) sums — shared verbatim.
    * `su`/`si`/`b` parameterize WHERE the sums and the previous β come
    * from (plain columns in the oracle's unrolled CTEs; inline
    * array-aggregate texts + `acc.beta` in the folded Spark form) —
    * one generator, no drift. */
  private def coxUExprAt(su: String): String =
    s"(CAST(o1 AS DOUBLE) - CAST($su AS DOUBLE) / 1000000000.0)"
  private def coxBetaUpdExpr(su: String = "su", si: String = "si",
                             b: String = "beta"): String =
    s"CASE WHEN $si > 0 THEN $b + ${coxUExprAt(su)} " +
      s"/ (CAST($si AS DOUBLE) / 1000000000.0) ELSE $b END"
  private def coxBetaUpd: String = coxBetaUpdExpr() + " AS beta"
  private def coxScoreExpr(su: String = "su", si: String = "si"): String =
    s"CASE WHEN $si > 0 THEN ${coxUExprAt(su)} * ${coxUExprAt(su)} " +
      s"/ (CAST($si AS DOUBLE) / 1000000000.0) END"
  private def coxScoreUpd(first: Boolean): String =
    if (first) coxScoreExpr() + " AS score_chi2"
    else "score_chi2"

  /** The shared Cox machinery (q29 + q31): the checkpointed arm risk
    * table and the Newton fold to the 1-row fitted state. */
  private def coxEvt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmArmRiskTable(s, kmObs(s, dir))
      .select($"t", $"d", $"d1", $"r", $"r1")
      .localCheckpoint() // feeds the init agg AND every Newton step
  }
  private def coxFold(s: SparkSession, evt: DataFrame): DataFrame = {
    import s.implicits._
    // The whole Newton iteration as ONE aggregate(sequence(1, CoxIters))
    // fold over the collected risk table (optimization r12): the unrolled
    // form paid CoxIters aggregation jobs + broadcasts + checkpoints. The
    // risk table is VALUE-domain (distinct event times with d > 0 —
    // SCALE_BOUNDS pins the horizon-bounded count), so one in-row array is
    // the e24 `am` pattern, not a corpus collect. The per-iteration sums
    // are BIGINT (e9-quantized per element) accumulated by an array
    // `aggregate` — integer adds, so the nondeterministic collect_list
    // order cannot move the result; the summand text is the SAME coxU9 /
    // coxI9 generator the oracle's unrolled CTEs use, at prefix "e.".
    val suF = s"aggregate(ea, CAST(0 AS BIGINT), " +
      s"(a, e) -> a + ${coxU9("acc.beta", "e.")})"
    val siF = s"aggregate(ea, CAST(0 AS BIGINT), " +
      s"(a, e) -> a + ${coxI9("acc.beta", "e.")})"
    evt.agg(sum($"d1").as("o1"), sum($"d").as("ev_total"),
        count(lit(1)).as("n_times"),
        collect_list(struct($"d", $"r", $"r1")).as("ea"))
      .selectExpr("o1", "ev_total", "n_times",
        s"""aggregate(sequence(1, $CoxIters),
           |  named_struct('beta', CAST(0.0 AS DOUBLE),
           |               'score_chi2', CAST(NULL AS DOUBLE)),
           |  (acc, i) -> named_struct(
           |    'beta', ${coxBetaUpdExpr(suF, siF, "acc.beta")},
           |    'score_chi2', CASE WHEN i = 1 THEN ${coxScoreExpr(suF, siF)}
           |                       ELSE acc.score_chi2 END)
           |) AS __cox""".stripMargin)
      .selectExpr("o1", "ev_total", "n_times",
        "__cox.score_chi2 AS score_chi2", "__cox.beta AS beta")
  }
  /** The fold as oracle CTEs, ending at cox`CoxIters` — shared by the
    * q29 and q31 oracles. */
  private def coxOracleFoldCtes: String = {
    val iters = (1 to CoxIters).map { i =>
      val prev = if (i == 1) "cox0" else s"cox${i - 1}"
      s"""cox${i}s AS (
         |  SELECT o1, ev_total, n_times, beta, score_chi2,
         |    CAST(sum(${coxU9("beta")}) AS BIGINT) AS su,
         |    CAST(sum(${coxI9("beta")}) AS BIGINT) AS si
         |  FROM evt CROSS JOIN $prev
         |  GROUP BY 1, 2, 3, 4, 5),
         |cox$i AS (
         |  SELECT o1, ev_total, n_times, ${coxScoreUpd(i == 1)},
         |    $coxBetaUpd
         |  FROM cox${i}s)""".stripMargin
    }.mkString(",\n")
    s"""cox0 AS (
       |  SELECT CAST(sum(d1) AS BIGINT) AS o1,
       |    CAST(sum(d) AS BIGINT) AS ev_total,
       |    CAST(count(*) AS BIGINT) AS n_times,
       |    CAST(0.0 AS DOUBLE) AS beta,
       |    CAST(NULL AS DOUBLE) AS score_chi2
       |  FROM evt),
       |$iters""".stripMargin
  }

  /** q31's texts — the Schoenfeld-residual trend test of the
    * proportional-hazards assumption (Schoenfeld 1982 residuals; the
    * trend-on-time idea of Grambsch & Therneau 1994, in its unscaled
    * form): at β̂, the per-event-time residual is s = d1 − d·w/(r0+w)
    * — observed minus expected arm-1 events under the fitted model —
    * and PH predicts NO time trend in s. The residual is the q29 U
    * summand flipped: s9 = d1·10⁹ − u9(β̂), already e9-quantized
    * BIGINT. The Pearson trend needs Σt·s9 and Σs9², which cross int64
    * (|s9| ≤ d_t·10⁹ — the q27 V-numerator situation), so both ride
    * the wide integer type (DECIMAL(38,0) / HUGEINT, passed per
    * engine); ρ and its z assemble in DOUBLE from exact wide integers
    * on ONE shared text. */
  private def phResidSql: String =
    s"d1 * 1000000000 - ${coxU9("beta")} AS s9"
  private def phMoments(wide: String): Seq[String] = Seq(
    "CAST(count(*) AS BIGINT) AS m",
    "CAST(sum(t) AS BIGINT) AS st", "CAST(sum(s9) AS BIGINT) AS ss",
    // t² also rides the wide type: in BIGINT, Σt² would bind at m ≈
    // 9.2e18/τ² — only ~900 event times at a 3-year (1e8 s) horizon
    s"sum(CAST(t AS $wide) * t) AS stt",
    s"sum(CAST(t AS $wide) * s9) AS sts",
    s"sum(CAST(s9 AS $wide) * s9) AS ss9")
  private def phReport: Seq[String] = {
    val num = "(CAST(m AS DOUBLE) * CAST(sts AS DOUBLE) " +
      "- CAST(st AS DOUBLE) * CAST(ss AS DOUBLE))"
    val dt = "(CAST(m AS DOUBLE) * CAST(stt AS DOUBLE) " +
      "- CAST(st AS DOUBLE) * CAST(st AS DOUBLE))"
    val ds = "(CAST(m AS DOUBLE) * CAST(ss9 AS DOUBLE) " +
      "- CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))"
    val rho = s"($num / sqrt($dt * $ds))"
    Seq("m AS n_event_times", "round(beta, 6) AS beta",
      s"CASE WHEN m >= 3 AND $dt > 0 AND $ds > 0 " +
        s"THEN round($rho, 6) END AS rho",
      s"CASE WHEN m >= 3 AND $dt > 0 AND $ds > 0 " +
        s"AND $rho * $rho < 1.0 " +
        s"THEN round($rho * sqrt(CAST(m - 2 AS DOUBLE)) " +
        s"/ sqrt(1.0 - $rho * $rho), 6) END AS trend_z")
  }

  /** Kalbfleisch–Prentice (1980 §1.4) log-log 95% confidence bound for
    * the KM survivor — the transformation every survival package plots
    * (bounds stay inside [0,1] by construction, unlike plain ±z·se):
    * on θ = ln(−ln S), se(θ) = √v / |ln S| with v = Greenwood's
    * Σ d/(r(r−d)); the bound is S^exp(±z·se(θ)) = exp(ln S·exp(±z·se)).
    * ln Ŝ IS cl6/1e6 (exact by construction) and v IS cgw/1e12, so the
    * whole bound is ONE generated text over two exact integers,
    * evaluated verbatim by both engines; z = 1.959964 as a literal.
    * Guards (identical text): d = r (Ŝ = 0, θ undefined) and cl6 = 0
    * (Ŝ = 1 — ANSI Spark would throw on the /|ln S|) → NULL. `sign` is
    * "" for the lower bound (+z shrinks S) and "-" for the upper. */
  private def kmCiSql(sign: String): String =
    "CASE WHEN d = r OR cl6 = 0 THEN CAST(NULL AS DOUBLE) ELSE " +
      "round(exp((CAST(cl6 AS DOUBLE) / 1e6) * " +
      s"exp(${sign}1.959964 * sqrt(CAST(cgw AS DOUBLE) / 1e12) " +
      "/ abs(CAST(cl6 AS DOUBLE) / 1e6))), 6) END"

  /** Two-sided normal p-value 2·Q(|z|) via Abramowitz & Stegun
    * 26.2.17 (Horner form, fixed association) — ONE text evaluated
    * verbatim by both engines; √(2π) as a literal so no engine computes
    * it. Valid for the x ≥ 0 domain |z| lives in; |ε| < 7.5e-8. */
  private def normTwoSidedP(z: String): String = {
    val az = s"abs($z)"
    val tt = s"(1.0 / (1.0 + 0.2316419 * $az))"
    val pdf = s"(exp(-($az * $az) / 2.0) / 2.5066282746310002)"
    val poly = s"(((((1.330274429 * $tt - 1.821255978) * $tt " +
      s"+ 1.781477937) * $tt - 0.356563782) * $tt + 0.319381530) * $tt)"
    s"(2.0 * $pdf * $poly)"
  }

  /** q26's full KM report over an observation frame with (t, d)
    * columns — SHARED by the q26 gate and the kmObsStream spec (the
    * ttcReport pattern: the streaming twin's emissions rebuild the
    * oracle-green rows through the SAME code). */
  private[graft] def kmReport(s: SparkSession, obs: DataFrame): DataFrame = {
    import s.implicits._
    kmCurveSelect(s, kmSurvScan(s, obs)).orderBy($"t_s")
  }

  /** The display projection over a (t, d, r, cl6, cgw) scan frame —
    * shared by q26 and q30's per-arm curves. */
  private def kmCurveSelect(s: SparkSession, scan: DataFrame): DataFrame = {
    import s.implicits._
    scan
      .select($"t".as("t_s"), $"d".as("n_events"), $"r".as("n_risk"),
        when($"d" === $"r", lit(0.0))
          .otherwise(round(exp($"cl6".cast("double") / 1e6), 6))
          .as("survival"),
        when($"d" === $"r", lit(null).cast("double"))
          .otherwise(round(exp($"cl6".cast("double") / 1e6) *
            sqrt($"cgw".cast("double") / 1e12), 6)).as("greenwood_se"),
        expr(kmCiSql("")).as("ci95_lo"),
        expr(kmCiSql("-")).as("ci95_hi"))
  }

  /** a81's shared texts — the Weibull probability-plot regression
    * (Weibull 1951; the Nelson 1972 plotting method): S(t) =
    * exp(−(t/λ)^k) linearizes to ln(−ln S) = k·ln t − k·ln λ, so OLS
    * of y = ln(−ln Ŝ(t)) on x = ln t over the KM event-time scan
    * estimates shape k and scale λ. ln Ŝ IS cl6/1e6 (exact), so both
    * regressors are e4-quantized BIGINTs from exact integers (e4 keeps
    * x² ≤ 4e10 per row — see the ledger row); the five OLS sums are
    * order-free integer sums; slope/scale/R² assemble in DOUBLE from
    * exact BIGINTs (the a19 moment recipe). Excluded rows (shared
    * predicate): d = r (S = 0), cl6 = 0 (S = 1) and t = 0 — the ln
    * domain guards. */
  private val WeibullFilter = "d < r AND cl6 < 0 AND t > 0"
  private val WeibullTerms: Seq[String] = Seq(
    "CAST(round(ln(CAST(t AS DOUBLE)) * 10000.0) AS BIGINT) AS x4",
    "CAST(round(ln(CAST(-cl6 AS DOUBLE) / 1000000.0) * 10000.0) " +
      "AS BIGINT) AS y4")
  private val WeibullSums: Seq[String] = Seq(
    "CAST(count(*) AS BIGINT) AS n",
    "CAST(sum(x4) AS BIGINT) AS sx", "CAST(sum(y4) AS BIGINT) AS sy",
    "CAST(sum(x4 * x4) AS BIGINT) AS sxx",
    "CAST(sum(x4 * y4) AS BIGINT) AS sxy",
    "CAST(sum(y4 * y4) AS BIGINT) AS syy")
  private val WeibullReport: Seq[String] = {
    val num = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    val dxx = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val dyy = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) " +
      "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    val k = s"($num / $dxx)"
    Seq("n AS n_points",
      s"CASE WHEN n >= 2 AND $dxx > 0 THEN round($k, 6) END AS k_shape",
      s"CASE WHEN n >= 2 AND $dxx > 0 AND $num <> 0 THEN " +
        s"round(exp((CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE) / $k) " +
        "/ (CAST(n AS DOUBLE) * 10000.0)), 4) END AS lambda_scale_s",
      s"CASE WHEN n >= 2 AND $dxx > 0 AND $dyy > 0 THEN " +
        s"round($num * $num / ($dxx * $dyy), 6) END AS r2")
  }

  /** BH false-discovery-rate level. */
  private val BhAlpha = "0.05"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Q26: Kaplan–Meier survival with Greenwood se --------------------
    // S(t) = Π_{t_i ≤ t} (1 − d_i/r_i) over event times, with
    // administrative right-censoring at the fixed horizon; q20 answers
    // "how fast do converters convert", this answers the question q20
    // CANNOT: "what fraction will EVER convert by t, given censoring".
    // Exactness: per-time ln((r−d)/r) e6-quantized BIGINT (the a73 l6
    // rule) and the Greenwood summand d/(r(r−d)) as a PURE-INTEGER e12
    // div — both cumulated by the distributed prefix sum, so the
    // product/variance at every t is built from exact integers; exp on
    // bit-identical doubles, round 6. The d = r terminal row (everyone
    // at risk dies) is CASE-guarded to S = 0 / se NULL identically in
    // both engines. ci95_lo/ci95_hi are the Kalbfleisch–Prentice
    // log-log 95% bounds (the r10 verdict ask #5 — what a KM consumer
    // actually plots), ONE generated text over the SAME exact cl6/cgw
    // carries (see kmCiSql) — zero new passes. 100 TB shape: two
    // per-user aggs + a value-domain collapse + two-pass distributed
    // cumsums; no data-sized window.
    "q26_km_survival" -> ((s, dir) => kmReport(s, kmObs(s, dir))),

    // ---- A79: Nelson–Aalen cumulative hazard ------------------------------
    // H(t) = Σ_{t_i ≤ t} d_i/r_i on the SAME risk table as q26, with
    // the Fleming–Harrington survivor exp(−H) riding along (FH ≥ KM
    // pointwise — the classic small-sample comparison, queryable here).
    // Exactness: the hazard summand is a PURE-INTEGER e12 div cumulated
    // by the distributed prefix sum; exp on bit-identical doubles.
    // 100 TB shape: the q26 shape minus one scan.
    "a79_nelson_aalen" -> ((s, dir) => {
      import s.implicits._
      val ev = kmRiskTable(s, kmObs(s, dir))
        .withColumn("h12", expr("(d * 1000000000000) div r"))
      graft.ops.Ranks.globalCumSum(ev, Seq($"t"), $"h12", "ch")
        .select($"t".as("t_s"), $"d".as("n_events"), $"r".as("n_risk"),
          round($"ch".cast("double") / 1e12, 6).as("na_cumhaz"),
          round(exp(-$"ch".cast("double") / 1e12), 6).as("fh_survival"))
        .orderBy($"t_s")
    }),

    // ---- Q27: log-rank test (arm A vs arm B time-to-event) ---------------
    // "Does treatment speed activation?" — the time-to-event sibling of
    // a39's Welch test, on the SAME keyed-LCG arms as q21/q22: at each
    // event time the observed arm-1 events vs the hypergeometric
    // expectation d·r₁/r and variance d(r₁/r)(1−r₁/r)(r−d)/(r−1);
    // χ² = (O₁−E₁)²/V with 1 df (Mantel 1966). Exactness: per-time E
    // and V summands as pure-integer divs (e6 / e9, the V numerator
    // riding DECIMAL(38,0)/HUGEINT — d·r₁·(r−r₁)·(r−d)·10⁹ crosses
    // int64 near this corpus size, measured), so the sums are
    // order-free BIGINTs; the V DIVISOR r²(r−1) rides the same width
    // (plain int64 would wrap silently at r ≈ 2.1e6 in non-ANSI Spark
    // while DuckDB errors — the r10 ADVICE divergence; widening it
    // makes the numerator's r ≲ 5e6 bound the one that governs);
    // r = 1 and V = 0 CASE-guarded identically.
    // 100 TB shape: the q26 collapse with two cumsums (total + arm-1)
    // and a 1-row readout.
    "q27_logrank" -> ((s, dir) => {
      import s.implicits._
      kmArmRiskTable(s, kmObs(s, dir))
        .withColumn("e1_6", expr("(d * r1 * 1000000) div r"))
        .withColumn("v9", expr("CASE WHEN r > 1 THEN " +
          "(CAST(d AS DECIMAL(38,0)) * r1 * (r - r1) * (r - d) " +
          "* 1000000000) div (CAST(r AS DECIMAL(38,0)) * r * (r - 1)) " +
          "ELSE 0 END"))
        .agg(max($"n_cohort").as("n_cohort"), max($"n_arm1").as("n_arm1"),
          sum($"d1").as("o1"), sum($"e1_6").as("se1"), sum($"v9").as("sv9"))
        .selectExpr("n_cohort", "n_arm1", "n_cohort - n_arm1 AS n_arm0",
          "o1 AS observed_1",
          "round(CAST(se1 AS DOUBLE) / 1000000.0, 6) AS expected_1",
          "round(CAST(sv9 AS DOUBLE) / 1000000000.0, 6) AS variance",
          "CASE WHEN sv9 > 0 THEN round((CAST(o1 AS DOUBLE) " +
            "- CAST(se1 AS DOUBLE) / 1000000.0) * (CAST(o1 AS DOUBLE) " +
            "- CAST(se1 AS DOUBLE) / 1000000.0) " +
            "/ (CAST(sv9 AS DOUBLE) / 1000000000.0), 6) END AS chi2")
    }),

    // ---- Q30: per-arm Kaplan–Meier curves ---------------------------------
    // The PLOT behind q27's number: both arms' full survival curves
    // (with Greenwood se and KP bounds) side by side — what an analyst
    // looks at before trusting any log-rank p, and the proportional-
    // hazards eyeball check q29 assumes. Decomposition: the SHARED
    // kmArmRiskTable already carries (d1, r1) per event time, so arm 1
    // reads (d1, r1) and arm 0 reads (d−d1, r−r1); each arm's curve is
    // the SAME kmScanCarries + kmCurveSelect machinery over its
    // ≤event-times frame, unioned. Exactness: q26's recipe verbatim,
    // twice; the arm frames filter d_g > 0 with shared predicate text.
    // 100 TB shape: the q27 collapse ONCE (checkpointed) + two
    // value-domain scans — no per-group window over data, no new
    // primitive.
    "q30_km_by_arm" -> ((s, dir) => {
      import s.implicits._
      val armrt = kmArmRiskTable(s, kmObs(s, dir))
        .select($"t", $"d", $"d1", $"r", $"r1")
        .localCheckpoint() // feeds both arm scans
      def curve(g: Int): DataFrame = {
        val ev =
          if (g == 1) armrt.selectExpr("t", "d1 AS d", "r1 AS r")
          else armrt.selectExpr("t", "d - d1 AS d", "r - r1 AS r")
        kmCurveSelect(s, kmScanCarries(s, ev.filter($"d" > 0L)))
          .select(lit(g.toLong).as("grp"), col("*"))
      }
      curve(0).unionByName(curve(1)).orderBy($"grp", $"t_s")
    }),

    // ---- Q28: Benjamini–Hochberg FDR over the q19 arm tests ---------------
    // The multiple-testing close of the experimentation layer: once a
    // platform reads k metrics/arms, per-test α lies — BH 1995 step-up
    // controls the false-discovery rate. Over the SHARED q19 moment
    // pass: per-arm Welch z vs the 'view' control, two-sided p via the
    // generated A&S 26.2.17 text, ranks ascending by p (arm tiebreak —
    // a ≤|event-types|-row frame, the bounded-window convention), and
    // reject ranks ≤ argmax{i : p_(i) ≤ i·α/m}. Decisions compare
    // UNROUNDED bit-identical doubles (the q19 flag convention).
    // 100 TB shape: ONE map-side moment agg collapses the corpus;
    // everything after is a ≤types-row frame.
    "q28_bh_fdr" -> ((s, dir) => {
      import s.implicits._
      val mom = Stats2.abPowerMoments(s, dir)
      val ctrl = mom.filter($"event_type" === "view")
        .select($"n".as("n_c"), $"sq".as("sq_c"), $"sq2".as("sq2_c"))
      val ps = mom.filter($"event_type" =!= "view")
        .crossJoin(broadcast(ctrl))
        .selectExpr("event_type", "n",
          "(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) " +
            "- CAST(sq_c AS DOUBLE) / CAST(n_c AS DOUBLE)) " +
            "/ sqrt(((CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) " +
            "* CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) " +
            "/ CAST(n - 1 AS DOUBLE)) / CAST(n AS DOUBLE) " +
            "+ ((CAST(sq2_c AS DOUBLE) - CAST(sq_c AS DOUBLE) " +
            "* CAST(sq_c AS DOUBLE) / CAST(n_c AS DOUBLE)) " +
            "/ CAST(n_c - 1 AS DOUBLE)) / CAST(n_c AS DOUBLE)) AS z")
        .selectExpr("event_type", "n", "z",
          s"${normTwoSidedP("z")} AS p")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"p", $"event_type") // ≤ |event types| rows
      val ranked = ps
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("m", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1))))
        .withColumn("thr", expr(
          s"CAST(i AS DOUBLE) * $BhAlpha / CAST(m AS DOUBLE)"))
        .localCheckpoint() // feeds kmax AND the report
      val kmax = ranked.agg(coalesce(max(when($"p" <= $"thr", $"i")),
        lit(0L)).as("kmax"))
      ranked.crossJoin(broadcast(kmax))
        .select($"event_type", $"n".as("n_treat"),
          round($"z", 6).as("z"), round($"p", 6).as("p_value"),
          $"i".as("bh_rank"), round($"thr", 6).as("bh_threshold"),
          ($"i" <= $"kmax").as("rejected"))
        .orderBy($"bh_rank")
    }),

    // ---- Q29: Cox proportional hazards (one binary covariate) -------------
    // The model a product analyst actually FITS on this data (Cox
    // 1972): hazard ratio of arm 1 vs arm 0 by Newton–Raphson on the
    // partial likelihood with Breslow tie handling — with one binary
    // covariate the risk-set sums collapse to (r0, r1) per event time,
    // so each Newton step is ONE agg over the SHARED q27 risk table
    // with β broadcast (the d23/d27 iterative-fold recipe on a K-row
    // frame). Reports β̂, the hazard ratio, the Wald se/z at β̂, and
    // the score χ² at β = 0 — the score test IS the log-rank idea
    // (q27's statistic up to its (r−d)/(r−1) tie correction; both
    // gates queryable side by side). Exactness: per-time U/I summands
    // e9-quantized BIGINT (the a45 summand rule → order-free sums);
    // every β update is ONE generated text; I = 0 CASE-guarded (β
    // stays, readouts NULL) identically in both engines. CoxIters = 6
    // (one-parameter Newton from 0; the d27 convention — a fixed probe
    // depth, stated). 100 TB shape: the q27 collapse ONCE (checkpointed
    // ≤ distinct-event-times frame) + 7 tiny agg folds.
    "q29_cox_hazard" -> ((s, dir) => {
      import s.implicits._
      val evt = coxEvt(s, dir)
      val st = coxFold(s, evt)
      evt.crossJoin(broadcast(st))
        .groupBy($"o1", $"ev_total", $"n_times", $"beta", $"score_chi2")
        .agg(sum(expr(coxU9("beta"))).as("su"),
          sum(expr(coxI9("beta"))).as("si"))
        .selectExpr("n_times AS n_event_times", "ev_total AS n_events",
          "o1 AS observed_1", "round(beta, 6) AS beta",
          "round(exp(beta), 6) AS hazard_ratio",
          "CASE WHEN si > 0 THEN round(1.0 " +
            "/ sqrt(CAST(si AS DOUBLE) / 1000000000.0), 6) END AS se",
          "CASE WHEN si > 0 THEN round(beta " +
            "* sqrt(CAST(si AS DOUBLE) / 1000000000.0), 6) END AS wald_z",
          "round(score_chi2, 6) AS score_chi2")
    }),

    // ---- Q31: proportional-hazards check (Schoenfeld trend) --------------
    // The diagnostic that decides whether q29's single hazard ratio is
    // TRUSTWORTHY (Schoenfeld 1982; the Grambsch–Therneau 1994
    // trend-on-time idea, unscaled): at the SHARED Newton fold's β̂,
    // the per-event-time residual d1 − d·w/(r0+w) should show no time
    // trend under PH — a significant trend_z means the hazard ratio
    // drifts and one number misleads. Reports Pearson ρ(residual, t)
    // and its normal-approximation z. Honest measurement on keyed-LCG
    // random arms (no real effect ⇒ no drift expected): at sf0.1 the
    // null behaves — ρ = −0.014, z = −0.18 over 165 event times; at
    // sf0.01 z = −1.12; sf0.001 reads z = −2.33 on THREE event times,
    // where the normal approximation means nothing — n_event_times is
    // the read-me-first caveat column (the a81 convention; q30's
    // curves are the visual twin). Exactness: the residual IS the q29
    // e9 U summand flipped
    // (BIGINT); Σt·s9 and Σs9² ride DECIMAL(38,0)/HUGEINT (they cross
    // int64 — the q27 V precedent); ρ/z assemble in DOUBLE from exact
    // wide integers on ONE shared text; m < 3, zero variances, and
    // |ρ| = 1 CASE-guarded identically. 100 TB shape: the q29 fold +
    // ONE more agg over the checkpointed ≤event-times frame.
    "q31_ph_check" -> ((s, dir) => {
      import s.implicits._
      val evt = coxEvt(s, dir)
      val st = coxFold(s, evt)
      val ms = phMoments("DECIMAL(38,0)").map(expr)
      evt.crossJoin(broadcast(st.select($"beta")))
        .selectExpr("t", "beta", phResidSql)
        .groupBy($"beta")
        .agg(ms.head, ms.tail: _*)
        .selectExpr(phReport: _*)
    }),

    // ---- A81: Weibull probability-plot fit of the KM curve ---------------
    // The parametric layer over q26 (Weibull 1951; Nelson 1972's
    // plotting method): OLS of ln(−ln Ŝ) on ln t over the event-time
    // scan gives shape k and scale λ — the two numbers that let an
    // analyst EXTRAPOLATE conversion beyond the administrative horizon
    // (what no nonparametric gate can do) and READ the hazard dynamic:
    // k < 1 = decelerating (early adopters convert, stragglers stall),
    // k > 1 = accelerating. Measured: k = 0.862 (R² 0.986) at sf0.1
    // and 0.943 at sf0.01 — mildly decelerating-hazard activation,
    // consistent with q20's right-skewed deltas; sf0.001's k = 2.67
    // rides n = 3 event times (the plotting method needs points — the
    // n_points column is the read-me-first caveat). Exactness: see the
    // WeibullTerms scaladoc (e4 regressors from exact carries,
    // order-free integer sums, DOUBLE assembly on generated text;
    // degenerate n/variance/slope CASE-guarded identically). 100 TB
    // shape: the q26 scan + ONE 6-sum agg over the ≤event-times frame
    // + a 1-row readout.
    "a81_weibull_fit" -> ((s, dir) => {
      kmSurvScan(s, kmObs(s, dir))
        .where(WeibullFilter)
        .selectExpr(WeibullTerms: _*)
        .selectExpr(WeibullSums: _*)
        .selectExpr(WeibullReport: _*)
    }),

    // ---- A80: restricted mean survival time -------------------------------
    // RMST(τ) = ∫₀^τ S(t)dt with τ = the last event time (the standard
    // default): the mean seconds-to-conversion ADJUSTED FOR CENSORING —
    // the single number a naive mean of q20's uncensored deltas gets
    // wrong. Integrates q26's step function exactly: segment sums
    // S(t_{k−1})·(t_k − t_{k−1}) as BIGINT products of the e6-quantized
    // survivor (the a45 summand class) and exact integer time deltas.
    // The lag window runs on the EVENT-TIME frame — bounded by distinct
    // event seconds (the corpus time range), not by rows: the a78
    // value-domain argument. 100 TB shape: the q26 shape + one
    // bounded-frame lag + a 1-row agg.
    "a80_rmst" -> ((s, dir) => {
      import s.implicits._
      val scan = kmSurvScan(s, kmObs(s, dir))
        .select($"t", $"cl6")
        .withColumn("se6",
          expr("CAST(round(exp(CAST(cl6 AS DOUBLE) / 1e6) * 1e6) " +
            "AS BIGINT)"))
      val w = org.apache.spark.sql.expressions.Window.orderBy($"t")
      scan
        .withColumn("pt", coalesce(lag($"t", 1).over(w), lit(0L)))
        .withColumn("ps6", coalesce(lag($"se6", 1).over(w), lit(1000000L)))
        .agg(count(lit(1)).as("n_event_times"), max($"t").as("tau_s"),
          sum(($"t" - $"pt") * $"ps6").as("area6"))
        .selectExpr("n_event_times", "tau_s",
          "round(CAST(area6 AS DOUBLE) / 1e6, 6) AS rmst_s")
    }))

  private def oracleObsCtes: String =
    s"""ev AS (
       |  SELECT user_id, event_type, ${Det.epochSSql("ts")} AS es,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |b AS (SELECT CAST(min(es) AS BIGINT) AS mn,
       |  CAST(max(es) AS BIGINT) AS mx FROM ev),
       |tcx AS (SELECT mn + (3 * (mx - mn)) // 5 AS tc FROM b),
       |su AS (
       |  SELECT user_id, CAST(min(es) AS BIGINT) AS s_es
       |  FROM ev WHERE event_type = 'signup' GROUP BY 1),
       |coh AS (
       |  SELECT user_id, s_es, tc FROM su CROSS JOIN tcx
       |  WHERE s_es <= tc),
       |pu AS (
       |  SELECT ev.user_id, CAST(min(es - s_es) AS BIGINT) AS delta
       |  FROM ev JOIN coh ON ev.user_id = coh.user_id
       |  WHERE event_type = 'purchase' AND cents >= $KmThrCents
       |    AND es >= s_es
       |  GROUP BY 1),
       |obs AS (
       |  SELECT coh.user_id,
       |    CASE WHEN ${Det.fracSql("coh.user_id", Stats3.AbSeed)} < 0.5
       |      THEN 1 ELSE 0 END AS grp,
       |    CASE WHEN pu.delta IS NOT NULL
       |        AND pu.delta <= coh.tc - coh.s_es
       |      THEN pu.delta ELSE coh.tc - coh.s_es END AS t,
       |    CASE WHEN pu.delta IS NOT NULL
       |        AND pu.delta <= coh.tc - coh.s_es
       |      THEN 1 ELSE 0 END AS d
       |  FROM coh LEFT JOIN pu ON coh.user_id = pu.user_id)"""
      .stripMargin

  private def oracleArmRiskCtes: String =
    s"""ncx AS (SELECT CAST(count(*) AS BIGINT) AS n_cohort,
       |  CAST(sum(grp) AS BIGINT) AS n_arm1 FROM obs),
       |vt AS (
       |  SELECT t, CAST(sum(d) AS BIGINT) AS d,
       |    CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(d * grp) AS BIGINT) AS d1,
       |    CAST(sum(grp) AS BIGINT) AS c1
       |  FROM obs GROUP BY 1),
       |cum AS (
       |  SELECT t, d, c, d1, c1,
       |    CAST(sum(c) OVER (ORDER BY t) AS BIGINT) AS cumc,
       |    CAST(sum(c1) OVER (ORDER BY t) AS BIGINT) AS cumc1
       |  FROM vt),
       |evt AS (
       |  SELECT t, d, d1,
       |    n_cohort - (cumc - c) AS r,
       |    n_arm1 - (cumc1 - c1) AS r1,
       |    n_cohort, n_arm1
       |  FROM cum CROSS JOIN ncx WHERE d > 0)""".stripMargin

  private def oracleRiskCtes: String =
    s"""ncx AS (SELECT CAST(count(*) AS BIGINT) AS n_cohort FROM obs),
       |vt AS (
       |  SELECT t, CAST(sum(d) AS BIGINT) AS d,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM obs GROUP BY 1),
       |cum AS (
       |  SELECT t, d, c,
       |    CAST(sum(c) OVER (ORDER BY t) AS BIGINT) AS cumc
       |  FROM vt),
       |evt AS (
       |  SELECT t, d, n_cohort - (cumc - c) AS r
       |  FROM cum CROSS JOIN ncx WHERE d > 0)""".stripMargin

  private def oracleKmScanCtes: String = oracleKmScanCtesFrom("", "evt")

  /** The scan CTE pair over ANY (t, d, r) source CTE — suffixed so q30
    * can run it once per arm (the kmScanCarries twin). */
  private def oracleKmScanCtesFrom(sfx: String, src: String): String =
    s"""terms$sfx AS (
       |  SELECT t, d, r,
       |    CASE WHEN d < r THEN CAST(round(ln(CAST(r - d AS DOUBLE)
       |      / CAST(r AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END AS l6,
       |    CASE WHEN d < r
       |      THEN (d * 1000000000000) // (r * (r - d))
       |      ELSE 0 END AS gw12
       |  FROM $src),
       |scan$sfx AS (
       |  SELECT t, d, r,
       |    CAST(sum(l6) OVER (ORDER BY t) AS BIGINT) AS cl6,
       |    CAST(sum(gw12) OVER (ORDER BY t) AS BIGINT) AS cgw
       |  FROM terms$sfx)""".stripMargin

  /** The display-projection column text over a scan CTE — shared by
    * the q26 and q30 oracles (the kmCurveSelect twin). */
  private def kmCurveColsSql: String =
    s"""t AS t_s, d AS n_events, r AS n_risk,
       |  CASE WHEN d = r THEN 0.0
       |    ELSE round(exp(CAST(cl6 AS DOUBLE) / 1e6), 6) END
       |    AS survival,
       |  CASE WHEN d = r THEN NULL
       |    ELSE round(exp(CAST(cl6 AS DOUBLE) / 1e6)
       |      * sqrt(CAST(cgw AS DOUBLE) / 1e12), 6) END
       |    AS greenwood_se,
       |  ${kmCiSql("")} AS ci95_lo,
       |  ${kmCiSql("-")} AS ci95_hi""".stripMargin

  def oracles: Map[String, String] = Map(

    "q26_km_survival" ->
      s"""WITH $oracleObsCtes,
         |$oracleRiskCtes,
         |$oracleKmScanCtes
         |SELECT $kmCurveColsSql
         |FROM scan ORDER BY t_s""".stripMargin,

    "q30_km_by_arm" ->
      s"""WITH $oracleObsCtes,
         |$oracleArmRiskCtes,
         |evt0 AS (SELECT t, d - d1 AS d, r - r1 AS r FROM evt
         |  WHERE d - d1 > 0),
         |evt1 AS (SELECT t, d1 AS d, r1 AS r FROM evt WHERE d1 > 0),
         |${oracleKmScanCtesFrom("0", "evt0")},
         |${oracleKmScanCtesFrom("1", "evt1")}
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS grp, $kmCurveColsSql FROM scan0
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT) AS grp, $kmCurveColsSql FROM scan1)
         |ORDER BY grp, t_s""".stripMargin,

    "a79_nelson_aalen" ->
      s"""WITH $oracleObsCtes,
         |$oracleRiskCtes,
         |terms AS (
         |  SELECT t, d, r, (d * 1000000000000) // r AS h12 FROM evt),
         |scan AS (
         |  SELECT t, d, r,
         |    CAST(sum(h12) OVER (ORDER BY t) AS BIGINT) AS ch
         |  FROM terms)
         |SELECT t AS t_s, d AS n_events, r AS n_risk,
         |  round(CAST(ch AS DOUBLE) / 1e12, 6) AS na_cumhaz,
         |  round(exp(-CAST(ch AS DOUBLE) / 1e12), 6) AS fh_survival
         |FROM scan ORDER BY t_s""".stripMargin,

    "q27_logrank" ->
      s"""WITH $oracleObsCtes,
         |$oracleArmRiskCtes,
         |terms AS (
         |  SELECT n_cohort, n_arm1, d1,
         |    (d * r1 * 1000000) // r AS e1_6,
         |    CASE WHEN r > 1 THEN CAST(
         |      (CAST(d AS HUGEINT) * r1 * (r - r1) * (r - d)
         |        * 1000000000) // (CAST(r AS HUGEINT) * r * (r - 1))
         |      AS BIGINT)
         |      ELSE 0 END AS v9
         |  FROM evt),
         |agg AS (
         |  SELECT CAST(max(n_cohort) AS BIGINT) AS n_cohort,
         |    CAST(max(n_arm1) AS BIGINT) AS n_arm1,
         |    CAST(sum(d1) AS BIGINT) AS o1,
         |    CAST(sum(e1_6) AS BIGINT) AS se1,
         |    CAST(sum(v9) AS BIGINT) AS sv9
         |  FROM terms)
         |SELECT n_cohort, n_arm1, n_cohort - n_arm1 AS n_arm0,
         |  o1 AS observed_1,
         |  round(CAST(se1 AS DOUBLE) / 1000000.0, 6) AS expected_1,
         |  round(CAST(sv9 AS DOUBLE) / 1000000000.0, 6) AS variance,
         |  CASE WHEN sv9 > 0 THEN round((CAST(o1 AS DOUBLE)
         |    - CAST(se1 AS DOUBLE) / 1000000.0) * (CAST(o1 AS DOUBLE)
         |    - CAST(se1 AS DOUBLE) / 1000000.0)
         |    / (CAST(sv9 AS DOUBLE) / 1000000000.0), 6) END AS chi2
         |FROM agg""".stripMargin,

    "q28_bh_fdr" ->
      s"""WITH mom AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(q) AS BIGINT) AS sq,
         |    CAST(sum(q * q) AS BIGINT) AS sq2
         |  FROM (SELECT event_type,
         |          CAST(round(value * 1000.0) AS BIGINT) AS q
         |        FROM events)
         |  GROUP BY 1),
         |ctrl AS (SELECT n AS n_c, sq AS sq_c, sq2 AS sq2_c
         |         FROM mom WHERE event_type = 'view'),
         |zz AS (
         |  SELECT event_type, n,
         |    (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
         |      - CAST(sq_c AS DOUBLE) / CAST(n_c AS DOUBLE))
         |      / sqrt(((CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE)
         |      * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
         |      / CAST(n - 1 AS DOUBLE)) / CAST(n AS DOUBLE)
         |      + ((CAST(sq2_c AS DOUBLE) - CAST(sq_c AS DOUBLE)
         |      * CAST(sq_c AS DOUBLE) / CAST(n_c AS DOUBLE))
         |      / CAST(n_c - 1 AS DOUBLE)) / CAST(n_c AS DOUBLE)) AS z
         |  FROM mom CROSS JOIN ctrl WHERE event_type <> 'view'),
         |ps AS (
         |  SELECT event_type, n, z, ${normTwoSidedP("z")} AS p FROM zz),
         |ranked AS (
         |  SELECT event_type, n, z, p,
         |    CAST(row_number() OVER (ORDER BY p, event_type) AS BIGINT)
         |      AS i,
         |    CAST(count(*) OVER () AS BIGINT) AS m
         |  FROM ps),
         |thr AS (
         |  SELECT event_type, n, z, p, i,
         |    CAST(i AS DOUBLE) * $BhAlpha / CAST(m AS DOUBLE) AS thr
         |  FROM ranked),
         |km AS (
         |  SELECT CAST(coalesce(max(CASE WHEN p <= thr THEN i END), 0)
         |    AS BIGINT) AS kmax FROM thr)
         |SELECT event_type, n AS n_treat,
         |  round(z, 6) AS z, round(p, 6) AS p_value,
         |  i AS bh_rank, round(thr, 6) AS bh_threshold,
         |  (i <= kmax) AS rejected
         |FROM thr CROSS JOIN km ORDER BY bh_rank""".stripMargin,

    "q31_ph_check" ->
      s"""WITH $oracleObsCtes,
         |$oracleArmRiskCtes,
         |$coxOracleFoldCtes,
         |resid AS (
         |  SELECT t, beta, $phResidSql
         |  FROM evt CROSS JOIN cox$CoxIters),
         |mom AS (
         |  SELECT beta, ${phMoments("HUGEINT").mkString(", ")}
         |  FROM resid GROUP BY 1)
         |SELECT ${phReport.mkString(", ")} FROM mom""".stripMargin,

    "q29_cox_hazard" -> {
      s"""WITH $oracleObsCtes,
         |$oracleArmRiskCtes,
         |$coxOracleFoldCtes,
         |coxfs AS (
         |  SELECT o1, ev_total, n_times, beta, score_chi2,
         |    CAST(sum(${coxU9("beta")}) AS BIGINT) AS su,
         |    CAST(sum(${coxI9("beta")}) AS BIGINT) AS si
         |  FROM evt CROSS JOIN cox$CoxIters
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT n_times AS n_event_times, ev_total AS n_events,
         |  o1 AS observed_1, round(beta, 6) AS beta,
         |  round(exp(beta), 6) AS hazard_ratio,
         |  CASE WHEN si > 0 THEN round(1.0
         |    / sqrt(CAST(si AS DOUBLE) / 1000000000.0), 6) END AS se,
         |  CASE WHEN si > 0 THEN round(beta
         |    * sqrt(CAST(si AS DOUBLE) / 1000000000.0), 6) END AS wald_z,
         |  round(score_chi2, 6) AS score_chi2
         |FROM coxfs""".stripMargin
    },

    "a81_weibull_fit" ->
      s"""WITH $oracleObsCtes,
         |$oracleRiskCtes,
         |$oracleKmScanCtes,
         |wt AS (SELECT ${WeibullTerms.mkString(", ")} FROM scan
         |  WHERE $WeibullFilter),
         |ws AS (SELECT ${WeibullSums.mkString(", ")} FROM wt)
         |SELECT ${WeibullReport.mkString(", ")} FROM ws""".stripMargin,

    "a80_rmst" ->
      s"""WITH $oracleObsCtes,
         |$oracleRiskCtes,
         |$oracleKmScanCtes,
         |seg AS (
         |  SELECT t, CAST(round(exp(CAST(cl6 AS DOUBLE) / 1e6) * 1e6)
         |    AS BIGINT) AS se6
         |  FROM scan),
         |lagd AS (
         |  SELECT t,
         |    CAST(coalesce(lag(t) OVER (ORDER BY t), 0) AS BIGINT) AS pt,
         |    CAST(coalesce(lag(se6) OVER (ORDER BY t), 1000000)
         |      AS BIGINT) AS ps6
         |  FROM seg)
         |SELECT CAST(count(*) AS BIGINT) AS n_event_times,
         |  CAST(max(t) AS BIGINT) AS tau_s,
         |  round(CAST(CAST(sum((t - pt) * ps6) AS BIGINT) AS DOUBLE)
         |    / 1e6, 6) AS rmst_s
         |FROM lagd""".stripMargin)
}
