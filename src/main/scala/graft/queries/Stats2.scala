package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Det

/** Round-8 pack: second-order diagnostics over series, categorical
  * associations, and graph-partition quality — the "is the signal real"
  * layer a monitoring stack runs on top of the round-5/7 statistics
  * (a38's ACF says lag-1 memory exists; a62's Ljung–Box says whether the
  * whole correlogram is distinguishable from white noise; g5 finds
  * communities; g11 scores whether that partition beats chance).
  *
  * Exactness recipe throughout (the Stats pack's): quantize once to
  * integer units, carry every aggregate as an exact BIGINT, and evaluate
  * the final float formula from those integers with the same expression
  * shape in both engines; small double sums fold sorted (the t30
  * recipe); `round(…, 6)` absorbs 1-ulp libm divergence.
  */
object Stats2 {

  /** Value quantization — the Stats pack's milli-unit rule. */
  private val MilliScale = 1000.0

  /** Ljung–Box lag depth (mirrors Stats.AcfMaxLag: the Box–Jenkins
    * identification depth used by a38/a56). */
  private val LbMaxLag = 3

  private def d(c: Column): Column = c.cast("double")

  /** a65 Page–Hinkley: drift allowance δ and alarm threshold λ in e9
    * units of `value` (q is milli-units, ×1e6 → e9; integer literals so
    * the whole statistic stays BIGINT). δ = 2 value units, λ = 400 —
    * calibrated non-vacuous at every test SF (4/15 users alarm at
    * sf0.001, 549/1500 at sf0.1) without being universal. */
  private[graft] val PhDeltaE9 = 2000000000L
  private[graft] val PhLambdaE9 = 400000000000L

  /** p27 skew audit: hot keys reported. */
  private val SkewTopK = 5

  /** q19 A/B power: two-sided α = 0.05 and power = 0.8 normal quantiles
    * (shortest-repr double literals — identical parses in both
    * engines; the Welch-MDE convention of every experimentation
    * platform). */
  private[queries] val Z975 = 1.959963984540054
  private[queries] val Z80 = 0.8416212335729143

  /** q18 k-anonymity: quasi-identifier length-band width and the policy
    * threshold ladder (the grid is data, not reruns — the d22 rule). */
  private[graft] val KAnonBand = 64L
  private val KAnonKs = Seq(2L, 5L, 10L, 20L)

  /** a61 Holt: dyadic smoothing constants (the w31 EwmaLam rule — every
    * product is an exactly-representable double built identically in
    * both engines) and the forecast horizon in hours. */
  private[graft] val HoltAlpha = 0.5
  private[graft] val HoltBeta = 0.25
  private val HoltH = 3.0
  /** a67 Holt–Winters: additive-seasonal smoothing constant (dyadic,
    * the HoltAlpha rule) and the season length in hours. */
  private[graft] val HwGamma = 0.25
  private[graft] val HwM = 24

  /** q16 / cohortStream's shared activity feed: (user_id, dd) with dd
    * the integer activity day — ONE definition so the batch matrix and
    * the streaming twin provably consume identical rows. */
  private[graft] def cohortEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"user_id", expr("CAST(ts AS LONG) div 86400").as("dd"))
  }

  /** q19 / q28's shared per-arm milli-moment pass (event_type, n, sq,
    * sq2 — exact BIGINTs, the a19/a39 class): ONE map-side agg
    * collapses the corpus for both the power readout and the BH-FDR
    * step over it. */
  private[graft] def abPowerMoments(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_type",
        round($"value" * MilliScale).cast("long").as("q"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"q").as("sq"),
        sum($"q" * $"q").as("sq2"))
      .localCheckpoint() // feeds the control row AND the arm rows
  }

  /** q20 / timeToConvertStream's shared signup frame: (user_id, s_es)
    * with s_es the user's FIRST signup epoch second — ONE definition so
    * the batch report's denominator and the twin spec's provably
    * match. */
  private[graft] def ttcSignups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .filter($"event_type" === "signup")
      .select($"user_id", Det.epochS($"ts").as("es"))
      .groupBy($"user_id").agg(min($"es").as("s_es"))
  }

  /** q20's decile report from a converted-pairs frame (user_id,
    * delta_s) — ONE definition shared with the
    * [[graft.streaming.StreamJob.timeToConvertStream]] spec, which
    * rebuilds the report from the stream's emitted pairs: deciles via
    * the two-pass distributed rank (never ntile / a one-task window),
    * conversion rate as the exact ppm rule. */
  private[graft] def ttcReport(s: SparkSession, pu: DataFrame,
                               nSign: DataFrame): DataFrame = {
    import s.implicits._
    val nConv = pu.agg(count(lit(1)).as("n_converted"))
    graft.ops.Ranks.globalRowNumberWithTotal(
        pu.select($"user_id", $"delta_s"),
        Seq($"delta_s", $"user_id"), "rk", "n")
      .withColumn("decile", expr("((rk - 1) * 10) div n + 1").cast("int"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_users"), max($"delta_s").as("max_delta_s"))
      .crossJoin(broadcast(nSign)).crossJoin(broadcast(nConv))
      .withColumn("conv_ppm",
        expr("(n_converted * 1000000) div n_signup"))
      .orderBy($"decile")
  }

  /** a61's hourly cents-volume grid (event_type, hr, v — absent hours
    * REAL zeros, the a57 rule) — ONE definition shared with
    * [[graft.streaming.StreamJob.holtStream]]'s spec so the twin's
    * series can never drift from the query's. */
  private[graft] def holtHourly(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .select(col("event_type"), Det.epochS(col("ts")).as("es"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(expr("es div 3600").as("hr"), col("event_type"))
      .agg(sum(col("cents")).as("v"))
      .localCheckpoint() // feeds the hour frame, type frame AND grid
    val hours = hourly.select(col("hr")).distinct()
    val types = hourly.select(col("event_type")).distinct()
    hours.crossJoin(broadcast(types))
      .join(hourly, Seq("hr", "event_type"), "left")
      .select(col("hr"), col("event_type"),
        coalesce(col("v"), lit(0L)).as("v"))
  }

  /** a65's event projection — shared with
    * [[graft.streaming.StreamJob.pageHinkleyStream]] (the cusumEvents
    * pattern) so the twin's inputs can never drift from the query's. */
  private[graft] def phEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        Det.epochS(col("ts")).as("es"),
        round(col("value") * MilliScale).cast("long").as("q"))

  /** The lang×source contingency cells a63/a64 share: observed counts
    * per (lang, source) over `documents`. ONE definition so the χ² and
    * MI gates provably score the same table. 100 TB shape: one map-side
    * combined agg collapses the corpus to ≤ langs×sources rows;
    * everything downstream runs on that frame. */
  private def contingency(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))

  /** Shared SQL for the a63/a64 contingency cells. */
  private val contingencySql =
    """cells AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- A62: Ljung–Box portmanteau test ------------------------------
    // Is the value series' WHOLE correlogram distinguishable from white
    // noise? (Ljung & Box 1978; the portmanteau companion to a38's
    // per-lag ACF and a56's PACF — residual diagnostics run this, not
    // eyeball the lags.) ρ_k is the textbook autocovariance ratio
    // c_k/c_0 (NOT a38's lagged-pair Pearson — LB's null distribution
    // assumes the fixed-denominator form), computed from exact BIGINT
    // moments: c_k·n = P_k − x̄·(H_k + T_k) + x̄²·(n−k) where P_k is the
    // lagged product sum and H_k/T_k the head/tail value sums; then
    // Q = n(n+2)·Σ_k ρ_k²/(n−k) from the 6dp-rounded ρ's (the a56 rule:
    // rounded inputs are identical in both engines by construction, so
    // Q is too). 100 TB shape: the a56 shape — one two-pass global rank
    // (ops.Ranks), a lag-exploded self-join on pos, ≤lag-row aggs.
    "a62_ljung_box" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(Det.epochS($"ts").as("es"), $"event_id",
          round($"value" * MilliScale).cast("long").as("q"))
      val ranked = graft.ops.Ranks
        .globalRowNumberWithTotal(ev, Seq($"es", $"event_id"), "pos", "n")
        .select($"pos", $"q", $"n").localCheckpoint()
      val lags = explode(array((1 to LbMaxLag).map(lit): _*)).as("lag")
      val ht = ranked.select($"pos", $"q", $"n", lags)
        .groupBy($"lag")
        .agg(max($"n").as("n"),
          sum(when($"pos" <= $"n" - $"lag", $"q").otherwise(0L)).as("hk"),
          sum(when($"pos" > $"lag", $"q").otherwise(0L)).as("tk"))
      val x = ranked.select($"pos", $"q", lags)
        .select($"lag", ($"pos" + $"lag").as("jpos"), $"q".as("xq"))
      val pk = x.join(ranked.select($"pos".as("jpos"), $"q".as("yq")),
          Seq("jpos"))
        .groupBy($"lag").agg(sum($"xq" * $"yq").as("pk"))
      val mom = ranked.agg(sum($"q").as("sq"),
        sum($"q" * $"q").as("ssq"))
      val rho = ht.join(pk, Seq("lag")).crossJoin(broadcast(mom))
        .withColumn("xb", d($"sq") / d($"n"))
        .withColumn("c0", d($"ssq") - d($"sq") * d($"sq") / d($"n"))
        .withColumn("ck", d($"pk") - $"xb" * d($"hk" + $"tk") +
          $"xb" * $"xb" * d($"n" - $"lag"))
        .select($"lag", $"n", round($"ck" / $"c0", 6).as("rho"))
      rho.groupBy($"n")
        .agg(max(when($"lag" === 1, $"rho")).as("rho1"),
          max(when($"lag" === 2, $"rho")).as("rho2"),
          max(when($"lag" === 3, $"rho")).as("rho3"))
        .select($"n", $"rho1", $"rho2", $"rho3",
          round(d($"n") * (d($"n") + 2.0) *
            ($"rho1" * $"rho1" / d($"n" - 1) +
              $"rho2" * $"rho2" / d($"n" - 2) +
              $"rho3" * $"rho3" / d($"n" - 3)), 6).as("q_lb"))
    }),

    // ---- A63: χ² independence + Cramér's V ----------------------------
    // Is document language independent of source? The effect-size
    // companion (Cramér 1946) to the raw χ² — the curation question
    // behind t21's domain mix ("does my source mix skew languages?").
    // Zero cells CONTRIBUTE to χ² (term = E) so the grid is filled
    // lang×source (the a57 grid rule). Exactness: each cell term is
    // (O·n − n_r·n_c)²/(n·n_r·n_c) — integer numerator base, squared in
    // double; the ≤ r×c terms fold sorted (t30). 100 TB shape: ONE
    // map-side agg collapses the corpus; grid fill, margins and the fold
    // run on ≤ r×c rows.
    "a63_cramers_v" -> ((s, dir) => {
      import s.implicits._
      val cells = contingency(s, dir).localCheckpoint()
      val rowm = cells.groupBy($"lang").agg(sum($"o").as("nr"))
      val colm = cells.groupBy($"source").agg(sum($"o").as("nc"))
      val tot = cells.agg(sum($"o").as("n"),
        countDistinct($"lang").as("r"), countDistinct($"source").as("c"))
      val grid = rowm.crossJoin(broadcast(colm))
        .join(cells, Seq("lang", "source"), "left")
        .select($"lang", $"source", $"nr", $"nc",
          coalesce($"o", lit(0L)).as("o"))
      grid.crossJoin(broadcast(tot))
        .withColumn("num", d($"o" * $"n" - $"nr" * $"nc"))
        .withColumn("term",
          $"num" * $"num" / (d($"n") * d($"nr") * d($"nc")))
        .groupBy($"n", $"r", $"c")
        .agg(aggregate(sort_array(collect_list($"term")), lit(0.0),
          (a, x) => a + x).as("chi2"))
        .select($"n", $"r", $"c", round($"chi2", 6).as("chi2"),
          round(sqrt($"chi2" / (d($"n") * d(least($"r", $"c") - 1))), 6)
            .as("cramers_v"))
    }),

    // ---- A64: mutual information + NMI --------------------------------
    // The information-theoretic sibling of a63 over the SAME contingency
    // (shared `contingency` helper): I(lang; source) in nats and the
    // √(H·H)-normalized NMI (Strehl & Ghosh 2002). Observed cells only —
    // the 0·ln0 = 0 limit makes empty cells contribute nothing, so no
    // grid fill. Exactness: each term is (o/n)·ln(o·n/(n_r·n_c)) with
    // the integer products built before the one double division; ln is
    // libm-vs-Math 1-ulp, absorbed by the sorted fold + round(…, 6).
    // 100 TB shape: identical to a63.
    "a64_mutual_info" -> ((s, dir) => {
      import s.implicits._
      val cells = contingency(s, dir).localCheckpoint()
      val rowm = cells.groupBy($"lang").agg(sum($"o").as("nr"))
      val colm = cells.groupBy($"source").agg(sum($"o").as("nc"))
      val tot = cells.agg(sum($"o").as("n"))
      val hOf = (m: DataFrame, cnt: String) => m.crossJoin(broadcast(tot))
        .select((d(col(cnt)) / d($"n") *
          log(d(col(cnt)) / d($"n"))).as("term"))
        .agg((-aggregate(sort_array(collect_list($"term")), lit(0.0),
          (a, x) => a + x)).as("h"))
      val mi = cells.join(rowm, Seq("lang")).join(colm, Seq("source"))
        .crossJoin(broadcast(tot))
        .select((d($"o") / d($"n") *
          log(d($"o" * $"n") / d($"nr" * $"nc"))).as("term"), $"n")
        .groupBy($"n")
        .agg(aggregate(sort_array(collect_list($"term")), lit(0.0),
          (a, x) => a + x).as("mi"))
      mi.crossJoin(broadcast(hOf(rowm, "nr").select($"h".as("h_lang"))))
        .crossJoin(broadcast(hOf(colm, "nc").select($"h".as("h_source"))))
        .select($"n", round($"mi", 6).as("mi_nats"),
          round($"h_lang", 6).as("h_lang"),
          round($"h_source", 6).as("h_source"),
          round($"mi" / sqrt($"h_lang" * $"h_source"), 6).as("nmi"))
    }),

    // ---- A65: Page–Hinkley drift test ----------------------------------
    // The classic sequential mean-INCREASE detector (Page 1954; Hinkley
    // 1971) completing the monitor family (CUSUM w28 locates the single
    // best change point retrospectively; PH alarms ONLINE when the
    // cumulative deviation from the running mean exceeds λ): per user,
    // m_i = Σ_{j≤i}(x_j − x̄_j − δ) with x̄_j the running mean, alarm at
    // the first m_i − min_{j≤i} m_j > λ. Exactness: everything is BIGINT
    // in e9 value units — the running mean enters as the truncating
    // integer division (S_j·10⁶) div j, IDENTICAL in both engines (Spark
    // `div` and DuckDB `//` both truncate toward zero), so there is no
    // float anywhere. Report is the a55 shape: first crossing per user,
    // else the final statistic. 100 TB shape: ONE user_id exchange
    // shared by the three stacked windows and both argmin/argmax aggs;
    // exact while n·q_max·10⁶ < 2^63 per user (q ≤ 5.7e5 ⇒ n ≲ 1.6e7
    // events/user; beyond, the a40 DECIMAL(38,0) escape).
    "a65_page_hinkley" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"es", $"event_id")
      val base = phEvents(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("s", sum($"q").over(w))
        .withColumn("term", $"q" * 1000000L -
          expr("(s * 1000000) div rn") - PhDeltaE9)
        .withColumn("m", sum($"term").over(w))
        .withColumn("ph", $"m" - min($"m").over(w))
        .localCheckpoint() // feeds the crossing argmin AND the tail argmax
      val crossed = base.filter($"ph" > PhLambdaE9)
        .groupBy($"user_id")
        .agg(min(struct($"es", $"event_id", $"rn", $"ph")).as("c"))
        .select($"user_id", lit("drift").as("decision"),
          $"c.rn".as("n_at_decision"), $"c.ph".as("ph_e9"))
      val open = base.join(crossed.select($"user_id"), Seq("user_id"),
          "left_anti")
        .groupBy($"user_id")
        .agg(max(struct($"es", $"event_id", $"rn", $"ph")).as("c"))
        .select($"user_id", lit("stable").as("decision"),
          $"c.rn".as("n_at_decision"), $"c.ph".as("ph_e9"))
      crossed.unionByName(open).orderBy($"user_id")
    }),

    // ---- A61: Holt double exponential smoothing -------------------------
    // Short-horizon capacity forecast per event type (Holt 1957): level +
    // trend recursion over the hourly cents-volume series (absent hours
    // are REAL zeros — the a57 grid rule), h-hour-ahead forecast and
    // 1-step RMSE. The recursion IS sequential, so it runs as an ordered
    // fold over the per-type hourly array (bounded: the series the corpus
    // collapses to, not the corpus — the t30 sorted-fold recipe with a
    // struct accumulator): α, β are dyadic literals, every step's
    // multiply-add association is written identically in both engines
    // (Spark `aggregate` HOF ≡ DuckDB `list_reduce`, first element =
    // init l₁ = x₁, b₁ = 0), so the folded doubles are bit-identical.
    // 100 TB shape: ONE (hour, type) map-side agg collapses the corpus;
    // the fold runs on ≤hours elements per type (cents exact as double
    // while hourly volume < 2^53 — quantize to dollars beyond).
    "a61_holt" -> ((s, dir) => {
      import s.implicits._
      val grid = holtHourly(s, dir)
      // ARRAY accumulator [l, b, sse], not a struct: DuckDB's list_reduce
      // updates struct accumulator fields SEQUENTIALLY (later fields see
      // already-updated earlier ones) while Spark's aggregate() snapshots
      // — list construction is snapshot-semantics in BOTH engines
      // (probed; see PLANS.md round-8).
      val l = (acc: Column) => element_at(acc, 1)
      val b = (acc: Column) => element_at(acc, 2)
      val ss = (acc: Column) => element_at(acc, 3)
      val folded = grid.groupBy($"event_type")
        .agg(transform(sort_array(collect_list(struct($"hr", $"v"))),
          x => x.getField("v").cast("double")).as("xs"))
        .filter(size($"xs") >= 2) // rmse needs ≥1 forecast step
        .withColumn("fin", aggregate(
          slice($"xs", lit(2), size($"xs") - 1),
          array(element_at($"xs", 1), lit(0.0), lit(0.0)),
          (acc, x) => array(
            lit(HoltAlpha) * x + lit(1.0 - HoltAlpha) * (l(acc) + b(acc)),
            lit(HoltBeta) * (lit(HoltAlpha) * x +
              lit(1.0 - HoltAlpha) * (l(acc) + b(acc)) - l(acc)) +
              lit(1.0 - HoltBeta) * b(acc),
            ss(acc) + (x - (l(acc) + b(acc))) * (x - (l(acc) + b(acc))))))
      folded.select($"event_type", size($"xs").cast("long").as("n_hours"),
          round(l($"fin") / 100.0, 6).as("level"),
          round(b($"fin") / 100.0, 6).as("trend"),
          round((l($"fin") + lit(HoltH) * b($"fin")) / 100.0, 6)
            .as("forecast_h3"),
          round(sqrt(ss($"fin") / (size($"xs") - 1).cast("double")) / 100.0,
            6).as("rmse_1step"))
        .orderBy($"event_type")
    }),

    // ---- W34: lag / rolling feature generation ---------------------------
    // The feature-engineering pass every tabular-ML training pipeline
    // runs before fitting (and the batch twin of what w1's sliding
    // sequences feed the detectors): per user in event order — lag-1 and
    // lag-2 value, delta vs lag-1, and the trailing-5 rolling sum/count
    // (the mean as the exact ppm ratio, never a float division per row).
    // Exactness: everything is BIGINT window arithmetic on milli-
    // quantized values; missing lags are NULL (both engines) — the W6
    // warm-up contract. 100 TB shape: ONE user_id exchange shared by
    // all five window columns (one sort, bounded frames).
    "w34_lag_features" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"es", $"event_id")
      val w5 = w.rowsBetween(-4, 0)
      t(s, dir, "events")
        .select($"user_id", $"event_id", Det.epochS($"ts").as("es"),
          round($"value" * MilliScale).cast("long").as("q"))
        .withColumn("lag1", lag($"q", 1).over(w))
        .withColumn("lag2", lag($"q", 2).over(w))
        .withColumn("delta1", $"q" - $"lag1")
        .withColumn("roll_sum5", sum($"q").over(w5))
        .withColumn("roll_n5", count(lit(1)).over(w5))
        .select($"user_id", $"event_id", $"q", $"lag1", $"lag2",
          $"delta1", $"roll_sum5", $"roll_n5",
          expr("(roll_sum5 * 1000000) div roll_n5").as("roll_mean_ppm"))
        .orderBy($"user_id", $"event_id")
    }),

    // ---- Q16: cohort retention matrix -----------------------------------
    // The classic cohort table behind every product dashboard (and the
    // general form of q9's fixed-window retention): users grouped by
    // first-activity day, activity counted per (cohort, age-in-days),
    // retention as the exact ppm ratio to cohort size. Exactness: days,
    // counts and ratios are pure integers (the ledger's ppm rule).
    // 100 TB shape: ONE user agg (min day) + a distinct over (user,
    // cohort, age) + a cells agg — no window anywhere; output is
    // ≤ cohorts×ages rows.
    "q16_cohort_matrix" -> ((s, dir) => {
      import s.implicits._
      val ev = cohortEvents(s, dir)
      val cohort = ev.groupBy($"user_id").agg(min($"dd").as("cd"))
        .localCheckpoint() // feeds the age join AND cohort sizes
      val cells = ev.join(cohort, Seq("user_id"))
        .select($"user_id", $"cd", ($"dd" - $"cd").as("age"))
        .distinct()
        .groupBy($"cd", $"age").agg(count(lit(1)).as("n_active"))
      val sizes = cohort.groupBy($"cd").agg(count(lit(1)).as("cohort_users"))
      cells.join(sizes, Seq("cd"))
        .select($"cd".as("cohort_day"), $"age", $"n_active",
          $"cohort_users",
          expr("(n_active * 1000000) div cohort_users").as("retention_ppm"))
        .orderBy($"cohort_day", $"age")
    }),

    // ---- Q17: Lorenz curve / revenue concentration -----------------------
    // The Pareto report completing the segmentation family (q15 RFM,
    // q16 cohorts, a28 Gini — this is the Gini's CURVE as data): users
    // ranked by purchase spend desc, exact-decile buckets (the q15
    // formula, never ntile), cumulative revenue share per decile in
    // exact ppm. Output answers "what share do the top k% drive"
    // directly. Exactness: cents/counts/ratios pure integers; the only
    // windows are the two-pass Ranks machinery plus cumulative sums
    // over the ≤10-row decile frame (driver-trivial, the a43 rule).
    // 100 TB shape: one user agg collapses the corpus; one Ranks pass;
    // ≤10-row arithmetic after.
    "q17_lorenz_deciles" -> ((s, dir) => {
      import s.implicits._
      val u = t(s, dir, "events")
        .filter($"event_type" === "purchase")
        .select($"user_id", round($"value" * 100).cast("long").as("cents"))
        .groupBy($"user_id").agg(sum($"cents").as("m"))
      val ranked = graft.ops.Ranks.globalRowNumberWithTotal(u,
          Seq((-$"m").as("__negm"), $"user_id"), "rk", "n")
        .withColumn("decile", expr("((rk - 1) * 10) div n + 1").cast("int"))
      val dec = ranked.groupBy($"decile")
        .agg(count(lit(1)).as("n_users"), sum($"m").as("cents"))
      val wCum = org.apache.spark.sql.expressions.Window
        .orderBy($"decile") // ≤10-row frame: driver-trivial
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val tot = dec.agg(sum($"cents").as("tc"))
      dec.withColumn("cum_cents", sum($"cents").over(wCum))
        .crossJoin(broadcast(tot))
        .select($"decile", $"n_users", $"cents", $"cum_cents",
          expr("(cum_cents * 1000000) div tc").as("cum_share_ppm"))
        .orderBy($"decile")
    }),

    // ---- A66: Wilcoxon signed-rank test ----------------------------------
    // The PAIRED nonparametric test completing the family (a40 MWU =
    // unpaired two-group, a53 KW = k-group): per user, the click-vs-view
    // mean-value difference is one pair; signed ranks of |d| across
    // users, normal approximation with the full tie correction
    // (Wilcoxon 1945). Exactness: the zero-pair drop and the SIGN use
    // the exact integer cross-product s1·n2 − s2·n1; |d| doubles are
    // identical in both engines (same expression shape) so tie GROUPS
    // agree; tie-averaged ranks ride the DOUBLED-rank identity as exact
    // integers (dr = 2·cum_before + t + 1 — the a51 rule) over a
    // distributed prefix sum of the distinct-|d| frame (ops.Ranks — no
    // unpartitioned window over users). Σdr ≤ 2n² stays BIGINT-exact
    // while n ≲ 2.1e9 pairs; the z moments are evaluated in doubles
    // (they reach n³). 100 TB shape: one user agg collapses the corpus;
    // the rank machinery runs on the ≤distinct-|d| frame; one join back.
    "a66_wilcoxon_signed" -> ((s, dir) => {
      import s.implicits._
      val pairsU = t(s, dir, "events")
        .filter($"event_type".isin("click", "view"))
        .select($"user_id", ($"event_type" === "click").as("isa"),
          round($"value" * MilliScale).cast("long").as("q"))
        .groupBy($"user_id")
        .agg(sum(when($"isa", 1L).otherwise(0L)).as("n1"),
          sum(when($"isa", $"q").otherwise(0L)).as("s1"),
          sum(when(!$"isa", 1L).otherwise(0L)).as("n2"),
          sum(when(!$"isa", $"q").otherwise(0L)).as("s2"))
        .filter($"n1" > 0L && $"n2" > 0L)
        .withColumn("dq", $"s1" * $"n2" - $"s2" * $"n1")
        .filter($"dq" =!= 0L) // the standard zero-difference drop
        .withColumn("ad", abs(d($"s1") / d($"n1") - d($"s2") / d($"n2")))
        .localCheckpoint() // feeds the tie groups AND the rank join
      val groups = pairsU.groupBy($"ad").agg(count(lit(1)).as("tc"))
        .localCheckpoint() // feeds the prefix sum AND the tie correction
      val cum = graft.ops.Ranks
        .globalCumSum(groups, Seq($"ad"), $"tc", "cumt")
        .withColumn("dr", lit(2L) * ($"cumt" - $"tc") + $"tc" + 1L)
      val tie = groups.agg(
        sum($"tc" * $"tc" * $"tc" - $"tc").as("t3t"))
      pairsU.join(cum.select($"ad", $"dr"), Seq("ad"))
        .agg(count(lit(1)).as("n"),
          sum(when($"dq" > 0L, $"dr").otherwise(0L)).as("w2p"))
        .crossJoin(broadcast(tie))
        .select($"n", $"w2p",
          round((d($"w2p") - d($"n") * (d($"n") + 1.0) / 2.0) /
            sqrt(d($"n") * (d($"n") + 1.0) * (lit(2.0) * d($"n") + 1.0) / 6.0 -
              d($"t3t") / 12.0), 6).as("z"))
    }),

    // ---- Q18: k-anonymity risk audit -------------------------------------
    // The re-identification risk report a privacy review runs BEFORE a
    // corpus ships (Sweeney 2002): treat (lang, source, length-band) as
    // the quasi-identifier, group docs into equivalence classes, and
    // report — per policy threshold k — how many docs sit in classes
    // smaller than k (the re-identifiable mass) plus its exact ppm. The
    // k grid is the usual policy ladder (2, 5, 10, 20). Exactness: pure
    // integer counts and the ledger's ppm rule. 100 TB shape: ONE
    // map-side agg collapses the corpus to ≤ |lang|·|source|·bands
    // equivalence classes; the k grid is a 4-row broadcast against that
    // tiny frame; nothing data-sized ever joins.
    "q18_k_anonymity" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"lang", $"source",
          expr(s"CAST(length(text) div $KAnonBand AS LONG)").as("lb"))
      val cls = docs.groupBy($"lang", $"source", $"lb")
        .agg(count(lit(1)).as("csz"))
        .localCheckpoint() // feeds the totals AND the k grid join
      val tot = cls.agg(sum($"csz").as("n_docs"),
        count(lit(1)).as("n_classes"), min($"csz").as("min_class"))
      val ks = broadcast(s.createDataFrame(
        KAnonKs.map(Tuple1(_))).toDF("k"))
      ks.join(cls, $"csz" < $"k", "left")
        .groupBy($"k")
        .agg(coalesce(sum($"csz"), lit(0L)).as("n_risky_docs"),
          count($"csz").as("n_risky_classes"))
        .crossJoin(broadcast(tot))
        .select($"k", $"n_risky_docs", $"n_risky_classes",
          $"n_classes", $"min_class",
          expr("(n_risky_docs * 1000000) div n_docs").as("risky_ppm"))
        .orderBy($"k")
    }),

    // ---- Q20: signup → purchase time-to-convert ---------------------------
    // The activation-latency report between q8's funnel (does the user
    // convert?) and q16's cohorts (when did they arrive?): per signed-up
    // user, the delay from FIRST signup to the FIRST purchase at-or-
    // after it; the latency distribution as exact deciles (the q17
    // formula — never ntile), with the conversion rate riding along.
    // Exactness: integer epoch seconds end-to-end; the rank pass is the
    // two-pass distributed Ranks (no global window); deciles/ppm ride
    // the ledger rules. 100 TB shape: two per-user aggs collapse the
    // corpus; ONE Ranks pass over the converted-user frame; a ≤10-row
    // report.
    "q20_time_to_convert" -> ((s, dir) => {
      import s.implicits._
      val su = ttcSignups(s, dir)
        .localCheckpoint() // feeds the purchase join AND the signup count
      val pu = t(s, dir, "events")
        .filter($"event_type" === "purchase")
        .select($"user_id", Det.epochS($"ts").as("es"))
        .join(su, Seq("user_id"))
        .filter($"es" >= $"s_es")
        .groupBy($"user_id").agg(min($"es" - $"s_es").as("delta_s"))
        .localCheckpoint() // feeds the converted count AND the rank pass
      ttcReport(s, pu, su.agg(count(lit(1)).as("n_signup")))
    }),

    // ---- A69: seasonal-strength decomposition -----------------------------
    // The "why" behind a68's winner column: per event_type, how much of
    // the hourly variance does the hour-of-day profile explain?
    // strength = 1 − SS_resid/SS_total with SS_resid summed over the
    // ≤24 hour-of-day cells (Hyndman & Athanasopoulos's STL seasonal-
    // strength measure, on the mean-profile decomposition) — near 0
    // here, which is exactly why the seasonal naive loses the a68
    // backtest. Also reports the peak hour and its mean via ONE packed
    // BIGINT argmax key (mean_ppm·32 + (31 − hod): exact while
    // mean_ppm < 2^58 ≈ 2.9e17 — cents·10⁶ per hour, ledgered; ties →
    // smallest hod). Exactness: BIGINT cents moments; per-cell residual
    // terms fold SORTED over ≤24 doubles (the t30 rule). 100 TB shape:
    // the SHARED hourly agg + a ≤24·types cell agg; nothing data-sized
    // after the first collapse.
    "a69_seasonal_strength" -> ((s, dir) => {
      import s.implicits._
      val d = (c: Column) => c.cast("double")
      val grid = holtHourly(s, dir)
        .withColumn("hod", expr("hr % 24"))
        .localCheckpoint() // feeds the total AND the cell moments
      val tot = grid.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"v").as("sx"),
          sum($"v" * $"v").as("sx2"))
      val cells = grid.groupBy($"event_type", $"hod")
        .agg(count(lit(1)).as("nh"), sum($"v").as("sxh"),
          sum($"v" * $"v").as("sx2h"))
        .withColumn("resid",
          d($"sx2h") - d($"sxh") * d($"sxh") / d($"nh"))
        .withColumn("pk",
          expr("(sxh * 1000000) div nh") * 32L + (lit(31L) - $"hod"))
      val agg = cells.groupBy($"event_type")
        .agg(aggregate(sort_array(collect_list($"resid")), lit(0.0),
          (a, x) => a + x).as("ssr"),
          max($"pk").as("pk"))
      tot.join(agg, Seq("event_type"))
        .withColumn("sst", d($"sx2") - d($"sx") * d($"sx") / d($"n"))
        .select($"event_type", $"n".as("n_hours"),
          round(lit(1.0) - $"ssr" / $"sst", 6).as("seasonal_strength"),
          (lit(31L) - ($"pk" % 32L)).as("peak_hod"),
          round(expr("(pk div 32)").cast("double") / 100000000.0, 6)
            .as("peak_mean"))
        .orderBy($"event_type")
    }),

    // ---- Q19: A/B experiment power / minimal detectable effect ------------
    // The pre-readout every experimentation platform computes (and the
    // decision layer over a39's Welch test): treating each event_type
    // as a treatment arm against the 'view' control, the Welch standard
    // error from exact milli-moments, the minimal detectable effect at
    // two-sided α = 0.05 / power 0.8 (MDE = (z_{.975} + z_{.80})·se),
    // the observed mean difference, and whether the observed effect
    // clears the MDE ("powered" — compared on the UNROUNDED doubles,
    // bit-identical in both engines). Exactness: BIGINT milli-moments
    // (the a19/a39 family bound), one fixed-shape double formula.
    // 100 TB shape: ONE map-side moment agg collapses the corpus; the
    // control row broadcasts.
    "q19_ab_power" -> ((s, dir) => {
      import s.implicits._
      val d = (c: Column) => c.cast("double")
      val mom = abPowerMoments(s, dir)
      val ctrl = mom.filter($"event_type" === "view")
        .select($"n".as("n_c"), $"sq".as("sq_c"), $"sq2".as("sq2_c"))
      mom.filter($"event_type" =!= "view")
        .crossJoin(broadcast(ctrl))
        .withColumn("var_t",
          (d($"sq2") - d($"sq") * d($"sq") / d($"n")) / d($"n" - 1L))
        .withColumn("var_c",
          (d($"sq2_c") - d($"sq_c") * d($"sq_c") / d($"n_c")) /
            d($"n_c" - 1L))
        .withColumn("se", sqrt($"var_t" / d($"n") + $"var_c" / d($"n_c")))
        .withColumn("diff", d($"sq") / d($"n") - d($"sq_c") / d($"n_c"))
        .withColumn("mde", (lit(Z975) + lit(Z80)) * $"se")
        .select($"event_type", $"n".as("n_treat"), $"n_c".as("n_ctrl"),
          round($"diff" / 1000.0, 6).as("mean_diff"),
          round($"mde" / 1000.0, 6).as("mde_abs"),
          (abs($"diff") >= $"mde").as("powered"))
        .orderBy($"event_type")
    }),

    // ---- A68: one-step forecast backtest (model selection) ----------------
    // The M-competition question the a61/a67 family begs: WHICH
    // forecaster earns its keep on this series? Per event_type, the
    // one-step-ahead SSE of (i) the naive carry-forward x_{t−1}, (ii)
    // the seasonal naive x_{t−m}, and (iii) a61's Holt smoother, all
    // over the SAME evaluation range t = m+1..n of the SHARED
    // holtHourly grid, plus the argmin winner. Exactness: the two
    // naive SSEs are EXACT BIGINT (integer cents diffs squared,
    // order-free sums — no fold needed); Holt's SSE rides the a61
    // snapshot-array fold widened with the position so accumulation
    // starts at t = m+1 (the a67 index-encoding for DuckDB's init-less
    // list_reduce); the winner CASE compares bit-identical doubles
    // with a fixed tie precedence (holt ≤ seasonal ≤ naive).
    // 100 TB shape: ONE (hour, type) agg + one type-keyed window pass
    // for the lags + the per-type fold.
    "a68_forecast_backtest" -> ((s, dir) => {
      import s.implicits._
      val m = HwM
      val al = HoltAlpha; val be = HoltBeta
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"hr")
      val grid = holtHourly(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("d1", $"v" - lag($"v", 1).over(w))
        .withColumn("dm", $"v" - lag($"v", m).over(w))
        .localCheckpoint() // feeds the naive sums AND the fold series
      val naive = grid.filter($"rn" > m)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum($"d1" * $"d1").as("sse_naive_c2"),
          sum($"dm" * $"dm").as("sse_snaive_c2"))
      val holt = grid.groupBy($"event_type")
        .agg(transform(sort_array(collect_list(struct($"hr", $"v"))),
          x => x.getField("v").cast("double")).as("xs"))
        .filter(size($"xs") >= 2 * m + 1)
        .withColumn("fin", aggregate(
          sequence(lit(2), size($"xs")),
          array(element_at($"xs", 1), lit(0.0), lit(0.0)),
          (acc, i) => {
            val x = element_at($"xs", i)
            val pl = element_at(acc, lit(1))
            val pb = element_at(acc, lit(2))
            val nl = lit(al) * x + lit(1.0 - al) * (pl + pb)
            val err = x - (pl + pb)
            array(nl,
              lit(be) * (nl - pl) + lit(1.0 - be) * pb,
              when(i >= lit(m + 1),
                element_at(acc, lit(3)) + err * err)
                .otherwise(element_at(acc, lit(3))))
          }))
        .select($"event_type", element_at($"fin", 3).as("sse_holt"))
      naive.join(holt, Seq("event_type"))
        .withColumn("rmse_naive",
          sqrt($"sse_naive_c2".cast("double") / $"n_eval".cast("double")) / 100.0)
        .withColumn("rmse_snaive",
          sqrt($"sse_snaive_c2".cast("double") / $"n_eval".cast("double")) / 100.0)
        .withColumn("rmse_holt",
          sqrt($"sse_holt" / $"n_eval".cast("double")) / 100.0)
        .select($"event_type", $"n_eval",
          round($"rmse_naive", 6).as("rmse_naive"),
          round($"rmse_snaive", 6).as("rmse_snaive"),
          round($"rmse_holt", 6).as("rmse_holt"),
          when($"rmse_holt" <= $"rmse_snaive" &&
              $"rmse_holt" <= $"rmse_naive", "holt")
            .when($"rmse_snaive" <= $"rmse_naive", "seasonal_naive")
            .otherwise("naive").as("winner"))
        .orderBy($"event_type")
    }),

    // ---- A67: Holt–Winters additive-seasonal smoothing --------------------
    // a61 extended one component (Winters 1960; the NIST/ES textbook
    // triple smoothing): level + trend + a 24-hour additive seasonal
    // profile over the SHARED holtHourly grid. Init = the standard
    // two-season recipe (l₀ = season-1 mean, b₀ = (season-2 mean −
    // season-1 mean)/m, s = season-1 deviations); fold runs t = m+1..n
    // with the one-step-ahead SSE accumulated against l+b+s. Exactness:
    // the a61 snapshot-array recipe with the state widened to 3+m
    // doubles — and DuckDB 1.0's list_reduce has NO initial-value arg,
    // so the oracle encodes the init as the fold list's FIRST element
    // and the t indices as 1-element arrays (element type = accumulator
    // type; probed). All smoothing constants dyadic; every step's
    // multiply-add association written identically in both engines.
    // Reports level/trend/seasonal amplitude/3-step forecast (the
    // seasonal slot of t+3)/1-step rmse, cents → dollars at 6dp.
    // 100 TB shape: ONE (hour, type) map-side agg collapses the corpus;
    // the fold runs on ≤hours elements per type (a61's 2^53 cents rule).
    "a67_holt_winters" -> ((s, dir) => {
      import s.implicits._
      val m = HwM
      val md = m.toDouble
      val al = HoltAlpha; val be = HoltBeta; val ga = HwGamma
      val ser = holtHourly(s, dir).groupBy($"event_type")
        .agg(transform(sort_array(collect_list(struct($"hr", $"v"))),
          x => x.getField("v").cast("double")).as("xs"))
        .filter(size($"xs") >= 2 * m + 1) // two init seasons + ≥1 step
        .withColumn("l0", aggregate(slice($"xs", 1, m), lit(0.0),
          (ac, x) => ac + x) / lit(md))
        .withColumn("m2", aggregate(slice($"xs", m + 1, m), lit(0.0),
          (ac, x) => ac + x) / lit(md))
        .withColumn("b0", ($"m2" - $"l0") / lit(md))
        .withColumn("ini", concat(array($"l0", $"b0", lit(0.0)),
          transform(slice($"xs", 1, m), x => x - $"l0")))
      val fin = ser.withColumn("fin",
        aggregate(sequence(lit(m + 1), size($"xs")), $"ini",
          (acc, i) => {
            val x = element_at($"xs", i)
            val j = ((i - lit(1)) % lit(m)) + lit(1)
            val sj = element_at(acc, j + lit(3))
            val pl = element_at(acc, lit(1))
            val pb = element_at(acc, lit(2))
            val nl = lit(al) * (x - sj) + lit(1.0 - al) * (pl + pb)
            val nb = lit(be) * (nl - pl) + lit(1.0 - be) * pb
            val ns = lit(ga) * ((x - pl) - pb) + lit(1.0 - ga) * sj
            val err = x - ((pl + pb) + sj)
            concat(array(nl, nb, element_at(acc, lit(3)) + err * err),
              transform(sequence(lit(1), lit(m)), k =>
                when(k === j, ns).otherwise(element_at(acc, k + lit(3)))))
          }))
      fin.select($"event_type", size($"xs").cast("long").as("n_hours"),
          round(element_at($"fin", 1) / 100.0, 6).as("level"),
          round(element_at($"fin", 2) / 100.0, 6).as("trend"),
          round((array_max(slice($"fin", 4, m)) -
            array_min(slice($"fin", 4, m))) / 100.0, 6).as("s_amp"),
          round(((element_at($"fin", 1) +
            lit(HoltH) * element_at($"fin", 2)) +
            element_at($"fin",
              ((size($"xs") + lit(2)) % lit(m)) + lit(1) + lit(3))) / 100.0,
            6).as("forecast_h3"),
          round(sqrt(element_at($"fin", 3) /
            (size($"xs") - m).cast("double")) / 100.0, 6).as("rmse_1step"))
        .orderBy($"event_type")
    }),

    // ---- P27: partition/key-skew audit -----------------------------------
    // The report a Spark operator runs BEFORE choosing a shuffle key,
    // salt factor or AQE skew threshold (the repo's own 100 TB design
    // loop, turned into a queryable operator): per-key row counts over
    // the candidate shuffle key, the top-K hot keys with their exact
    // corpus share, and the max/mean skew factor in ppm — max/mean ≈ 1e6
    // means a uniform key, ≫ 1e6 means the hottest partition is that
    // many times the average (salt or isolate it). Exactness: integer
    // counts + the ppm rule (max_cnt·n_keys·10⁶ < 2^63 ⇒ product
    // ≲ 9.2e12 — ledgered). 100 TB shape: ONE map-side agg collapses
    // the corpus to the key-cardinality frame; top-K is
    // TakeOrderedAndProject (per-partition heads); the rank window
    // runs on ≤ K rows (the q17 rule).
    "p27_skew_audit" -> ((s, dir) => {
      import s.implicits._
      val keys = t(s, dir, "events").groupBy($"user_id")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds the totals AND the top-K
      val tot = keys.agg(count(lit(1)).as("n_keys"),
        sum($"cnt").as("n_rows"), max($"cnt").as("max_cnt"))
      keys.orderBy($"cnt".desc, $"user_id").limit(SkewTopK)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"cnt".desc, $"user_id")).cast("long")) // ≤ K rows
        .crossJoin(broadcast(tot))
        .select($"rank", $"user_id", $"cnt",
          expr("(cnt * 1000000) div n_rows").as("share_ppm"),
          $"n_keys", $"n_rows",
          expr("(max_cnt * n_keys * 1000000) div n_rows")
            .as("max_over_mean_ppm"))
        .orderBy($"rank")
    }),

    // ---- G11: Newman modularity of the g5 partition --------------------
    // Scores the community structure g5's LPA found on the trade graph
    // (Newman & Girvan 2004): Q = Σ_c [e_c/m − (d_c/2m)²], computed as
    // the exact BIGINT N = Σ_c (E·e2_c − d_c²) over the directed-both-
    // ways edge frame (E = 2m directed edges, e2_c = directed
    // intra-community edges, d_c = community degree sum; Q = N/E²) — one
    // integer until the single final division, so no per-community float
    // fold at any community count. Graph and rounds are THE g5 ones
    // (Analytics.tradeGraphEdges / LpaRounds — shared code, shared
    // oracle CTEs). 100 TB shape: LPA's co-partitioned rounds + two
    // node-keyed joins of labels onto edges/degrees + ≤communities-row
    // aggs; N stays exact while communities·E² < 2^63 (E ≲ 3e9 directed
    // edges — beyond, widen N to DECIMAL(38,0), the a40 tie3 escape).
    "g11_modularity" -> ((s, dir) => {
      import s.implicits._
      val edges = Analytics.tradeGraphEdges(s, dir)
        .repartition($"src").localCheckpoint()
      val lab = graft.ops.Lpa.propagate(edges, Analytics.LpaRounds)
        .localCheckpoint()
      val inC = edges
        .join(lab.select($"node".as("src"), $"lbl".as("sl")), Seq("src"))
        .join(lab.select($"node".as("dst"), $"lbl".as("dl")), Seq("dst"))
        .filter($"sl" === $"dl")
        .groupBy($"sl".as("lbl")).agg(count(lit(1)).as("e2c"))
      val dc = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
        .join(lab, Seq("node"))
        .groupBy($"lbl").agg(sum($"deg").as("dcs"))
      val tot = edges.agg(count(lit(1)).as("e2"))
      dc.join(inC, Seq("lbl"), "left")
        .select($"lbl", coalesce($"e2c", lit(0L)).as("e2c"), $"dcs")
        .crossJoin(broadcast(tot))
        .groupBy($"e2")
        .agg(count(lit(1)).as("n_communities"),
          sum($"e2" * $"e2c" - $"dcs" * $"dcs").as("num"))
        .select(expr("e2 div 2").as("n_edges"), $"n_communities",
          round(d($"num") / (d($"e2") * d($"e2")), 6).as("modularity"))
    }))

  def oracles: Map[String, String] = Map(

    "a62_ljung_box" -> {
      val lags = (1 to LbMaxLag).map(l => s"($l)").mkString(", ")
      s"""WITH o AS (
         |  SELECT CAST(round(value * 1000) AS BIGINT) AS q,
         |    row_number() OVER (ORDER BY ${Det.epochSSql("ts")}, event_id)
         |      AS pos,
         |    count(*) OVER () AS n
         |  FROM events),
         |ht AS (
         |  SELECT l.lag, max(o.n) AS n,
         |    CAST(sum(CASE WHEN o.pos <= o.n - l.lag THEN o.q
         |      ELSE 0 END) AS BIGINT) AS hk,
         |    CAST(sum(CASE WHEN o.pos > l.lag THEN o.q
         |      ELSE 0 END) AS BIGINT) AS tk
         |  FROM (VALUES $lags) l(lag) JOIN o ON true
         |  GROUP BY l.lag),
         |pk AS (
         |  SELECT lag, CAST(sum(xq * yq) AS BIGINT) AS pk
         |  FROM (${Stats.lagPairsSql(LbMaxLag)}) p
         |  GROUP BY lag),
         |mom AS (
         |  SELECT CAST(sum(q) AS BIGINT) AS sq,
         |    CAST(sum(q * q) AS BIGINT) AS ssq
         |  FROM o),
         |rho AS (
         |  SELECT ht.lag, ht.n,
         |    round((CAST(pk.pk AS DOUBLE)
         |        - (CAST(mom.sq AS DOUBLE) / CAST(ht.n AS DOUBLE))
         |          * CAST(ht.hk + ht.tk AS DOUBLE)
         |        + (CAST(mom.sq AS DOUBLE) / CAST(ht.n AS DOUBLE))
         |          * (CAST(mom.sq AS DOUBLE) / CAST(ht.n AS DOUBLE))
         |          * CAST(ht.n - ht.lag AS DOUBLE))
         |      / (CAST(mom.ssq AS DOUBLE)
         |        - CAST(mom.sq AS DOUBLE) * CAST(mom.sq AS DOUBLE)
         |          / CAST(ht.n AS DOUBLE)), 6) AS rho
         |  FROM ht JOIN pk ON pk.lag = ht.lag CROSS JOIN mom),
         |r AS (
         |  SELECT CAST(max(n) AS BIGINT) AS n,
         |    max(CASE WHEN lag = 1 THEN rho END) AS rho1,
         |    max(CASE WHEN lag = 2 THEN rho END) AS rho2,
         |    max(CASE WHEN lag = 3 THEN rho END) AS rho3
         |  FROM rho)
         |SELECT n, rho1, rho2, rho3,
         |  round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) *
         |    (rho1 * rho1 / CAST(n - 1 AS DOUBLE)
         |      + rho2 * rho2 / CAST(n - 2 AS DOUBLE)
         |      + rho3 * rho3 / CAST(n - 3 AS DOUBLE)), 6) AS q_lb
         |FROM r""".stripMargin
    },

    "a63_cramers_v" ->
      s"""WITH $contingencySql,
         |rowm AS (SELECT lang, CAST(sum(o) AS BIGINT) AS nr
         |         FROM cells GROUP BY 1),
         |colm AS (SELECT source, CAST(sum(o) AS BIGINT) AS nc
         |         FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS r,
         |    CAST(count(DISTINCT source) AS BIGINT) AS c
         |  FROM cells),
         |grid AS (
         |  SELECT rowm.lang, colm.source, rowm.nr, colm.nc,
         |    COALESCE(cells.o, 0) AS o
         |  FROM rowm CROSS JOIN colm
         |  LEFT JOIN cells
         |    ON cells.lang = rowm.lang AND cells.source = colm.source),
         |terms AS (
         |  SELECT CAST(o * n - nr * nc AS DOUBLE)
         |      * CAST(o * n - nr * nc AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * CAST(nr AS DOUBLE)
         |        * CAST(nc AS DOUBLE)) AS term,
         |    n, r, c
         |  FROM grid CROSS JOIN tot),
         |f AS (
         |  SELECT n, r, c,
         |    list_reduce(list_sort(list(term)), (a, x) -> a + x) AS chi2
         |  FROM terms GROUP BY n, r, c)
         |SELECT n, r, c, round(chi2, 6) AS chi2,
         |  round(sqrt(chi2 / (CAST(n AS DOUBLE)
         |    * CAST(least(r, c) - 1 AS DOUBLE))), 6) AS cramers_v
         |FROM f""".stripMargin,

    "a64_mutual_info" ->
      s"""WITH $contingencySql,
         |rowm AS (SELECT lang, CAST(sum(o) AS BIGINT) AS nr
         |         FROM cells GROUP BY 1),
         |colm AS (SELECT source, CAST(sum(o) AS BIGINT) AS nc
         |         FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         |mi AS (
         |  SELECT n, list_reduce(list_sort(list(term)), (a, x) -> a + x)
         |      AS mi
         |  FROM (
         |    SELECT tot.n,
         |      CAST(cells.o AS DOUBLE) / CAST(tot.n AS DOUBLE)
         |        * ln(CAST(cells.o * tot.n AS DOUBLE)
         |          / CAST(rowm.nr * colm.nc AS DOUBLE)) AS term
         |    FROM cells JOIN rowm ON rowm.lang = cells.lang
         |    JOIN colm ON colm.source = cells.source
         |    CROSS JOIN tot)
         |  GROUP BY n),
         |hl AS (
         |  SELECT -list_reduce(list_sort(list(
         |      CAST(nr AS DOUBLE) / CAST(n AS DOUBLE)
         |        * ln(CAST(nr AS DOUBLE) / CAST(n AS DOUBLE)))),
         |    (a, x) -> a + x) AS h_lang
         |  FROM rowm CROSS JOIN tot),
         |hs AS (
         |  SELECT -list_reduce(list_sort(list(
         |      CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)
         |        * ln(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)))),
         |    (a, x) -> a + x) AS h_source
         |  FROM colm CROSS JOIN tot)
         |SELECT n, round(mi, 6) AS mi_nats, round(h_lang, 6) AS h_lang,
         |  round(h_source, 6) AS h_source,
         |  round(mi / sqrt(h_lang * h_source), 6) AS nmi
         |FROM mi CROSS JOIN hl CROSS JOIN hs""".stripMargin,

    "w34_lag_features" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es,
         |    CAST(round(value * 1000) AS BIGINT) AS q
         |  FROM events),
         |f AS (
         |  SELECT user_id, event_id, q,
         |    lag(q, 1) OVER win AS lag1,
         |    lag(q, 2) OVER win AS lag2,
         |    CAST(sum(q) OVER (win ROWS BETWEEN 4 PRECEDING AND
         |      CURRENT ROW) AS BIGINT) AS roll_sum5,
         |    CAST(count(*) OVER (win ROWS BETWEEN 4 PRECEDING AND
         |      CURRENT ROW) AS BIGINT) AS roll_n5
         |  FROM ev
         |  WINDOW win AS (PARTITION BY user_id ORDER BY es, event_id))
         |SELECT user_id, event_id, q, lag1, lag2, q - lag1 AS delta1,
         |  roll_sum5, roll_n5,
         |  (roll_sum5 * 1000000) // roll_n5 AS roll_mean_ppm
         |FROM f ORDER BY user_id, event_id""".stripMargin,

    "q16_cohort_matrix" ->
      s"""WITH ev AS (
         |  SELECT user_id, ${Det.epochSSql("ts")} // 86400 AS dd
         |  FROM events),
         |cohort AS (
         |  SELECT user_id, CAST(min(dd) AS BIGINT) AS cd
         |  FROM ev GROUP BY 1),
         |cells AS (
         |  SELECT cd, age, CAST(count(*) AS BIGINT) AS n_active FROM (
         |    SELECT DISTINCT ev.user_id, cohort.cd,
         |      ev.dd - cohort.cd AS age
         |    FROM ev JOIN cohort USING (user_id))
         |  GROUP BY 1, 2),
         |sizes AS (
         |  SELECT cd, CAST(count(*) AS BIGINT) AS cohort_users
         |  FROM cohort GROUP BY 1)
         |SELECT cd AS cohort_day, age, n_active, cohort_users,
         |  (n_active * 1000000) // cohort_users AS retention_ppm
         |FROM cells JOIN sizes USING (cd)
         |ORDER BY cohort_day, age""".stripMargin,

    "q17_lorenz_deciles" ->
      s"""WITH u AS (
         |  SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT))
         |    AS BIGINT) AS m
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         |r AS (
         |  SELECT m, row_number() OVER (ORDER BY m DESC, user_id) AS rk,
         |    count(*) OVER () AS n
         |  FROM u),
         |d AS (
         |  SELECT CAST(((rk - 1) * 10) // n + 1 AS INTEGER) AS decile,
         |    CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(m) AS BIGINT) AS cents
         |  FROM r GROUP BY 1),
         |c AS (
         |  SELECT decile, n_users, cents,
         |    CAST(sum(cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents,
         |    CAST((SELECT sum(cents) FROM d) AS BIGINT) AS tc
         |  FROM d)
         |SELECT decile, n_users, cents, cum_cents,
         |  (cum_cents * 1000000) // tc AS cum_share_ppm
         |FROM c ORDER BY decile""".stripMargin,

    "a66_wilcoxon_signed" ->
      s"""WITH ev AS (
         |  SELECT user_id, (event_type = 'click') AS isa,
         |    CAST(round(value * 1000) AS BIGINT) AS q
         |  FROM events WHERE event_type IN ('click', 'view')),
         |u AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN isa THEN q ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN isa THEN 0 ELSE q END) AS BIGINT) AS s2
         |  FROM ev GROUP BY user_id),
         |p AS (
         |  SELECT user_id, s1 * n2 - s2 * n1 AS dq,
         |    abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         |      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS ad
         |  FROM u WHERE n1 > 0 AND n2 > 0 AND s1 * n2 - s2 * n1 <> 0),
         |g AS (SELECT ad, CAST(count(*) AS BIGINT) AS tc
         |      FROM p GROUP BY ad),
         |c AS (
         |  SELECT ad, tc,
         |    CAST(sum(tc) OVER (ORDER BY ad) AS BIGINT) AS cumt
         |  FROM g),
         |drk AS (SELECT ad, 2 * (cumt - tc) + tc + 1 AS dr FROM c),
         |tie AS (SELECT CAST(sum(tc * tc * tc - tc) AS BIGINT) AS t3t
         |        FROM g),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN p.dq > 0 THEN drk.dr ELSE 0 END)
         |      AS BIGINT) AS w2p
         |  FROM p JOIN drk USING (ad))
         |SELECT n, w2p,
         |  round((CAST(w2p AS DOUBLE)
         |      - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0)
         |    / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
         |        * (2.0 * CAST(n AS DOUBLE) + 1.0) / 6.0
         |      - CAST(t3t AS DOUBLE) / 12.0), 6) AS z
         |FROM agg CROSS JOIN tie""".stripMargin,

    "a65_page_hinkley" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es,
         |    CAST(round(value * 1000) AS BIGINT) AS q
         |  FROM events),
         |w AS (
         |  SELECT user_id, es, event_id,
         |    CAST(row_number() OVER win AS BIGINT) AS rn,
         |    CAST(sum(q) OVER win AS BIGINT) AS s, q
         |  FROM ev WINDOW win AS (PARTITION BY user_id ORDER BY es, event_id)),
         |t AS (
         |  SELECT user_id, es, event_id, rn,
         |    q * 1000000 - (s * 1000000) // rn - $PhDeltaE9 AS term
         |  FROM w),
         |m1 AS (
         |  SELECT user_id, es, event_id, rn,
         |    CAST(sum(term) OVER win AS BIGINT) AS m
         |  FROM t WINDOW win AS (PARTITION BY user_id ORDER BY es, event_id)),
         |m2 AS (
         |  SELECT user_id, es, event_id, rn,
         |    m - CAST(min(m) OVER win AS BIGINT) AS ph
         |  FROM m1 WINDOW win AS (PARTITION BY user_id ORDER BY es, event_id)),
         |crossed AS (
         |  SELECT user_id, 'drift' AS decision, rn AS n_at_decision,
         |    ph AS ph_e9 FROM (
         |    SELECT user_id, rn, ph, row_number() OVER
         |      (PARTITION BY user_id ORDER BY es, event_id) AS pick
         |    FROM m2 WHERE ph > $PhLambdaE9)
         |  WHERE pick = 1),
         |open_u AS (
         |  SELECT user_id, 'stable' AS decision, rn AS n_at_decision,
         |    ph AS ph_e9 FROM (
         |    SELECT m.user_id, rn, ph, row_number() OVER
         |      (PARTITION BY m.user_id ORDER BY es DESC, event_id DESC)
         |      AS pick
         |    FROM m2 m ANTI JOIN crossed c ON m.user_id = c.user_id)
         |  WHERE pick = 1)
         |SELECT user_id, decision, n_at_decision, ph_e9 FROM crossed
         |UNION ALL
         |SELECT user_id, decision, n_at_decision, ph_e9 FROM open_u
         |ORDER BY user_id""".stripMargin,

    "a61_holt" -> {
      val a = HoltAlpha
      val b = HoltBeta
      s"""WITH hourly AS (
         |  SELECT ${Det.epochSSql("ts")} // 3600 AS hr, event_type,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
         |  FROM events GROUP BY 1, 2),
         |grid AS (
         |  SELECT h.hr, t.event_type, COALESCE(hourly.v, 0) AS v
         |  FROM (SELECT DISTINCT hr FROM hourly) h
         |  CROSS JOIN (SELECT DISTINCT event_type FROM hourly) t
         |  LEFT JOIN hourly
         |    ON hourly.hr = h.hr AND hourly.event_type = t.event_type),
         |ser AS (
         |  SELECT event_type,
         |    CAST(count(*) AS BIGINT) AS n_hours,
         |    list_reduce(
         |      list_transform(list(CAST(v AS DOUBLE) ORDER BY hr),
         |        x -> [x, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)]),
         |      (acc, e) -> [
         |        $a * e[1] + ${1.0 - a} * (acc[1] + acc[2]),
         |        $b * ($a * e[1] + ${1.0 - a} * (acc[1] + acc[2])
         |            - acc[1]) + ${1.0 - b} * acc[2],
         |        acc[3] + (e[1] - (acc[1] + acc[2]))
         |          * (e[1] - (acc[1] + acc[2]))]) AS fin
         |  FROM grid GROUP BY event_type)
         |SELECT event_type, n_hours,
         |  round(fin[1] / 100.0, 6) AS level,
         |  round(fin[2] / 100.0, 6) AS trend,
         |  round((fin[1] + $HoltH * fin[2]) / 100.0, 6) AS forecast_h3,
         |  round(sqrt(fin[3] / CAST(n_hours - 1 AS DOUBLE)) / 100.0, 6)
         |    AS rmse_1step
         |FROM ser WHERE n_hours >= 2 ORDER BY event_type""".stripMargin
    },

    "q20_time_to_convert" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, ${Det.epochSSql("ts")} AS es
         |  FROM events),
         |su AS (
         |  SELECT user_id, CAST(min(es) AS BIGINT) AS s_es
         |  FROM ev WHERE event_type = 'signup' GROUP BY 1),
         |pu AS (
         |  SELECT ev.user_id, CAST(min(es - s_es) AS BIGINT) AS delta_s
         |  FROM ev JOIN su ON ev.user_id = su.user_id
         |  WHERE event_type = 'purchase' AND es >= s_es GROUP BY 1),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_signup FROM su),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_converted FROM pu),
         |rk AS (
         |  SELECT delta_s,
         |    row_number() OVER (ORDER BY delta_s, user_id) AS rk,
         |    count(*) OVER () AS n
         |  FROM pu),
         |dec AS (
         |  SELECT CAST(((rk - 1) * 10) // n + 1 AS INTEGER) AS decile,
         |    CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(max(delta_s) AS BIGINT) AS max_delta_s
         |  FROM rk GROUP BY 1)
         |SELECT decile, n_users, max_delta_s, n_signup, n_converted,
         |  (n_converted * 1000000) // n_signup AS conv_ppm
         |FROM dec CROSS JOIN ns CROSS JOIN nc ORDER BY decile""".stripMargin,

    "a69_seasonal_strength" ->
      s"""WITH hourly AS (
         |  SELECT ${Det.epochSSql("ts")} // 3600 AS hr, event_type,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
         |  FROM events GROUP BY 1, 2),
         |grid AS (
         |  SELECT h.hr, t.event_type, COALESCE(hourly.v, 0) AS v,
         |    h.hr % 24 AS hod
         |  FROM (SELECT DISTINCT hr FROM hourly) h
         |  CROSS JOIN (SELECT DISTINCT event_type FROM hourly) t
         |  LEFT JOIN hourly
         |    ON hourly.hr = h.hr AND hourly.event_type = t.event_type),
         |tot AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS sx,
         |    CAST(sum(v * v) AS BIGINT) AS sx2
         |  FROM grid GROUP BY 1),
         |cells AS (
         |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS nh,
         |    CAST(sum(v) AS BIGINT) AS sxh,
         |    CAST(sum(v * v) AS BIGINT) AS sx2h
         |  FROM grid GROUP BY 1, 2),
         |c2 AS (
         |  SELECT event_type,
         |    CAST(sx2h AS DOUBLE) - CAST(sxh AS DOUBLE)
         |      * CAST(sxh AS DOUBLE) / CAST(nh AS DOUBLE) AS resid,
         |    ((sxh * 1000000) // nh) * 32 + (31 - hod) AS pk
         |  FROM cells),
         |ag AS (
         |  SELECT event_type,
         |    list_reduce(list_sort(list(resid)), (a, x) -> a + x) AS ssr,
         |    CAST(max(pk) AS BIGINT) AS pk
         |  FROM c2 GROUP BY 1)
         |SELECT tot.event_type, n AS n_hours,
         |  round(1.0 - ssr / (CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE)
         |    * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         |    AS seasonal_strength,
         |  CAST(31 - (pk % 32) AS BIGINT) AS peak_hod,
         |  round(CAST(pk // 32 AS DOUBLE) / 100000000.0, 6) AS peak_mean
         |FROM tot JOIN ag ON tot.event_type = ag.event_type
         |ORDER BY tot.event_type""".stripMargin,

    "q19_ab_power" ->
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
         |r AS (
         |  SELECT event_type, n, n_c,
         |    (CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
         |      / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS var_t,
         |    (CAST(sq2_c AS DOUBLE) - CAST(sq_c AS DOUBLE)
         |      * CAST(sq_c AS DOUBLE) / CAST(n_c AS DOUBLE))
         |      / CAST(n_c - 1 AS DOUBLE) AS var_c,
         |    CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
         |      - CAST(sq_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS diff
         |  FROM mom CROSS JOIN ctrl WHERE event_type <> 'view'),
         |r2 AS (
         |  SELECT event_type, n, n_c, diff,
         |    ($Z975 + $Z80) * sqrt(var_t / CAST(n AS DOUBLE)
         |      + var_c / CAST(n_c AS DOUBLE)) AS mde
         |  FROM r)
         |SELECT event_type, n AS n_treat, n_c AS n_ctrl,
         |  round(diff / 1000.0, 6) AS mean_diff,
         |  round(mde / 1000.0, 6) AS mde_abs,
         |  (abs(diff) >= mde) AS powered
         |FROM r2 ORDER BY event_type""".stripMargin,

    "a68_forecast_backtest" -> {
      val a = HoltAlpha
      val b = HoltBeta
      val m = HwM
      val x = "e[1]"
      val nl = s"$a * $x + ${1.0 - a} * (acc[1] + acc[2])"
      s"""WITH hourly AS (
         |  SELECT ${Det.epochSSql("ts")} // 3600 AS hr, event_type,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
         |  FROM events GROUP BY 1, 2),
         |grid AS (
         |  SELECT h.hr, t.event_type, COALESCE(hourly.v, 0) AS v
         |  FROM (SELECT DISTINCT hr FROM hourly) h
         |  CROSS JOIN (SELECT DISTINCT event_type FROM hourly) t
         |  LEFT JOIN hourly
         |    ON hourly.hr = h.hr AND hourly.event_type = t.event_type),
         |lagd AS (
         |  SELECT event_type, hr, v,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hr) AS rn,
         |    v - lag(v, 1) OVER (PARTITION BY event_type ORDER BY hr) AS d1,
         |    v - lag(v, $m) OVER (PARTITION BY event_type ORDER BY hr) AS dm
         |  FROM grid),
         |nv AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
         |    CAST(sum(d1 * d1) AS BIGINT) AS sse_naive_c2,
         |    CAST(sum(dm * dm) AS BIGINT) AS sse_snaive_c2
         |  FROM lagd WHERE rn > $m GROUP BY 1),
         |ser AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
         |    list(CAST(v AS DOUBLE) ORDER BY hr) AS xs
         |  FROM grid GROUP BY event_type),
         |ho AS (
         |  SELECT event_type,
         |    list_reduce(
         |      list_concat([[xs[1], CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)]],
         |        list_transform(range(2, n_hours + 1),
         |          ii -> [xs[ii], CAST(ii AS DOUBLE)])),
         |      (acc, e) -> [
         |        $nl,
         |        $b * (($nl) - acc[1]) + ${1.0 - b} * acc[2],
         |        CASE WHEN CAST(e[2] AS BIGINT) >= ${m + 1}
         |          THEN acc[3] + ($x - (acc[1] + acc[2]))
         |            * ($x - (acc[1] + acc[2]))
         |          ELSE acc[3] END])[3] AS sse_holt
         |  FROM ser WHERE n_hours >= ${2 * m + 1}),
         |r AS (
         |  SELECT nv.event_type, n_eval,
         |    sqrt(CAST(sse_naive_c2 AS DOUBLE) / CAST(n_eval AS DOUBLE))
         |      / 100.0 AS rmse_naive,
         |    sqrt(CAST(sse_snaive_c2 AS DOUBLE) / CAST(n_eval AS DOUBLE))
         |      / 100.0 AS rmse_snaive,
         |    sqrt(sse_holt / CAST(n_eval AS DOUBLE)) / 100.0 AS rmse_holt
         |  FROM nv JOIN ho ON nv.event_type = ho.event_type)
         |SELECT event_type, n_eval,
         |  round(rmse_naive, 6) AS rmse_naive,
         |  round(rmse_snaive, 6) AS rmse_snaive,
         |  round(rmse_holt, 6) AS rmse_holt,
         |  CASE WHEN rmse_holt <= rmse_snaive AND rmse_holt <= rmse_naive
         |    THEN 'holt'
         |    WHEN rmse_snaive <= rmse_naive THEN 'seasonal_naive'
         |    ELSE 'naive' END AS winner
         |FROM r ORDER BY event_type""".stripMargin
    },

    "a67_holt_winters" -> {
      val a = HoltAlpha
      val b = HoltBeta
      val g = HwGamma
      val m = HwM
      // the fold-step fragments, with i := CAST(e[1] AS BIGINT)
      val i = "CAST(e[1] AS BIGINT)"
      val x = s"xs[$i]"
      val j = s"(($i - 1) % $m) + 1"
      val sj = s"acc[(($i - 1) % $m) + 1 + 3]"
      val nl = s"$a * ($x - $sj) + ${1.0 - a} * (acc[1] + acc[2])"
      val nb = s"$b * (($nl) - acc[1]) + ${1.0 - b} * acc[2]"
      val ns = s"$g * (($x - acc[1]) - acc[2]) + ${1.0 - g} * $sj"
      val err = s"($x - ((acc[1] + acc[2]) + $sj))"
      s"""WITH hourly AS (
         |  SELECT ${Det.epochSSql("ts")} // 3600 AS hr, event_type,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
         |  FROM events GROUP BY 1, 2),
         |grid AS (
         |  SELECT h.hr, t.event_type, COALESCE(hourly.v, 0) AS v
         |  FROM (SELECT DISTINCT hr FROM hourly) h
         |  CROSS JOIN (SELECT DISTINCT event_type FROM hourly) t
         |  LEFT JOIN hourly
         |    ON hourly.hr = h.hr AND hourly.event_type = t.event_type),
         |ser AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
         |    list(CAST(v AS DOUBLE) ORDER BY hr) AS xs
         |  FROM grid GROUP BY event_type),
         |ini AS (
         |  SELECT event_type, n_hours, xs,
         |    list_reduce(xs[1:$m], (ac, x) -> ac + x)
         |      / CAST($m.0 AS DOUBLE) AS l0,
         |    list_reduce(xs[${m + 1}:${2 * m}], (ac, x) -> ac + x)
         |      / CAST($m.0 AS DOUBLE) AS m2
         |  FROM ser WHERE n_hours >= ${2 * m + 1}),
         |ini2 AS (
         |  SELECT event_type, n_hours, xs, l0,
         |    (m2 - l0) / CAST($m.0 AS DOUBLE) AS b0
         |  FROM ini),
         |ini3 AS (
         |  SELECT event_type, n_hours, xs,
         |    list_concat(list_value(l0, b0, CAST(0.0 AS DOUBLE)),
         |      list_transform(xs[1:$m], x -> x - l0)) AS ini
         |  FROM ini2),
         |fold AS (
         |  SELECT event_type, n_hours, xs,
         |    list_reduce(
         |      list_concat([ini],
         |        list_transform(range(${m + 1}, n_hours + 1),
         |          ii -> [CAST(ii AS DOUBLE)])),
         |      (acc, e) -> list_concat(
         |        list_value($nl, $nb, acc[3] + $err * $err),
         |        list_transform(range(1, ${m + 1}), k ->
         |          CASE WHEN k = $j THEN $ns ELSE acc[k + 3] END))) AS fin
         |  FROM ini3)
         |SELECT event_type, n_hours,
         |  round(fin[1] / 100.0, 6) AS level,
         |  round(fin[2] / 100.0, 6) AS trend,
         |  round((list_max(fin[4:${m + 3}]) - list_min(fin[4:${m + 3}]))
         |    / 100.0, 6) AS s_amp,
         |  round(((fin[1] + $HoltH * fin[2]) +
         |    fin[((n_hours + 2) % $m) + 1 + 3]) / 100.0, 6) AS forecast_h3,
         |  round(sqrt(fin[3] / CAST(n_hours - $m AS DOUBLE)) / 100.0, 6)
         |    AS rmse_1step
         |FROM fold ORDER BY event_type""".stripMargin
    },

    "p27_skew_audit" ->
      s"""WITH kc AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |    CAST(sum(cnt) AS BIGINT) AS n_rows,
         |    CAST(max(cnt) AS BIGINT) AS max_cnt
         |  FROM kc),
         |top AS (
         |  SELECT user_id, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, user_id) AS rank
         |  FROM kc ORDER BY cnt DESC, user_id LIMIT $SkewTopK)
         |SELECT rank, user_id, cnt,
         |  (cnt * 1000000) // n_rows AS share_ppm, n_keys, n_rows,
         |  (max_cnt * n_keys * 1000000) // n_rows AS max_over_mean_ppm
         |FROM top CROSS JOIN tot ORDER BY rank""".stripMargin,

    "q18_k_anonymity" ->
      s"""WITH cls AS (
         |  SELECT lang, source, CAST(len(text) AS BIGINT) // $KAnonBand
         |      AS lb, CAST(count(*) AS BIGINT) AS csz
         |  FROM documents GROUP BY 1, 2, 3),
         |tot AS (
         |  SELECT CAST(sum(csz) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_classes,
         |    CAST(min(csz) AS BIGINT) AS min_class
         |  FROM cls)
         |SELECT CAST(k.k AS BIGINT) AS k,
         |  CAST(coalesce(sum(cls.csz), 0) AS BIGINT) AS n_risky_docs,
         |  CAST(count(cls.csz) AS BIGINT) AS n_risky_classes,
         |  any_value(tot.n_classes) AS n_classes,
         |  any_value(tot.min_class) AS min_class,
         |  (CAST(coalesce(sum(cls.csz), 0) AS BIGINT) * 1000000)
         |    // any_value(tot.n_docs) AS risky_ppm
         |FROM (VALUES (2), (5), (10), (20)) k(k)
         |LEFT JOIN cls ON cls.csz < k.k
         |CROSS JOIN tot
         |GROUP BY k.k ORDER BY k.k""".stripMargin,

    "g11_modularity" ->
      s"""WITH ${Analytics.lpaOracleCtes},
         |lab AS (SELECT node, lbl FROM l${Analytics.LpaRounds}),
         |inc AS (
         |  SELECT ls.lbl, CAST(count(*) AS BIGINT) AS e2c
         |  FROM edges e
         |  JOIN lab ls ON ls.node = e.src
         |  JOIN lab ld ON ld.node = e.dst AND ld.lbl = ls.lbl
         |  GROUP BY ls.lbl),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM edges GROUP BY 1),
         |dc AS (
         |  SELECT lab.lbl, CAST(sum(deg.deg) AS BIGINT) AS dcs
         |  FROM deg JOIN lab ON lab.node = deg.node
         |  GROUP BY lab.lbl),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS e2 FROM edges),
         |agg AS (
         |  SELECT max(tot.e2) AS e2,
         |    CAST(count(*) AS BIGINT) AS n_communities,
         |    CAST(sum(tot.e2 * COALESCE(inc.e2c, 0) - dc.dcs * dc.dcs)
         |      AS BIGINT) AS num
         |  FROM dc LEFT JOIN inc ON inc.lbl = dc.lbl CROSS JOIN tot)
         |SELECT e2 // 2 AS n_edges, n_communities,
         |  round(CAST(num AS DOUBLE)
         |    / (CAST(e2 AS DOUBLE) * CAST(e2 AS DOUBLE)), 6) AS modularity
         |FROM agg""".stripMargin)
}
