package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.functions.Det
import graft.text.TextOps

/** Round-5 pack: time-series statistics (ACF, CUSUM changepoint, Welch's
  * t-test), forward as-of join, co-occurrence graph similarity, the full
  * Gopher repetition battery, and integer fixed-point Lloyd k-means —
  * each with an exact DuckDB oracle.
  *
  * Exactness recipe throughout (the a37/PageRank pattern): quantize
  * doubles to integer milli-/micro-units once, carry every aggregate as
  * an exact integer, and evaluate the final float formula from the same
  * exact integers with the same expression shape in both engines — IEEE
  * ops on identical inputs are identical, so `round(…, 6)` is stable.
  */
object Stats {

  /** Value quantization: milli-units (|value| ≤ ~561 ⇒ q ≤ 5.7e5; all
    * sums of q and q² stay far inside int64 at every test SF).
    *
    * 100 TB bound for the whole sufficient-statistics family (a38 ACF,
    * a39 Welch, a40 U, w28 CUSUM, a37 OLS, a19 corr): a BIGINT Σq² is
    * exact while n·q_max² < 2^63 — at q ≤ 5.7e5 that is n ≲ 2.8e13 rows
    * PER AGGREGATE GROUP for q² terms, and n ≲ 3e6 per user for w28's
    * n·cum product. Beyond those, widen the offending sum to
    * DECIMAL(38,0) exactly as a40's tie3 does (the only term that
    * crosses the bound at our synthetic value range) — the pattern is
    * established there and costs nothing when the term only feeds a
    * final double. */
  private[graft] val MilliScale = 1000.0

  /** ACF lag depth. */
  private val AcfMaxLag = 3

  /** w31 EWMA control chart (Roberts 1959): smoothing λ = 1/4 (DYADIC on
    * purpose — every weight λ(1−λ)^d and tail (1−λ)^k is an exactly-
    * representable dyadic double, built by repeated exact multiplication
    * and embedded as the SAME literal in both engines), truncation depth
    * D (the recursion unrolled to D lags — bounded window state, no
    * sequential scan), and the control-limit multiple L. */
  private[graft] val EwmaD = 20
  private val EwmaLam = 0.25
  private[graft] val EwmaL = 2.5
  /** λ·(1−λ)^d for d = 0..D−1 — exact dyadic doubles. */
  private[graft] val ewmaW: Seq[Double] =
    Iterator.iterate(1.0)(_ * (1.0 - EwmaLam)).take(EwmaD)
      .map(_ * EwmaLam).toSeq
  /** (1−λ)^(k+1) for k = 0..D−1 — the mass the truncated window hands
    * to the per-user mean. */
  private[graft] val ewmaTail: Seq[Double] =
    Iterator.iterate(1.0 - EwmaLam)(_ * (1.0 - EwmaLam)).take(EwmaD).toSeq
  /** Asymptotic EWMA std factor √(λ/(2−λ)), computed ONCE in Scala and
    * embedded as the same literal in both engines. */
  private[graft] val ewmaCfac: Double = math.sqrt(EwmaLam / (2.0 - EwmaLam))

  /** a46 seasonal strength: the seasonal period in buckets (hour of
    * day). */
  private val SeasBuckets = 24L

  /** a46/seasonalStream shared per-(event_type, hour) moment counts —
    * ONE definition (the psiCounts pattern) over a frame carrying
    * (event_type, es, q); works on a streaming frame unchanged
    * (select + groupBy only), complete-mode state bounded at
    * types × 24 rows. */
  private[graft] def seasCounts(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        expr(s"CAST((es div 3600) % $SeasBuckets AS INT)").as("hh"),
        col("q"))
      .groupBy(col("event_type"), col("hh"))
      .agg(count(lit(1)).as("nh"), sum(col("q")).as("sh"),
        sum(col("q") * col("q")).as("s2h"))

  /** w31's event projection and per-user calibration moments — ONE
    * definition each (the psiCounts pattern) shared by the batch chart
    * and [[graft.streaming.StreamJob.ewmaAlarmStream]]'s spec, so the
    * streaming twin's calibration can never drift from the query's. */
  private[graft] def ewmaEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        Det.epochS(col("ts")).as("es"),
        round(col("value") * MilliScale).cast("long").as("vc"))

  private[graft] def ewmaCalib(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(sum(col("vc")).as("sq"), sum(col("vc") * col("vc")).as("sq2"),
        count(lit(1)).as("n"))
      .withColumn("mu", col("sq").cast("double") / col("n").cast("double"))
      .withColumn("sig",
        sqrt(col("sq2").cast("double") / col("n").cast("double") -
          (col("sq").cast("double") / col("n").cast("double")) *
            (col("sq").cast("double") / col("n").cast("double"))))
      .select(col("user_id"), col("mu"), col("sig"))

  /** CUSUM report size. */
  private[graft] val CusumTopK = 20

  /** w28's event projection and per-user calibration (total count + Σq)
    * — ONE definition each (the ewmaEvents pattern) shared by the batch
    * CUSUM report and [[graft.streaming.StreamJob.cusumStream]]'s spec,
    * so the streaming twin's calibration can never drift from the
    * query's. */
  private[graft] def cusumEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        Det.epochS(col("ts")).as("es"),
        round(col("value") * MilliScale).cast("long").as("q"))

  private[graft] def cusumCalib(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n_events"))

  /** a49 Kaplan–Meier event of interest (first occurrence per user). */
  private val KmEventType = "purchase"

  /** a50 log-rank treatment assignment: keyed-LCG 50/50 user split
    * (the hash-based A/B assignment pattern of p15/a35 — stable under
    * reprocessing, no RNG state). */
  private val LrSeed = 53L

  /** a49/a50/survivalStream shared per-user survival sufficient
    * statistic — ONE definition (the seasCounts/funnelStage pattern):
    * first event time, last event time, first [[KmEventType]] time
    * (null = right-censored). Input must carry (user_id, event_type,
    * es). Works on a streaming frame unchanged (groupBy + min/max
    * only); complete-mode state is ONE row per user — the minimal
    * sufficient statistic for the product-limit curve (the O(keys)
    * state class of the as-of sinks). */
  private[graft] def survSubjects(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(min(col("es")).as("f"), max(col("es")).as("l"),
        min(when(col("event_type") === KmEventType, col("es"))).as("p"))

  /** [[survSubjects]] over the batch events of `dir`. */
  private def eventSubjects(s: SparkSession, dir: String): DataFrame =
    survSubjects(t(s, dir, "events").select(col("user_id"),
      col("event_type"), Det.epochS(col("ts")).as("es")))

  /** a49/a50's observation frame over the [[survSubjects]] frame — the
    * monitor family's censoring rule and nothing else: t = time from
    * first event to first [[KmEventType]], or to the last event when
    * there is none (censored); d = 1 on conversion; grp = the
    * [[LrSeed]] keyed-LCG arm. Same (t, d, grp) shape as
    * [[Survival.kmObs]], so everything after it is Survival's kernel.
    * Each caller checkpoints it once (risk table AND cohort counts). */
  private def monitorObs(subj: DataFrame): DataFrame =
    subj.select(
      when(col("p").isNotNull, col("p") - col("f"))
        .otherwise(col("l") - col("f")).as("t"),
      col("p").isNotNull.cast("long").as("d"),
      (Det.frac(col("user_id"), LrSeed) < 0.5).cast("long").as("grp"))

  /** a49's curve from the [[survSubjects]] frame: the monitor frame
    * (no arm) through Survival's KM scan — shared so the streaming
    * twin's final state table provably feeds the SAME curve the oracle
    * gates. */
  private[graft] def kmCurve(subj: DataFrame): DataFrame =
    Survival.kmSurvScan(subj.sparkSession,
        monitorObs(subj).drop("grp").localCheckpoint())
      .select(col("t").as("dur"), col("r").as("n_risk"), col("d"),
        (col("r") === col("d")).as("terminal"),
        when(col("r") === col("d"), lit(0.0))
          .otherwise(round(exp(col("cl6").cast("double") / 1e6), 6))
          .as("surv"),
        col("cl6").as("lognats_e6"))
      .orderBy(col("dur"))

  /** a54 Gumbel constants, computed ONCE in Scala and embedded as the
    * SAME literal in both engines (the ewmaCfac pattern): method-of-
    * moments scale factor √6/π, the Euler–Mascheroni constant, and the
    * 52-block return-level factor −ln(−ln(1 − 1/52)). */
  private[graft] val GumbelC: Double = math.sqrt(6.0) / math.Pi
  private[graft] val EulerGamma = 0.5772156649015329
  private[graft] val GumbelRlT = 52
  private[graft] val GumbelRlF: Double =
    -math.log(-math.log(1.0 - 1.0 / GumbelRlT.toDouble))
  /** a54 block width: calendar weeks of epoch seconds. */
  private val GumbelBlockS = 604800L

  /** a55 SPRT design (Wald 1945): H0 p = 0.15 vs H1 p = 0.25 purchase
    * rate, α = β = 0.05. The two per-event log-likelihood increments and
    * the decision threshold ln((1−β)/α) are e6-quantized ONCE in Scala
    * and embedded as INTEGER literals in both engines — the cumulative
    * LLR is then pure BIGINT arithmetic (k·L1 + (n−k)·L0), exact at any
    * length. */
  private val SprtP0 = 0.15
  private val SprtP1 = 0.25
  private[graft] val SprtL1e6: Long =
    math.round(math.log(SprtP1 / SprtP0) * 1e6)
  private[graft] val SprtL0e6: Long =
    math.round(math.log((1.0 - SprtP1) / (1.0 - SprtP0)) * 1e6)
  private[graft] val SprtAe6: Long = math.round(math.log(19.0) * 1e6)

  /** w32 Theil–Sen per-user history cap: a user with H events fans out
    * H·(H−1)/2 slope pairs in the self-join, so over-cap users are
    * skipped (≤ ~125k pairs/user at 500 — a bounded task; the g6 cap
    * policy with the same drop accounting). Non-binding at every test
    * SF (max 99 events/user at sf0.1). */
  private[graft] val TsPairCap = 500

  /** g6 hot-customer cap: a customer with S distinct suppliers fans out
    * S·(S−1)/2 co-purchase pairs in the self-join, so over-cap customers
    * are skipped (≤ ~500k pairs/customer at 1000 — a bounded task). The
    * cap is NON-BINDING at every test SF; the oracle applies the same
    * filter, so the gate stays exact whether it binds or not. */
  private[graft] val G6CustomerCap = 1000

  /** Common-neighbor Jaccard over a bipartite edge list `(c, sk)` —
    * g6's body, parameterized on the hot-key cap so the spec can prove
    * the cap BINDS on a synthetic power-customer while the query runs it
    * non-binding. Over-cap customers are dropped BEFORE the degree agg,
    * so degrees and pair counts see the same edge set. */
  private[graft] def coJaccard(edges: DataFrame, cap: Int,
                               topK: Int): DataFrame = {
    // capped edge list feeds the self-join twice + degrees → checkpoint;
    // capMembers' customer-keyed window shuffle lands the data where the
    // self-join needs it (hash on c), so that exchange is reused
    val pairs = graft.ops.Buckets
      .capMembers(edges.distinct(), Seq(col("c")), cap, label = "g6")
      .localCheckpoint()
    val deg = pairs.groupBy(col("sk")).agg(count(lit(1)).as("d"))
    pairs.as("x").join(pairs.as("y"),
        col("x.c") === col("y.c") && col("x.sk") < col("y.sk"))
      .groupBy(col("x.sk").as("s1"), col("y.sk").as("s2"))
      .agg(count(lit(1)).as("common"))
      .join(deg.select(col("sk").as("s1"), col("d").as("d1")), Seq("s1"))
      .join(deg.select(col("sk").as("s2"), col("d").as("d2")), Seq("s2"))
      .select(col("s1"), col("s2"), col("common"), col("d1"), col("d2"),
        round(col("common").cast("double") /
          (col("d1") + col("d2") - col("common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("common").desc, col("s1"), col("s2"))
      .limit(topK)
  }

  /** Welch's t-test arms. */
  private val TtA = "click"
  private val TtB = "view"

  /** Gopher repetition n-gram orders (Rae et al. 2021 §A1.1 run 2..4 for
    * the top-gram fraction; the duplicate-gram fraction reuses the same
    * orders here — our synthetic docs are short). */
  private val RepNs = 2 to 4

  /** k-means geometry: k = 10 (the embeddings table's generative label
    * count), 2 full Lloyd steps, micro-unit quantization. */
  private val KmK = 10
  private val KmIters = 2
  private[graft] val KmScale = 1000000.0
  private val KmDim = 64

  /** z5 curation chain: in-cluster near-dup threshold τ = 0.4 (τ² below —
    * calibrated to this synthetic table like e7; max pairwise cosine is
    * 0.60), keyed-LCG seed and per-cluster sample size. */
  private val Z5TauSq = 0.16
  private val Z5Seed = 17L
  private val Z5SampleN = 5

  /** g7 geometry (the g2 seed rule, weighted). */
  private val G7SeedMod = 5
  private val G7Rounds = 3

  /** a41's RNG-gate seed (arbitrary; any seed must pass). */
  private val RngSeed = 23L

  /** SAX symbolization: segment length and dyadic breakpoints (±0.75, 0 —
    * snapped to exactly-representable doubles so the symbol boundaries
    * cannot disagree across engines; textbook N(0,1) quartile breakpoints
    * ±0.6745 are not exact binary fractions). */
  private val SaxSegLen = 8
  private val SaxBp = 0.75

  /** a43 Poisson-bootstrap geometry (Chamandy et al. 2012): replicate
    * count B, keyed-LCG seed, and the truncated-Poisson(1) inverse-CDF
    * thresholds c_k = e⁻¹·Σ_{i≤k} 1/i! as shortest-repr double literals
    * (both engines parse a decimal literal to the nearest double, so the
    * thresholds are bit-identical). Draws above c_5 take weight 6 — a
    * deliberate truncation (tail mass 5.9e-4 folded into w=6) that makes
    * the sampler a finite CASE, identical everywhere. CI = the trim-one
    * order statistics over the n surviving replicates (rank 2 and rank
    * n−1, DERIVED from the count in both engines — with all 40 alive
    * that is 2 and 39, trim exactly 1/40 per side; a dropped Σw = 0
    * replicate shifts both trims symmetrically instead of rank 39
    * silently becoming the max). */
  private val BootB = 40
  private val BootSeed = 53L
  private[graft] val BootCap = 6
  private val BootCdfStr = Seq("0.36787944117144233", "0.7357588823428847",
    "0.9196986029286058", "0.9810118431238463", "0.9963401531726563",
    "0.9994058151824183")
  private val BootCdf = BootCdfStr.map(_.toDouble)
  private val BootLoRank = 2

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A38: autocorrelation function --------------------------------
    // Global-series ACF at lags 1..3: Pearson correlation of (x_t,
    // x_{t+l}) pairs over the (ts, event_id) total order. 100 TB shape:
    // the total order comes from the two-pass distributed rank (never a
    // one-task window), lag pairing is ONE equi-join on the shifted
    // position (all lags ride the same join via a 3-row explode), and
    // the sufficient statistics are six integer sums per lag.
    "a38_acf" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(Det.epochS($"ts").as("es"), $"event_id",
          round($"value" * MilliScale).cast("long").as("q"))
      // ranked frame feeds both join sides → localCheckpoint (fan-out rule)
      val ranked = graft.ops.Ranks
        .globalRowNumber(ev, Seq($"es", $"event_id"), "pos")
        .select($"pos", $"q").localCheckpoint()
      val x = ranked
        .select($"pos", $"q", explode(
          array((1 to AcfMaxLag).map(lit): _*)).as("lag"))
        .select($"lag", ($"pos" + $"lag").as("jpos"), $"q".as("xq"))
      val pairs = x.join(ranked.select($"pos".as("jpos"), $"q".as("yq")),
        Seq("jpos"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      pairs.groupBy($"lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"xq").as("sx"), sum($"yq").as("sy"),
          sum($"xq" * $"yq").as("sxy"),
          sum($"xq" * $"xq").as("sxx"), sum($"yq" * $"yq").as("syy"))
        .select($"lag", $"n_pairs",
          round((d($"n_pairs") * d($"sxy") - d($"sx") * d($"sy")) /
            sqrt((d($"n_pairs") * d($"sxx") - d($"sx") * d($"sx")) *
              (d($"n_pairs") * d($"syy") - d($"sy") * d($"sy"))), 6)
            .as("acf"))
        .orderBy($"lag")
    }),

    // ---- W28: CUSUM changepoint score per user ------------------------
    // Classic mean-shift detector: S_i = Σ_{j≤i} (x_j − x̄); the score is
    // max|S_i| and the changepoint its (earliest) argmax time. Integer
    // form: D_i = n·(Σ_{j≤i} q_j) − i·(Σ q_j) = n·1000·S_i — exact, no
    // float until the final report. 100 TB shape: the per-user mean join,
    // the running-sum window and the argmax agg all share ONE user_id
    // shuffle; per-user partitions are bounded by a user's history.
    // ---- A47: Wald–Wolfowitz runs test --------------------------------
    // Nonparametric randomness check per user series (the third monitor
    // beside w28 CUSUM and w31 EWMA): dichotomize each value against the
    // user's median, count runs R of consecutive same-side values, and
    // score z = (R − μ_R)/σ_R with the closed-form moments μ_R =
    // 1 + 2n₁n₂/n, σ²_R = 2n₁n₂(2n₁n₂ − n)/(n²(n−1)). Too few runs =
    // clustered/trending values; too many = oscillation. Exactness: the
    // median is .5-grained (cents-long percentile — binary64-exact, the
    // a24 rule), the equal-to-median drop compares exact integers
    // (q·2 vs med·2), run/side counts are exact BIGINTs, and the moment
    // formula is scalar IEEE with products in DOUBLES (the a38 rule).
    // Users entirely on one side are dropped (σ undefined — stated
    // contract); σ_R = 0 (n₁ = n₂ = 1) reads z NULL, as SQL's division by
    // zero does. 100 TB shape: ONE user_id shuffle shared by the median
    // agg, the lag window and the run agg.
    "a47_runs_test" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val ev = t(s, dir, "events")
        .select($"user_id", $"event_id", Det.epochS($"ts").as("es"),
          round($"value" * MilliScale).cast("long").as("q"))
        .localCheckpoint() // feeds the median agg AND the runs scan
      val med = ev.groupBy($"user_id")
        .agg(expr("CAST(percentile(q, 0.5) * 2 AS BIGINT)").as("med2"))
      val w = Window.partitionBy($"user_id").orderBy($"es", $"event_id")
      val nD = d($"n1" + $"n2")
      ev.join(med, Seq("user_id"))
        .filter($"q" * 2 =!= $"med2")
        .withColumn("side", ($"q" * 2 > $"med2").cast("int"))
        .withColumn("__new", when(lag($"side", 1).over(w).isNull ||
          $"side" =!= lag($"side", 1).over(w), 1L).otherwise(0L))
        .groupBy($"user_id")
        .agg(sum(($"side" === 1).cast("long")).as("n1"),
          sum(($"side" === 0).cast("long")).as("n2"),
          sum($"__new").as("runs"))
        .filter($"n1" > 0 && $"n2" > 0)
        .withColumn("mu",
          lit(1.0) + lit(2.0) * d($"n1") * d($"n2") / nD)
        .withColumn("sig", sqrt(lit(2.0) * d($"n1") * d($"n2") *
          (lit(2.0) * d($"n1") * d($"n2") - nD) /
          (nD * nD * (nD - lit(1.0)))))
        .select($"user_id", $"n1", $"n2", $"runs",
          round(try_divide(d($"runs") - $"mu", $"sig"), 4).as("z"))
        .orderBy($"user_id")
    }),

    // ---- A49: Kaplan–Meier survival estimator -------------------------
    // Product-limit estimator (Kaplan & Meier 1958) of time-to-first-
    // purchase from each user's first event; users who never purchase
    // are right-censored at their last observed event — the survival/
    // retention curve none of the other monitors cover.
    // SEE ALSO `q26_km_survival` (Survival.scala): the DESIGNED-STUDY
    // twin (administrative censoring at a fixed horizon, Greenwood se +
    // KP bounds). This estimator is the OBSERVATIONAL monitor (censor-
    // at-last-event is informative when activity correlates with
    // conversion — fine for a retention dashboard, not for inference);
    // the Survival.scala object doc carries the decision rule. After the
    // observation frame both run ONE kernel, so the exactness is q26's:
    // exact integer counts, e6-quantized ln((r−d)/r) factors cumulated
    // as an exact BIGINT prefix sum, ONE exp for the 6dp display
    // survival. A risk set that dies out (r = d, only at the last event
    // time) is flagged `terminal` with surv = 0; its lognats_e6 keeps
    // the pre-terminal cumulative so the column stays non-null exact.
    // 100 TB shape: one user_id agg collapses the corpus to a row per
    // user (survSubjects); from the checkpointed monitor frame on it is
    // Survival's kernel — the q26 risk table and ONE fused
    // Ranks.globalCumSums for the carries — no unpartitioned window.
    "a49_km_survival" -> ((s, dir) => kmCurve(eventSubjects(s, dir))),

    // ---- A50: log-rank two-group survival test ------------------------
    // The Mantel 1966 companion to a49 and the survival-outcome twin of
    // a35's A/B test: does the treatment cohort (keyed-LCG 50/50 user
    // assignment — the p15 stable-hash pattern) convert to first
    // purchase on a different clock than control?
    // SEE ALSO `q27_logrank` (Survival.scala): the same test on the
    // designed q26 frame (administrative horizon censoring, χ² form,
    // DECIMAL V carry) — use THAT for experiment readouts; this one
    // monitors the a49 observational frame (z form, censor-at-last-
    // event). Decision rule in the Survival.scala object doc. At each
    // event time, observed treatment events d1 vs hypergeometric
    // expectation E = d·r1/r and variance V = d·(r1/r)·(1−r1/r)·(r−d)/
    // (r−1); z = Σ(O−E)/√ΣV. Exactness: every count is an exact
    // integer; E and V are e6-quantized from doubles built with the
    // SAME expression shape in both engines (the a45 summand rule), so
    // both Σ are exact BIGINTs and z is scalar IEEE on identical inputs.
    // ΣV = 0 (one converter, or every user in one arm) gives z NULL,
    // as SQL's division by zero does. 100 TB shape: a49's monitor frame
    // through q27's arm risk table (both at-risk counts in ONE fused
    // Ranks.globalCumSums); the test is a 1-row agg.
    "a50_logrank" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      Survival.kmArmRiskTable(s,
          monitorObs(eventSubjects(s, dir)).localCheckpoint())
        .withColumn("e_e6",
          round(lit(1e6) * d($"d") * d($"r1") / d($"r")).cast("long"))
        .withColumn("v_e6", when($"r" > 1,
          round(lit(1e6) * d($"d") * (d($"r1") / d($"r")) *
            (lit(1.0) - d($"r1") / d($"r")) *
            (d($"r") - d($"d")) / (d($"r") - lit(1.0))).cast("long"))
          .otherwise(0L))
        .groupBy($"n_cohort", $"n_arm1")
        .agg(sum($"d1").as("o1"), sum($"e_e6").as("se6"),
          sum($"v_e6").as("sv6"))
        .select($"n_arm1".as("n_exposed"),
          ($"n_cohort" - $"n_arm1").as("n_clean"), $"o1",
          round(d($"se6") / 1e6, 4).as("e1"),
          when($"sv6" > 0, round((d($"o1") * 1e6 - d($"se6")) / 1e6 /
            sqrt(d($"sv6") / 1e6), 4)).as("z"))
    }),

    // ---- A51: Spearman rank correlation --------------------------------
    // Tie-adjusted Spearman ρ (Spearman 1904; Pearson on average ranks)
    // between value and time per user — the distribution-free monotone-
    // trend companion to a19's Pearson and w32's Theil–Sen slope.
    // Exactness: DOUBLED tie-averaged ranks stay exact integers via the
    // min-rank identity 2·r̄ = rank_asc + (n+1) − rank_desc (so no
    // (a+b)/2 float midpoint ever exists), all five moments accumulate
    // as exact BIGINTs (Σxy ≤ 4n³ — int64-safe to n ≈ 1.3e6 events per
    // user), and ρ is the a19 expression shape on those integers with
    // products in doubles (the a38 rule). Zero-variance users (all
    // values or all timestamps tied) are dropped — ρ undefined, stated
    // contract. 100 TB shape: ONE user_id exchange feeds all four rank
    // windows (asc/desc × value/time — same partitioning, sorts only)
    // and the moment agg; output is one row per user.
    "a51_spearman" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val w = Window.partitionBy($"user_id")
      val ev = t(s, dir, "events")
        .select($"user_id", $"event_id", Det.epochS($"ts").as("es"),
          round($"value" * MilliScale).cast("long").as("q"))
      val ranked = ev
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("x", rank().over(w.orderBy($"q")).cast("long") +
          $"n" + 1L - rank().over(w.orderBy($"q".desc)).cast("long"))
        .withColumn("y", rank().over(w.orderBy($"es")).cast("long") +
          $"n" + 1L - rank().over(w.orderBy($"es".desc)).cast("long"))
      ranked.groupBy($"user_id")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
          sum($"x" * $"y").as("sxy"))
        .withColumn("vx", d($"n") * d($"sxx") - d($"sx") * d($"sx"))
        .withColumn("vy", d($"n") * d($"syy") - d($"sy") * d($"sy"))
        .filter($"vx" > 0.0 && $"vy" > 0.0)
        .select($"user_id", $"n",
          round((d($"n") * d($"sxy") - d($"sx") * d($"sy")) /
            (sqrt($"vx") * sqrt($"vy")), 6).as("rho"))
        .orderBy($"user_id")
    }),

    // ---- Q15: RFM customer segmentation ---------------------------------
    // The classic recency/frequency/monetary quintile segmentation over
    // purchase events (Hughes 1994) — per user R = last purchase time,
    // F = purchase count, M = exact cents total; each dimension scored
    // 1–5 by the EXACT quintile formula ((rank−1)·5) div n + 1 over the
    // two-pass distributed rank (NOT ntile — no unpartitioned window,
    // and the integer formula is engine-exact where ntile's remainder
    // spreading must be replicated carefully). Rank descends on the
    // metric (score 5 = most recent / most frequent / highest spend)
    // via negated order keys with user_id tiebreak. Output: the ≤125
    // segment cells with size and exact-cents average spend. 100 TB
    // shape: one user agg collapses the corpus; three Ranks passes over
    // the per-user frame; one ≤125-row agg.
    "q15_rfm_segments" -> ((s, dir) => {
      import s.implicits._
      val u = t(s, dir, "events")
        .filter($"event_type" === KmEventType)
        .select($"user_id", Det.epochS($"ts").as("es"),
          round($"value" * 100).cast("long").as("cents"))
        .groupBy($"user_id")
        .agg(max($"es").as("r"), count(lit(1)).as("f"),
          sum($"cents").as("m"))
        .localCheckpoint() // three chained rank passes (each reads its
      // input in its boundary, rank and offsets branches) must not
      // re-aggregate the corpus per pass
      def q5(df: DataFrame, key: String, out: String): DataFrame =
        graft.ops.Ranks.globalRowNumberWithTotal(df,
            Seq((col(key) * -1L).as(s"__neg_$key"), col("user_id")),
            "__rk", "__n")
          .withColumn(out,
            expr("(__rk - 1) * 5 div __n + 1").cast("int"))
          .drop("__rk", "__n", s"__neg_$key")
          .localCheckpoint()
      val scored = q5(q5(q5(u, "r", "qr"), "f", "qf"), "m", "qm")
      scored.groupBy(($"qr" * 100 + $"qf" * 10 + $"qm").as("segment"))
        .agg(count(lit(1)).as("n_users"), sum($"m").as("cents"))
        .select($"segment", $"n_users",
          round($"cents".cast("double") / $"n_users".cast("double")
            / 100.0, 4).as("avg_spend"))
        .orderBy($"segment")
    }),

    // ---- A57: event-type correlation matrix -----------------------------
    // Pairwise Pearson correlation of the five event types' HOURLY
    // activity series (cents volume per hour, absent hours = 0 — the
    // a45 grid rule, since a missing hour is a real zero, not missing
    // data) — the co-movement profile behind alerting ("errors spike
    // with purchases?"). a19 gives one pair; this is the full T×T
    // matrix. Exactness: hourly sums and all five pair moments are
    // exact BIGINTs (Σx² exact while hours·x_max² < 2^63 — cents per
    // hour ≤ ~3e9 at 1e6 rows/hour ⇒ hours ≲ 1e3 at that density;
    // quantize to dimes/dollars beyond, the a40 rule), r is the a19
    // expression shape. 100 TB shape: ONE (hour, type) map-side agg
    // collapses the corpus; the grid fill and T² pair join run on the
    // hours×T frame.
    "a57_corr_matrix" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val hourly = t(s, dir, "events")
        .select($"event_type", Det.epochS($"ts").as("es"),
          round($"value" * 100).cast("long").as("cents"))
        .groupBy(expr("es div 3600").as("hr"), $"event_type")
        .agg(sum($"cents").as("v"))
        .localCheckpoint() // feeds the hour frame, type frame AND grid
      val hours = hourly.select($"hr").distinct()
      val types = hourly.select($"event_type").distinct()
      val grid = hours.crossJoin(broadcast(types))
        .join(hourly, Seq("hr", "event_type"), "left")
        .select($"hr", $"event_type", coalesce($"v", lit(0L)).as("v"))
      val g1 = grid.select($"hr", $"event_type".as("t1"), $"v".as("x"))
      val g2 = grid.select($"hr", $"event_type".as("t2"), $"v".as("y"))
      g1.join(g2, Seq("hr")).filter($"t1" < $"t2")
        .groupBy($"t1", $"t2")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
        .select($"t1", $"t2", $"n".as("n_hours"),
          round((d($"n") * d($"sxy") - d($"sx") * d($"sy")) /
            sqrt((d($"n") * d($"sxx") - d($"sx") * d($"sx")) *
              (d($"n") * d($"syy") - d($"sy") * d($"sy"))), 6).as("r"))
        .orderBy($"t1", $"t2")
    }),

    // ---- A60: partial correlation controlling for total traffic ---------
    // a57's raw matrix confounds every pair through shared load (all
    // series ride the same hourly traffic); the first-order partial
    // correlation r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))
    // with z = the hourly ALL-TYPE volume reports what co-movement
    // remains once that common cause is removed — the difference
    // between "errors spike with purchases" and "everything spikes at
    // noon". Exactness: every r is built UNROUNDED from exact BIGINT
    // moments with the a19 expression shape (identical doubles in both
    // engines), and the partial formula is scalar IEEE on those; only
    // the output is rounded. 100 TB shape: a57's one (hour, type)
    // corpus agg + an hours-row z agg; all correlation arithmetic runs
    // on the hours×T frame and the T-row r_zt table.
    "a60_partial_corr" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val hourly = t(s, dir, "events")
        .select($"event_type", Det.epochS($"ts").as("es"),
          round($"value" * 100).cast("long").as("cents"))
        .groupBy(expr("es div 3600").as("hr"), $"event_type")
        .agg(sum($"cents").as("v"))
        .localCheckpoint() // feeds grid, z AND both moment passes
      val hours = hourly.select($"hr").distinct()
      val types = hourly.select($"event_type").distinct()
      val grid = hours.crossJoin(broadcast(types))
        .join(hourly, Seq("hr", "event_type"), "left")
        .select($"hr", $"event_type", coalesce($"v", lit(0L)).as("v"))
        .localCheckpoint()
      val z = grid.groupBy($"hr").agg(sum($"v").as("z"))
      def corrOf(n: org.apache.spark.sql.Column,
                 sx: org.apache.spark.sql.Column,
                 sy: org.apache.spark.sql.Column,
                 sxy: org.apache.spark.sql.Column,
                 sxx: org.apache.spark.sql.Column,
                 syy: org.apache.spark.sql.Column) =
        (d(n) * d(sxy) - d(sx) * d(sy)) /
          sqrt((d(n) * d(sxx) - d(sx) * d(sx)) *
            (d(n) * d(syy) - d(sy) * d(sy)))
      val rz = grid.join(z, Seq("hr"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"v").as("sx"), sum($"z").as("sy"),
          sum($"v" * $"z").as("sxy"), sum($"v" * $"v").as("sxx"),
          sum($"z" * $"z").as("syy"))
        .select($"event_type",
          corrOf($"n", $"sx", $"sy", $"sxy", $"sxx", $"syy").as("rz"))
      val g1 = grid.select($"hr", $"event_type".as("t1"), $"v".as("x"))
      val g2 = grid.select($"hr", $"event_type".as("t2"), $"v".as("y"))
      g1.join(g2, Seq("hr")).filter($"t1" < $"t2")
        .groupBy($"t1", $"t2")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
        .withColumn("rxy",
          corrOf($"n", $"sx", $"sy", $"sxy", $"sxx", $"syy"))
        .join(broadcast(rz.select($"event_type".as("t1"),
          $"rz".as("rxz"))), Seq("t1"))
        .join(broadcast(rz.select($"event_type".as("t2"),
          $"rz".as("ryz"))), Seq("t2"))
        .select($"t1", $"t2", round($"rxy", 6).as("r_raw"),
          round(($"rxy" - $"rxz" * $"ryz") /
            sqrt((lit(1.0) - $"rxz" * $"rxz") *
              (lit(1.0) - $"ryz" * $"ryz")), 6).as("r_partial"))
        .orderBy($"t1", $"t2")
    }),

    // ---- A56: partial autocorrelation (Durbin–Levinson) -----------------
    // PACF at lags 1–3 from a38's sample ACF — the second half of the
    // Box–Jenkins identification pair (ACF tails off / PACF cuts at p ⇒
    // AR(p)). The Durbin–Levinson recursion is UNROLLED in closed form
    // for the fixed lag depth (φ11 = ρ1; φ22 = (ρ2−ρ1²)/(1−ρ1²);
    // φ21 = φ11 − φ22·φ11; φ33 via the order-3 step) — no iteration, no
    // driver loop. Exactness: the ρ_k inputs are a38's 6dp-rounded
    // values (identical in both engines by a38's own gate), and every φ
    // is scalar IEEE on those identical doubles with the same
    // association. 100 TB shape: a38's shape (ranked pair join, 3-row
    // agg) + pure 1-row arithmetic.
    "a56_pacf" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(Det.epochS($"ts").as("es"), $"event_id",
          round($"value" * MilliScale).cast("long").as("q"))
      val ranked = graft.ops.Ranks
        .globalRowNumber(ev, Seq($"es", $"event_id"), "pos")
        .select($"pos", $"q").localCheckpoint()
      val x = ranked
        .select($"pos", $"q", explode(
          array((1 to AcfMaxLag).map(lit): _*)).as("lag"))
        .select($"lag", ($"pos" + $"lag").as("jpos"), $"q".as("xq"))
      val pairs = x.join(ranked.select($"pos".as("jpos"), $"q".as("yq")),
        Seq("jpos"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val acf = pairs.groupBy($"lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"xq").as("sx"), sum($"yq").as("sy"),
          sum($"xq" * $"yq").as("sxy"),
          sum($"xq" * $"xq").as("sxx"), sum($"yq" * $"yq").as("syy"))
        .select($"lag",
          round((d($"n_pairs") * d($"sxy") - d($"sx") * d($"sy")) /
            sqrt((d($"n_pairs") * d($"sxx") - d($"sx") * d($"sx")) *
              (d($"n_pairs") * d($"syy") - d($"sy") * d($"sy"))), 6)
            .as("acf"))
      acf.agg(max(when($"lag" === 1, $"acf")).as("r1"),
          max(when($"lag" === 2, $"acf")).as("r2"),
          max(when($"lag" === 3, $"acf")).as("r3"))
        .withColumn("p2",
          ($"r2" - $"r1" * $"r1") / (lit(1.0) - $"r1" * $"r1"))
        .withColumn("f21", $"r1" - $"p2" * $"r1")
        .withColumn("p3",
          ($"r3" - $"f21" * $"r2" - $"p2" * $"r1") /
            (lit(1.0) - $"f21" * $"r1" - $"p2" * $"r2"))
        .select($"r1", $"r2", $"r3",
          round($"r1", 6).as("pacf1"), round($"p2", 6).as("pacf2"),
          round($"p3", 6).as("pacf3"))
    }),

    // ---- A55: Wald SPRT sequential conversion test ----------------------
    // The sequential probability ratio test (Wald 1945) — the
    // fixed-horizon a35 A/B test's always-valid sibling: per user,
    // walk events in time order accumulating the purchase-rate LLR
    // (H0 p=0.15 vs H1 p=0.25) and stop at the FIRST threshold
    // crossing; users that never cross report 'continue' with their
    // final LLR. Exactness: the cumulative LLR is k·L1 + (n−k)·L0 with
    // e6-integer literal increments (see [[SprtL1e6]]) — pure BIGINT at
    // any length, no per-row float ever; the first crossing is an exact
    // min(struct) argmin. 100 TB shape: ONE user_id exchange shared by
    // the running-sum window and both argmin/argmax aggs; output is one
    // row per user.
    "a55_sprt" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"es", $"event_id")
      val base = t(s, dir, "events")
        .select($"user_id", $"event_id", Det.epochS($"ts").as("es"),
          ($"event_type" === KmEventType).cast("long").as("x"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("k", sum($"x").over(w))
        .withColumn("llr_e6", $"k" * SprtL1e6 + ($"rn" - $"k") * SprtL0e6)
        .localCheckpoint() // feeds the crossing argmin AND the tail argmax
      val crossed = base
        .filter($"llr_e6" >= SprtAe6 || $"llr_e6" <= -SprtAe6)
        .groupBy($"user_id")
        .agg(min(struct($"es", $"event_id", $"rn", $"llr_e6")).as("c"))
        .select($"user_id",
          when($"c.llr_e6" >= SprtAe6, "accept_h1")
            .otherwise("accept_h0").as("decision"),
          $"c.rn".as("n_at_decision"), $"c.llr_e6".as("llr_e6"))
      val open = base.join(crossed.select($"user_id"), Seq("user_id"),
          "left_anti")
        .groupBy($"user_id")
        .agg(max(struct($"es", $"event_id", $"rn", $"llr_e6")).as("c"))
        .select($"user_id", lit("continue").as("decision"),
          $"c.rn".as("n_at_decision"), $"c.llr_e6".as("llr_e6"))
      crossed.unionByName(open).orderBy($"user_id")
    }),

    // ---- A54: Gumbel block-maxima return levels -------------------------
    // Extreme-value tail estimation (Gumbel 1958; the capacity-planning
    // complement to a6's empirical percentile, which cannot extrapolate
    // beyond the observed range): weekly block maxima per event type →
    // Gumbel location/scale by method of moments (scale β = s·√6/π,
    // location μ = m − γ·β) → the T = 52-block return level
    // μ + β·(−ln(−ln(1 − 1/T))). Exactness: block maxima and their two
    // moments are exact BIGINTs; √6/π, γ and the return factor are
    // Scala-computed literals embedded identically in both engines (the
    // ewmaCfac rule); everything after is scalar IEEE on identical
    // inputs. Types with < 2 blocks are dropped (scale undefined —
    // stated contract). 100 TB shape: ONE map-side-combined
    // (type, week) agg collapses the corpus to the block frame; the
    // moment agg collapses that to ≤ types rows.
    "a54_gumbel_levels" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val blocks = t(s, dir, "events")
        .select($"event_type", Det.epochS($"ts").as("es"),
          round($"value" * MilliScale).cast("long").as("q"))
        // integer div (Spark `/` on BIGINTs is double division); es ≥ 0
        .groupBy($"event_type", expr(s"es div $GumbelBlockS").as("wk"))
        .agg(max($"q").as("mx"))
      blocks.groupBy($"event_type")
        .agg(count(lit(1)).as("nb"), sum($"mx").as("sx"),
          sum($"mx" * $"mx").as("ss"))
        .filter($"nb" >= 2)
        .withColumn("m", d($"sx") / d($"nb"))
        .withColumn("sd", sqrt((d($"ss") - d($"sx") * d($"sx") / d($"nb"))
          / (d($"nb") - 1.0)))
        .withColumn("beta", $"sd" * lit(GumbelC))
        .withColumn("mu", $"m" - lit(EulerGamma) * $"beta")
        .select($"event_type", $"nb".as("n_blocks"),
          round($"m" / MilliScale, 4).as("block_mean"),
          round($"mu" / MilliScale, 4).as("gumbel_loc"),
          round($"beta" / MilliScale, 4).as("gumbel_scale"),
          round(($"mu" + $"beta" * lit(GumbelRlF)) / MilliScale, 4)
            .as(s"rl$GumbelRlT"))
        .orderBy($"event_type")
    }),

    // ---- A53: Kruskal–Wallis k-group rank test --------------------------
    // The k-group extension of a40's Mann–Whitney (Kruskal & Wallis
    // 1952) across the event-type arms — completes the test family
    // (a39 two-group parametric, a40 two-group rank, a53 k-group rank):
    // H = 12/(N(N+1)) Σ_j R_j²/n_j − 3(N+1) over tie-averaged ranks of
    // the combined sample, reported raw and tie-corrected
    // (÷ 1 − Σ(t³−t)/(N³−N)). Exactness: DOUBLED tie-averaged ranks
    // from the a40 value-group cumsum are exact integers, per-group
    // rank sums exact BIGINT (R2_j ≤ 2N² — int64-safe to N ≈ 2e9
    // rows), tie cubes in DECIMAL(38,0)/HUGEINT (the a40 rule), and
    // the ≤k-addend Σ R_j²/n_j folds sorted (t30 recipe). 100 TB
    // shape: ONE (q, type) agg collapses the corpus; the rank cumsum
    // rides the (much smaller) distinct-value frame; the rest is k-row
    // arithmetic.
    "a53_kruskal_wallis" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val cgv = t(s, dir, "events")
        .select($"event_type".as("g"),
          round($"value" * MilliScale).cast("long").as("q"))
        .groupBy($"q", $"g").agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds the value frame AND the group join
      val vg = cgv.groupBy($"q").agg(sum($"c").as("cnt"))
        .localCheckpoint() // feeds the rank cumsum AND the tie agg
      val ranked = graft.ops.Ranks
        .globalCumSum(vg, Seq($"q"), $"cnt", "cum")
        .select($"q",
          (lit(2L) * ($"cum" - $"cnt") + $"cnt" + 1L).as("r2"))
      val grp = cgv.join(ranked, Seq("q"))
        .groupBy($"g")
        .agg(sum($"c" * $"r2").as("r2sum"), sum($"c").as("nj"))
        .withColumn("term",
          (d($"r2sum") / 2.0) * (d($"r2sum") / 2.0) / d($"nj"))
      val ties = vg.agg(
        sum($"cnt".cast("decimal(38,0)") * $"cnt" * $"cnt" - $"cnt")
          .as("t3"),
        sum($"cnt").as("nn"))
      grp.agg(count(lit(1)).as("k"),
          aggregate(sort_array(collect_list($"term")), lit(0.0),
            (acc, x) => acc + x).as("st"))
        .crossJoin(broadcast(ties))
        .withColumn("nd", d($"nn"))
        .withColumn("h0", lit(12.0) / ($"nd" * ($"nd" + 1.0)) * $"st"
          - lit(3.0) * ($"nd" + 1.0))
        .select($"k", $"nn".as("n"), round($"h0", 6).as("h"),
          round($"h0" / (lit(1.0) -
            d($"t3") / ($"nd" * $"nd" * $"nd" - $"nd")), 6)
            .as("h_tie_corrected"))
    }),

    // ---- A52: Mann–Kendall trend test ----------------------------------
    // The hypothesis-test twin of w32's Sen slope (they ship together in
    // every environmental-stats package): S = Σ sign(q_j − q_i) over
    // time-ordered pairs per user, with Kendall's FULL tie-corrected
    // variance (Kendall 1975 §4.4 — value-tie AND time-tie terms plus
    // both cross products; same-second pairs contribute 0 to S, exactly
    // what the u-tie correction accounts for), z with the ±1 continuity
    // correction. Exactness: S and every tie moment are exact BIGINTs
    // (n(n−1)(2n+5) int64-safe to n ≈ 2e6 per user — far above the pair
    // cap); the variance assembles those integers in doubles with the
    // SAME association in both engines (the a38 rule — the cross terms
    // reach n⁶); S = 0 short-circuits z = 0 with no division. 100 TB
    // shape: the SAME capped user-keyed self-join as w32 plus two
    // per-user tie aggs riding the same exchange.
    "a52_mann_kendall" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val ev = graft.ops.Buckets.capMembers(
        t(s, dir, "events")
          .select($"user_id", $"event_id", Det.epochS($"ts").as("es"),
            round($"value" * MilliScale).cast("long").as("q")),
        Seq($"user_id"), TsPairCap, label = "a52")
        .localCheckpoint()
      val sS = ev.as("x").join(ev.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.es") < col("y.es"))
        .groupBy(col("x.user_id").as("user_id"))
        .agg(sum(when(col("y.q") > col("x.q"), 1L)
          .when(col("y.q") < col("x.q"), -1L).otherwise(0L)).as("s_stat"))
      def tieMoments(key: org.apache.spark.sql.Column, p: String) =
        ev.groupBy($"user_id", key.as("__k"))
          .agg(count(lit(1)).as("c"))
          .groupBy($"user_id")
          .agg(sum($"c" * ($"c" - 1L) * (lit(2L) * $"c" + 5L))
              .as(s"${p}1"),
            sum($"c" * ($"c" - 1L) * ($"c" - 2L)).as(s"${p}2"),
            sum($"c" * ($"c" - 1L)).as(s"${p}3"))
      val nF = ev.groupBy($"user_id").agg(count(lit(1)).as("n"))
      nF.join(sS, Seq("user_id"))
        .join(tieMoments($"q", "t"), Seq("user_id"))
        .join(tieMoments($"es", "u"), Seq("user_id"))
        .withColumn("v0",
          (d($"n") * (d($"n") - 1.0) * (lit(2.0) * d($"n") + 5.0)
            - d($"t1") - d($"u1")) / 18.0)
        .withColumn("v1", when($"n" > 2,
          d($"t2") * d($"u2") /
            (lit(9.0) * d($"n") * (d($"n") - 1.0) * (d($"n") - 2.0)))
          .otherwise(0.0))
        .withColumn("v2",
          d($"t3") * d($"u3") / (lit(2.0) * d($"n") * (d($"n") - 1.0)))
        .withColumn("v", $"v0" + $"v1" + $"v2")
        .select($"user_id", $"n", $"s_stat",
          when($"s_stat" > 0,
            round((d($"s_stat") - 1.0) / sqrt($"v"), 4))
            .when($"s_stat" < 0,
              round((d($"s_stat") + 1.0) / sqrt($"v"), 4))
            .otherwise(0.0).as("z"))
        .orderBy($"user_id")
    }),

    // ---- W32: Theil–Sen robust trend ----------------------------------
    // Median-of-pairwise-slopes trend per user (Theil 1950, Sen 1968) —
    // the 29%-breakdown robust companion to a37's OLS (one wild outlier
    // tilts the OLS line; the slope median shrugs it off). Pairs with
    // equal truncated-second timestamps are excluded (distinct-x
    // contract of the estimator). Exactness: each slope is ONE double
    // division of exact integers (identical IEEE in both engines); the
    // median is the LOWER order statistic at exact-integer rank
    // ⌈m/2⌉ = (m+1) div 2 under a fully-tiebroken order — never an
    // interpolated quantile, so no midpoint float arithmetic exists to
    // diverge. 100 TB shape: ONE user-keyed self-join guarded by the g6
    // hot-key cap policy (over-cap users skipped with drop accounting;
    // ≤ ~125k pairs/user at 500); the rank window rides the same
    // user-keyed exchange.
    "w32_theilsen" -> ((s, dir) => {
      import s.implicits._
      val ev = graft.ops.Buckets.capMembers(
        t(s, dir, "events")
          .select($"user_id", $"event_id", Det.epochS($"ts").as("es"),
            round($"value" * MilliScale).cast("long").as("q")),
        Seq($"user_id"), TsPairCap, label = "w32")
        .localCheckpoint()
      val w = Window.partitionBy($"user_id")
      val sl = ev.as("x").join(ev.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.es") < col("y.es"))
        .select(col("x.user_id").as("user_id"),
          ((col("y.q") - col("x.q")).cast("double") /
            (col("y.es") - col("x.es")).cast("double")).as("slope"),
          col("x.es").as("esi"), col("x.event_id").as("idi"),
          col("y.event_id").as("idj"))
      sl.withColumn("rn", row_number().over(
          w.orderBy($"slope", $"esi", $"idi", $"idj")))
        .withColumn("m", count(lit(1)).over(w))
        .filter($"rn" === expr("(m + 1) div 2"))
        .select($"user_id", $"m".as("n_pairs"),
          round($"slope" * 86.4, 6).as("trend_per_day"))
        .orderBy($"user_id")
    }),

    // ---- A46: seasonal strength (Hyndman & Athanasopoulos) ------------
    // Strength of the hour-of-day seasonal pattern per event type:
    // 1 − SS_within/SS_total over the 24 hour buckets (the classic
    // variance-explained seasonality measure; ≈0 = no daily pattern,
    // →1 = value determined by hour), plus the peak hour. Exactness:
    // all moments are exact BIGINT per (type, hour); the SS arithmetic
    // is scalar IEEE on those integers with products taken in DOUBLES
    // (n·Σq² would cross int64 — the a38 rule), and the one cross-
    // bucket Σ folds sorted (t30 recipe, ≤24 addends). 100 TB shape:
    // ONE map-side-combined (type, hour) agg collapses the corpus to
    // ≤ types·24 rows; everything after runs on that tiny frame.
    "a46_seasonal_strength" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val hm = seasCounts(t(s, dir, "events")
          .select($"event_type", Det.epochS($"ts").as("es"),
            round($"value" * MilliScale).cast("long").as("q")))
        .withColumn("term",
          (d($"nh") * d($"s2h") - d($"sh") * d($"sh")) / d($"nh"))
        .localCheckpoint() // ≤ types·24 rows; feeds strength AND peak
      val wP = Window.partitionBy($"event_type")
        .orderBy((d($"sh") / d($"nh")).desc, $"hh")
      val peak = hm.withColumn("__rk", row_number().over(wP))
        .filter($"__rk" === 1)
        .select($"event_type", $"hh".as("peak_hour"))
      hm.groupBy($"event_type")
        .agg(sum($"nh").as("n"), sum($"sh").as("s"), sum($"s2h").as("s2"),
          aggregate(sort_array(collect_list($"term")), lit(0.0),
            (acc, x) => acc + x).as("ssw"))
        .withColumn("sst", (d($"n") * d($"s2") - d($"s") * d($"s")) / d($"n"))
        .join(peak, Seq("event_type"))
        .select($"event_type", $"n",
          round(lit(1.0) - $"ssw" / $"sst", 6).as("seasonal_strength"),
          $"peak_hour")
        .orderBy($"event_type")
    }),

    // ---- W31: EWMA control chart (Roberts 1959) -----------------------
    // The other classic mean-shift monitor beside w28's CUSUM: z_i =
    // λ·x_i + (1−λ)·z_{i−1}, alarm when |z − μ| exceeds L·σ·√(λ/(2−λ)).
    // The recursion is UNROLLED to D lags (truncated EWMA — the weight
    // beyond D is < 0.32% at λ=1/4) with the residual mass handed to the
    // per-user mean, so the whole chart is one key-partitioned window
    // pass with bounded frame state instead of a sequential scan.
    // Exactness: weights are dyadic literals shared verbatim by both
    // engines; μ/σ are scalar IEEE on exact integer moments (the p21
    // principle); every sum/product is written in the same association
    // in both engines. 100 TB shape: ONE user_id shuffle shared by the
    // moments join and the lag window; output is only the alarm rows.
    "w31_ewma_chart" -> ((s, dir) => {
      import s.implicits._
      val ev = ewmaEvents(s, dir)
      val st = ewmaCalib(ev)
      val w = Window.partitionBy($"user_id").orderBy($"es", $"event_id")
      val terms = (0 until EwmaD).map(d =>
        coalesce(lit(ewmaW(d)) * lag($"vc".cast("double"), d).over(w),
          lit(0.0)))
      val na = least($"__rn" - 1, lit(EwmaD - 1))
      val tailw = (0 until EwmaD - 1)
        .foldLeft(None: Option[org.apache.spark.sql.Column]) {
          case (acc, k) =>
            val c = acc.map(_.when(na === k, ewmaTail(k)))
              .getOrElse(when(na === k, ewmaTail(k)))
            Some(c)
        }.get.otherwise(ewmaTail(EwmaD - 1))
      ev.withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__zs", terms.reduce(_ + _))
        .join(st, Seq("user_id"))
        .withColumn("z", $"__zs" + tailw * $"mu")
        .filter(abs($"z" - $"mu") > lit(EwmaL) * $"sig" * lit(ewmaCfac))
        .select($"user_id", $"es", $"vc", round($"z", 4).as("ewma_milli"),
          round(($"z" - $"mu") / ($"sig" * lit(ewmaCfac)), 4).as("z_sigma"))
        .orderBy($"user_id", $"es")
    }),

    "w28_cusum" -> ((s, dir) => {
      import s.implicits._
      val ev = cusumEvents(s, dir)
      val st = cusumCalib(ev)
      val w = Window.partitionBy($"user_id").orderBy($"es", $"event_id")
      ev.join(st, Seq("user_id"))
        .withColumn("dabs", abs($"n_events" * sum($"q").over(w) -
          row_number().over(w) * $"sq"))
        .groupBy($"user_id", $"n_events")
        // max over (|D|, −es): largest score, ties → earliest time
        .agg(max(struct($"dabs", (-$"es").as("nes"))).as("m"))
        .select($"user_id", $"n_events",
          round($"m.dabs".cast("double") /
            ($"n_events".cast("double") * MilliScale), 6).as("score"),
          (-$"m.nes").as("cp_es"))
        .orderBy($"score".desc, $"user_id")
        .limit(CusumTopK)
    }),

    // ---- A39: Welch's unequal-variance t-test -------------------------
    // Two-arm mean comparison (click vs view event values) with the
    // Welch–Satterthwaite df. One conditional-aggregation pass; the six
    // sufficient statistics are exact integers.
    "a39_welch_ttest" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .filter($"event_type".isin(TtA, TtB))
        .select($"event_type",
          round($"value" * MilliScale).cast("long").as("q"))
      val isA = $"event_type" === TtA
      val agg = ev.agg(
        sum(when(isA, 1L).otherwise(0L)).as("n1"),
        sum(when(isA, $"q").otherwise(0L)).as("s1"),
        sum(when(isA, $"q" * $"q").otherwise(0L)).as("ss1"),
        sum(when(!isA, 1L).otherwise(0L)).as("n2"),
        sum(when(!isA, $"q").otherwise(0L)).as("s2"),
        sum(when(!isA, $"q" * $"q").otherwise(0L)).as("ss2"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      agg
        .withColumn("m1", d($"s1") / d($"n1"))
        .withColumn("m2", d($"s2") / d($"n2"))
        .withColumn("v1",
          (d($"ss1") - d($"s1") * d($"s1") / d($"n1")) / (d($"n1") - 1.0))
        .withColumn("v2",
          (d($"ss2") - d($"s2") * d($"s2") / d($"n2")) / (d($"n2") - 1.0))
        .withColumn("se1", $"v1" / d($"n1"))
        .withColumn("se2", $"v2" / d($"n2"))
        .select($"n1", $"n2",
          round(($"m1" - $"m2") / MilliScale, 6).as("mean_diff"),
          round(($"m1" - $"m2") / sqrt($"se1" + $"se2"), 6).as("t_stat"),
          round(($"se1" + $"se2") * ($"se1" + $"se2") /
            ($"se1" * $"se1" / (d($"n1") - 1.0) +
              $"se2" * $"se2" / (d($"n2") - 1.0)), 6).as("df"))
    }),

    // ---- Z4: forward as-of join ---------------------------------------
    // Each click matched to the same user's NEXT purchase (smallest
    // purchase ts ≥ click ts) — conversion attribution. Same
    // union-and-carry shape as z2 (ops/AsOf.scala), reversed carry
    // direction: one user_id shuffle + one sorted pass, never a
    // range-join candidate blowup.
    "z4_asof_forward" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id", Det.epochS($"ts").as("es"))
      // as-of contract: right unique per (key, ts) — keep max event_id
      val wD = Window.partitionBy($"user_id", $"es").orderBy($"p_id".desc)
      val purch = ev.filter($"event_type" === "purchase")
        .select($"user_id", Det.epochS($"ts").as("es"),
          $"event_id".as("p_id"),
          round($"value" * 100).cast("long").as("p_cents"))
        .withColumn("__rn", row_number().over(wD)).filter($"__rn" === 1)
        .drop("__rn")
      graft.ops.AsOf.joinForward(clicks, purch, Seq("user_id"), "es",
          Seq("p_id", "p_cents"))
        .select($"event_id", $"user_id", $"es",
          $"asof_p_id", $"asof_p_cents")
        .orderBy($"event_id")
    }),

    // ---- G6: co-purchase supplier similarity --------------------------
    // Common-neighbor Jaccard between suppliers sharing customers — the
    // item-item collaborative-similarity primitive. 100 TB shape: ONE
    // customer-keyed self-join of the distinct bipartite edge list,
    // guarded by the same hot-bucket cap every sibling pair-generator has
    // (Buckets.capMembers): one power-customer with S suppliers emits
    // S·(S−1)/2 pairs, so over-cap customers are SKIPPED from both the
    // pair count AND the degrees (Jaccard stays internally consistent:
    // common ≤ min(d1, d2)), with the standard observed-metric drop
    // accounting. The cap is NON-BINDING at every test SF (TPC-H max
    // suppliers/customer ≪ 1000; the oracle applies the identical filter
    // so the gate would catch a binding cap). Degree join per side,
    // integer counts until the final ratio.
    "g6_supplier_jaccard" -> ((s, dir) => {
      import s.implicits._
      val edges = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
        .join(t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("c"), $"l_suppkey".as("sk"))
      coJaccard(edges, G6CustomerCap, CusumTopK)
    }),

    // ---- G9: resource-allocation link prediction ----------------------
    // Zhou, Lü & Zhang 2009: RA(s1,s2) = Σ_{c ∈ N(s1)∩N(s2)} 1/deg(c) —
    // the common-neighbor index that discounts promiscuous neighbors
    // (g6's Jaccard weighs every shared customer equally; RA downweights
    // customers who buy from everyone, which dominates Jaccard/AA on
    // link-prediction benchmarks). Exactness: the per-customer weight is
    // ppm-quantized by INTEGER floor-division (1e6 DIV deg — no libm, no
    // float sum order to disagree on), the per-pair score accumulates as
    // an exact BIGINT ppm sum, and the only double op is the final
    // display division. 100 TB shape: identical to g6 — ONE
    // customer-keyed self-join of the capped distinct edge list
    // (Buckets.capMembers, same non-binding-at-test-SF cap, same drop
    // accounting); the degree weight rides the same customer-keyed
    // exchange, so RA adds no shuffle over the Jaccard it refines.
    "g9_resource_alloc" -> ((s, dir) => {
      import s.implicits._
      val edges = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
        .join(t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("c"), $"l_suppkey".as("sk"))
      val pairs = graft.ops.Buckets
        .capMembers(edges.distinct(), Seq($"c"), G6CustomerCap,
          label = "g9")
        .localCheckpoint()
      val cdeg = pairs.groupBy($"c").agg(count(lit(1)).as("cd"))
      pairs.join(cdeg, Seq("c")).as("x")
        .join(pairs.as("y"),
          col("x.c") === col("y.c") && col("x.sk") < col("y.sk"))
        .groupBy(col("x.sk").as("s1"), col("y.sk").as("s2"))
        .agg(count(lit(1)).as("common"),
          sum(expr("CAST(1000000 AS BIGINT) DIV cd")).as("ra_ppm"))
        .select($"s1", $"s2", $"common", $"ra_ppm",
          round($"ra_ppm".cast("double") / lit(1000000.0), 6).as("ra"))
        .orderBy($"ra_ppm".desc, $"s1", $"s2")
        .limit(CusumTopK)
    }),

    // ---- G10: degree assortativity --------------------------------------
    // Newman 2002's mixing coefficient for the customer→supplier graph:
    // Pearson correlation of (deg(customer), deg(supplier)) over the
    // capped distinct edge list — do high-degree customers buy from
    // high-degree suppliers (assortative, r > 0) or from the long tail
    // (disassortative, r < 0)? The one-number structure summary behind
    // g1/g8's rankings. Exactness: degrees and all five moments are
    // exact BIGINTs (Σd² exact while edges·d_max² < 2^63 ⇒ E ≲ 9e6 at
    // d ≤ 1e6 — the a40 DECIMAL escape beyond), r is the a19 expression
    // shape. 100 TB shape: two degree aggs + two joins riding the edge
    // list's own keys; one scalar agg.
    "g10_assortativity" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val edges = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
        .join(t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("c"), $"l_suppkey".as("sk"))
      val pairs = graft.ops.Buckets
        .capMembers(edges.distinct(), Seq($"c"), G6CustomerCap,
          label = "g10")
        .localCheckpoint()
      val cdeg = pairs.groupBy($"c").agg(count(lit(1)).as("dc"))
      val sdeg = pairs.groupBy($"sk").agg(count(lit(1)).as("ds"))
      pairs.join(cdeg, Seq("c")).join(sdeg, Seq("sk"))
        .agg(count(lit(1)).as("n"), sum($"dc").as("sx"),
          sum($"ds").as("sy"), sum($"dc" * $"ds").as("sxy"),
          sum($"dc" * $"dc").as("sxx"), sum($"ds" * $"ds").as("syy"))
        .select($"n".as("n_edges"),
          round((d($"n") * d($"sxy") - d($"sx") * d($"sy")) /
            sqrt((d($"n") * d($"sxx") - d($"sx") * d($"sx")) *
              (d($"n") * d($"syy") - d($"sy") * d($"sy"))), 6)
            .as("assortativity"))
    }),

    // ---- T18: full Gopher repetition battery --------------------------
    // For n = 2..4 per document: fraction of n-gram occurrences whose
    // gram repeats (dup_frac) and of the single most frequent gram
    // (top_frac) — the t8 top-token rule extended to the n-gram battery
    // of Rae et al. 2021. Linear shape per order: explode → count → two
    // per-doc aggregates; one doc_id shuffle per n, no quadratic fold.
    "t18_gopher_repetition" -> ((s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .localCheckpoint() // feeds all three n-gram branches
      RepNs.map { n =>
        base.filter(size($"toks") >= n)
          .select($"doc_id",
            explode(TextOps.wordNgrams($"toks", n)).as("g"))
          .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(sum($"c").as("total_ngrams"),
            sum(when($"c" >= 2, $"c").otherwise(0L)).as("dup"),
            max($"c").as("top"))
          .select($"doc_id", lit(n).as("n"), $"total_ngrams",
            round($"dup".cast("double") /
              $"total_ngrams".cast("double"), 6).as("dup_frac"),
            round($"top".cast("double") /
              $"total_ngrams".cast("double"), 6).as("top_frac"))
      }.reduce(_ unionByName _)
        .orderBy($"doc_id", $"n")
    }),

    // ---- A40: Mann–Whitney U rank-sum test ----------------------------
    // The nonparametric twin of a39 (distribution-free mean-shift test):
    // tie-averaged ranks over the combined sample, U from the rank sum,
    // z with the tie-corrected variance. Ranks come from value-group
    // counts + the distributed prefix sum — DOUBLED average ranks keep
    // every rank statistic an exact integer (ties average to halves).
    // 100 TB shape: one value groupBy + the two-pass cumsum over the
    // (much smaller) distinct-value frame + one scalar agg. The tie
    // correction cnt³−cnt accumulates in DECIMAL(38,0) (int64 would
    // overflow once any single tied value group exceeds ~2.1M rows —
    // easily hit by milli-quantized values at scale); it only ever feeds
    // the final double z, so the widening is free.
    "a40_mannwhitney" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .filter($"event_type".isin(TtA, TtB))
        .select(($"event_type" === TtA).cast("long").as("a"),
          round($"value" * MilliScale).cast("long").as("q"))
      val byV = ev.groupBy($"q")
        .agg(count(lit(1)).as("cnt"), sum($"a").as("n1v"))
      val cum = graft.ops.Ranks.globalCumSum(byV, Seq($"q"), $"cnt", "cum")
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      cum
        .select($"cnt", $"n1v",
          // doubled tie-averaged rank of the value group
          (lit(2L) * ($"cum" - $"cnt") + $"cnt" + 1L).as("r2"))
        .agg(sum($"n1v" * $"r2").as("r2sum1"), sum($"n1v").as("n1"),
          sum($"cnt" - $"n1v").as("n2"),
          sum($"cnt".cast("decimal(38,0)") * $"cnt" * $"cnt" - $"cnt")
            .as("tie3"))
        .withColumn("u1",
          (d($"r2sum1") - d($"n1") * (d($"n1") + 1.0)) / 2.0)
        .withColumn("nn", d($"n1") + d($"n2"))
        .select($"n1", $"n2", round($"u1", 2).as("u1"),
          round(($"u1" - d($"n1") * d($"n2") / 2.0) /
            sqrt(d($"n1") * d($"n2") / 12.0 *
              (($"nn" + 1.0) - d($"tie3") / ($"nn" * ($"nn" - 1.0)))), 6)
            .as("z_stat"))
    }),

    // ---- G7: weighted seed cost (fixed-round Bellman–Ford) ------------
    // The weighted companion to g2: cheapest trade-path cost from the
    // trusted-supplier seeds, edge weight = cheapest linking order in
    // cents. Pure integer costs; the oracle unrolls the same 3
    // relaxation rounds (ops/Bfs.seedCost).
    "g7_weighted_seed_cost" -> ((s, dir) => {
      import s.implicits._
      val ew = t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .join(t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select(concat(lit("c"), $"o_custkey").as("c"),
          concat(lit("s"), $"l_suppkey").as("sk"),
          round($"o_totalprice" * 100).cast("long").as("cents"))
        .groupBy($"c", $"sk").agg(min($"cents").as("w"))
      val edges = ew.select($"c".as("src"), $"sk".as("dst"), $"w")
        .unionAll(ew.select($"sk".as("src"), $"c".as("dst"), $"w"))
      val seeds = t(s, dir, "supplier")
        .filter($"s_suppkey" % G7SeedMod === 0)
        .select(concat(lit("s"), $"s_suppkey").as("node"))
      graft.ops.Bfs.seedCost(edges, seeds, G7Rounds).orderBy($"node")
    }),

    // ---- W29: SAX symbolization (Lin et al. 2003) ---------------------
    // Per-user z-normalized piecewise-aggregate segments mapped to a
    // 4-letter alphabet — the time-series indexing/motif primitive.
    // Segment membership is pure integer arithmetic off the per-user
    // rank; z and the breakpoint comparisons evaluate from exact integer
    // sufficient statistics with dyadic breakpoints (see SaxBp).
    // 100 TB shape: ONE user_id shuffle shared by the rank window, the
    // segment agg and the stats join.
    "w29_sax" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"user_id", $"event_id", Det.epochS($"ts").as("es"),
          round($"value" * MilliScale).cast("long").as("q"))
      val w = Window.partitionBy($"user_id").orderBy($"es", $"event_id")
      val segs = ev.withColumn("i", row_number().over(w))
        .withColumn("seg", expr(s"(i - 1) div $SaxSegLen"))
        .groupBy($"user_id", $"seg")
        .agg(sum($"q").as("ssum"), count(lit(1)).as("scnt"))
      val st = ev.groupBy($"user_id")
        .agg(count(lit(1)).as("n"), sum($"q").as("s"),
          sum($"q" * $"q").as("ss"))
        .filter($"n" >= 2)
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      segs.join(st, Seq("user_id"))
        .withColumn("sd", sqrt((d($"ss") - d($"s") * d($"s") / d($"n")) /
          (d($"n") - 1.0)))
        .filter($"sd" > 0.0)
        .withColumn("z",
          (d($"ssum") / d($"scnt") - d($"s") / d($"n")) / $"sd")
        .select($"user_id", $"seg", $"scnt",
          when($"z" < -SaxBp, 0).when($"z" < 0.0, 1)
            .when($"z" < SaxBp, 2).otherwise(3).as("sym"))
        .orderBy($"user_id", $"seg")
    }),

    // ---- A41: KS uniformity gate for the keyed-LCG RNG ----------------
    // Every seeded selection in the engine (p8/p12/p14, z5's sampler)
    // trusts Det.frac to be uniform — this gates it: one-sample
    // Kolmogorov–Smirnov D against U[0,1), kept EXACT by integer
    // cross-multiplication (frac = r2/2^31 with r2 integral, so
    // n·M·D⁺ = max(i·M − n·r2_(i)) is pure int64 — the a27 recipe
    // against a theoretical CDF). Order comes from the two-pass rank.
    "a41_rng_uniformity" -> ((s, dir) => {
      import s.implicits._
      val M = graft.functions.Det.M
      val r2 = (Det.frac($"event_id", RngSeed) * M).cast("long")
      val ev = t(s, dir, "events").select($"event_id", r2.as("r2"))
      val ranked = graft.ops.Ranks.globalRowNumberWithTotal(
        ev, Seq($"r2", $"event_id"), "i", "n")
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      ranked
        .select($"n", ($"i" * M - $"n" * $"r2").as("up"),
          ($"n" * $"r2" - ($"i" - 1L) * M).as("dn"))
        .groupBy($"n")
        .agg(greatest(max($"up"), max($"dn")).as("nmd"))
        .select($"n",
          round(d($"nmd") / (d($"n") * M.toDouble), 6).as("d_stat"),
          round(d($"nmd") / (d($"n") * M.toDouble) * sqrt(d($"n")), 4)
            .as("d_sqrt_n"))
    }),

    // ---- E13: cluster-quality gate for e11 ----------------------------
    // Per-cluster separation statistics against the FINAL centroids: mean
    // own-centroid distance vs mean nearest-other-centroid distance (the
    // Davies–Bouldin-style compactness/separation read an operator checks
    // before trusting cluster-balanced sampling). Per-vector distances
    // are exact integers, so per-cluster SUMS are order-free; only the
    // two reported ratios divide. Map-only per row (k+1 native kernels
    // against broadcast literal centroids) + one cluster agg.
    "e13_cluster_quality" -> ((s, dir) => {
      import s.implicits._
      val vecs = t(s, dir, "embeddings")
        .select($"vec_id",
          graft.similarity.KMeansQ.quantize($"embedding", KmScale).as("q"))
        .localCheckpoint()
      val init: Array[Array[Long]] = vecs.filter($"vec_id" < KmK)
        .orderBy($"vec_id").select($"q").collect()
        .map(_.getSeq[Double](0).map(_.toLong).toArray)
      val (_, cents) = graft.similarity.KMeansQ.lloyd(
        vecs, "vec_id", "q", KmK, KmIters, init)
      val qq = graft.expressions.DotExpr.dot($"q", $"q")
      val dists = cents.zipWithIndex.map { case (c, j) =>
        val cc = c.map(v => v.toDouble * v.toDouble).sum
        (qq - lit(2.0) * graft.expressions.DotExpr.dot($"q",
          lit(c.map(_.toDouble))) + lit(cc)).as(s"d$j")
      }
      val withD = vecs.select(($"vec_id" +: dists): _*)
      val own = least((0 until KmK).map(j =>
        struct(col(s"d$j").as("d"), lit(j).as("j"))): _*)
      // cast the exact-integer double distances to LONG before summing:
      // per-cluster sums can pass 2^53 (where double addition would
      // round order-dependently) but never 2^63
      val scored = withD
        .withColumn("cluster", own("j"))
        .withColumn("a", own("d").cast("long"))
        .withColumn("b", least((0 until KmK).map(j =>
          when($"cluster" === j, lit(Double.MaxValue))
            .otherwise(col(s"d$j"))): _*).cast("long"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      scored.groupBy($"cluster")
        .agg(count(lit(1)).as("n"), sum($"a").as("sa"), sum($"b").as("sb"))
        .select($"cluster", $"n",
          round(d($"sa") / d($"n"), 2).as("mean_own_d2"),
          round(d($"sb") / d($"n"), 2).as("mean_other_d2"),
          round(d($"sb") / d($"sa"), 6).as("separation"))
        .orderBy($"cluster")
    }),

    // ---- E26: simplified silhouette over the e11 clusters -----------------
    // The POINT-pairwise clustering-quality read e13's centroid view
    // cannot give (Rousseeuw 1987; the decomposable mean-SQUARED-
    // distance variant — "simplified silhouette" — stated): per vector,
    // a = mean squared distance to its OWN cluster (excluding self),
    // b = min over other clusters of the mean squared distance,
    // s = (b − a)/max(a, b). The all-pairs sums collapse to per-cluster
    // sufficient statistics (n_j, per-dim sums S_j, Σ‖y‖²):
    // Σ_y‖x − y‖² = n_j‖x‖² − 2x·S_j + Σ‖y‖² — so the corpus is
    // never paired. Exactness: all three statistics and the per-
    // (vec, cluster) numerator are exact BIGINTs on the e6-quantized
    // vectors (x·S_j summed per-dim in int64 — never a double dot, the
    // e24 lesson); a, b, s assemble in doubles from exact integers;
    // per-point s is e6-quantized (the a45 summand rule) so cluster
    // means are order-free; singleton-own / all-zero guards CASE'd
    // identically in both engines. 100 TB shape: the e11 assignment
    // passes + ONE dim explode joined to a k·d-row broadcast (linear,
    // ×k·d) + k-row reports.
    "e26_silhouette" -> ((s, dir) => {
      import s.implicits._
      val vecs = t(s, dir, "embeddings")
        .select($"vec_id",
          graft.similarity.KMeansQ.quantize($"embedding", KmScale).as("q"))
        .localCheckpoint()
      val init: Array[Array[Long]] = vecs.filter($"vec_id" < KmK)
        .orderBy($"vec_id").select($"q").collect()
        .map(_.getSeq[Double](0).map(_.toLong).toArray)
      val (assigned, _) = graft.similarity.KMeansQ.lloyd(
        vecs, "vec_id", "q", KmK, KmIters, init)
      val m = vecs.join(assigned, Seq("vec_id"))
        .withColumn("qq2",
          graft.expressions.DotExpr.dot($"q", $"q").cast("long"))
        .localCheckpoint() // feeds the cluster stats AND the explode
      val ssqn = m.groupBy($"cluster")
        .agg(count(lit(1)).as("nj"), sum($"qq2").as("ssq"))
      val qd = m.select($"vec_id", $"cluster".as("own"), $"qq2",
          posexplode($"q").as(Seq("dim", "v")))
        .withColumn("vl", $"v".cast("long"))
        .localCheckpoint() // feeds the dim sums AND the cross join
      val dims = qd.groupBy($"own", $"dim").agg(sum($"vl").as("sjd"))
        .select($"own".as("j"), $"dim", $"sjd")
      val xs = qd.join(broadcast(dims), Seq("dim")) // k·d-row broadcast
        .groupBy($"vec_id", $"own", $"qq2", $"j")
        .agg(sum($"vl" * $"sjd").as("xs"))
      val dd = (c: org.apache.spark.sql.Column) => c.cast("double")
      val ab = xs
        .join(broadcast(ssqn.select($"cluster".as("j"), $"nj", $"ssq")),
          Seq("j"))
        .withColumn("num", $"nj" * $"qq2" - lit(2L) * $"xs" + $"ssq")
        .groupBy($"vec_id", $"own")
        .agg(max(when($"j" === $"own", $"num")).as("anum"),
          max(when($"j" === $"own", $"nj" - 1L)).as("aden"),
          min(when($"j" =!= $"own", dd($"num") / dd($"nj"))).as("b"))
      ab
        .withColumn("a", when($"aden" > 0L, dd($"anum") / dd($"aden")))
        .withColumn("s6",
          when($"aden" === 0L || $"b".isNull, 0L)
            .otherwise(when(greatest($"a", $"b") === 0.0, 0L)
              .otherwise(round(($"b" - $"a") / greatest($"a", $"b") * 1e6)
                .cast("long"))))
        .groupBy($"own")
        .agg(count(lit(1)).as("n"), sum($"s6").as("ss6"))
        .select($"own".as("cluster"), $"n",
          round(dd($"ss6") / dd($"n") / 1e6, 6).as("mean_silhouette"))
        .orderBy($"cluster")
    }),

    // ---- Z5: embedding-side curation chain, one gated query -----------
    // k-means clustering → in-cluster near-dup drop (greedy-by-id at
    // cosine ≥ τ, the SemDeDup within-cell shape) → cluster-balanced
    // keyed-LCG sample. The z3 treatment for the embedding leg: e11, e7
    // and p12 are individually green — this gates their SEAMS (a cluster
    // or survivor error anywhere reshuffles every later sample rank).
    // Cosine test is float-boundary-safe: dot² ≥ τ²·|a|²·|b|² evaluated
    // from exact-integer doubles with the identical expression shape in
    // both engines.
    "z5_embed_curate_e2e" -> ((s, dir) => {
      import s.implicits._
      val vecs = t(s, dir, "embeddings")
        .select($"vec_id",
          graft.similarity.KMeansQ.quantize($"embedding", KmScale).as("q"))
        .localCheckpoint()
      val init: Array[Array[Long]] = vecs.filter($"vec_id" < KmK)
        .orderBy($"vec_id").select($"q").collect()
        .map(_.getSeq[Double](0).map(_.toLong).toArray)
      val (assigned, _) = graft.similarity.KMeansQ.lloyd(
        vecs, "vec_id", "q", KmK, KmIters, init)
      // clustered frame feeds both self-join sides + the survivor
      // anti-join → localCheckpoint (fan-out rule)
      val side = vecs.join(assigned, Seq("vec_id"))
        .withColumn("qq", graft.expressions.DotExpr.dot($"q", $"q"))
        .localCheckpoint()
      val drops = side.as("x").join(side.as("y"),
          col("x.cluster") === col("y.cluster") &&
            col("x.vec_id") < col("y.vec_id"))
        .withColumn("dot",
          graft.expressions.DotExpr.dot(col("x.q"), col("y.q")))
        .filter($"dot" > 0.0 &&
          $"dot" * $"dot" >= lit(Z5TauSq) * col("x.qq") * col("y.qq"))
        .select(col("y.vec_id").as("vec_id")).distinct()
      val w = Window.partitionBy($"cluster")
        .orderBy(Det.frac($"vec_id", Z5Seed), $"vec_id")
      side.join(drops, Seq("vec_id"), "left_anti")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= Z5SampleN)
        .select($"cluster", $"rn", $"vec_id")
        .orderBy($"cluster", $"rn")
    }),

    // ---- E11: integer fixed-point Lloyd k-means -----------------------
    // k = 10 clusters over the embeddings table, 2 full Lloyd steps from
    // the first-k-vectors seed — bit-reproducible (see
    // similarity/KMeansQ.scala for the exactness + 100 TB contract), so
    // the oracle unrolls the identical iterations in SQL. Output: final
    // cluster sizes + integer centroid checksums.
    "e11_kmeans" -> ((s, dir) => {
      import s.implicits._
      // quantized column feeds k+1 kernel reads per row per pass →
      // localCheckpoint (a real deployment stores quantized vectors)
      val vecs = t(s, dir, "embeddings")
        .select($"vec_id",
          graft.similarity.KMeansQ.quantize($"embedding", KmScale).as("q"))
        .localCheckpoint()
      val init: Array[Array[Long]] = vecs.filter($"vec_id" < KmK)
        .orderBy($"vec_id").select($"q").collect()
        .map(_.getSeq[Double](0).map(_.toLong).toArray)
      val (assigned, cents) = graft.similarity.KMeansQ.lloyd(
        vecs, "vec_id", "q", KmK, KmIters, init)
      val csums = s.createDataFrame(
        (0 until KmK).map(j => (j, cents(j).sum)))
        .toDF("cluster", "centroid_sum")
      assigned.groupBy($"cluster").agg(count(lit(1)).as("n"))
        .join(broadcast(csums), Seq("cluster"), "right")
        .select($"cluster", coalesce($"n", lit(0L)).as("n"),
          $"centroid_sum")
        .orderBy($"cluster")
    }),

    // ---- E21: clustering stability via Adjusted Rand Index --------------
    // The k-means trust gate e13's quality score cannot give (Hubert &
    // Arabie 1985): run the SAME integer Lloyd twice from two different
    // deterministic seeds (first-k vectors vs next-k vectors) and score
    // partition agreement with ARI — near 1 ⇒ the clustering reflects
    // data structure, near 0 ⇒ it reflects the seed, and a curation
    // pipeline should not balance/bucket on it. Exactness: every pair
    // count uses the DOUBLED form x(x−1) (exact BIGINT, no /2 anywhere —
    // ARI is scale-invariant in its C(·,2) terms, stated in the
    // formula), with the cross products taken in doubles (a38 rule: Σa²
    // products reach N⁴). 100 TB shape: two e11 runs (broadcast-literal
    // assignment passes), ONE vec_id join, a ≤k² contingency agg, k-row
    // arithmetic after.
    "e21_ari_stability" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val vecs = t(s, dir, "embeddings")
        .select($"vec_id",
          graft.similarity.KMeansQ.quantize($"embedding", KmScale).as("q"))
        .localCheckpoint()
      def seed(lo: Int): Array[Array[Long]] =
        vecs.filter($"vec_id" >= lo && $"vec_id" < lo + KmK)
          .orderBy($"vec_id").select($"q").collect()
          .map(_.getSeq[Double](0).map(_.toLong).toArray)
      val (aA, _) = graft.similarity.KMeansQ.lloyd(
        vecs, "vec_id", "q", KmK, KmIters, seed(0))
      val (aB, _) = graft.similarity.KMeansQ.lloyd(
        vecs, "vec_id", "q", KmK, KmIters, seed(KmK))
      val ct = aA.select($"vec_id", $"cluster".as("la"))
        .join(aB.select($"vec_id", $"cluster".as("lb")), Seq("vec_id"))
        .groupBy($"la", $"lb").agg(count(lit(1)).as("nij"))
        .localCheckpoint() // ≤ k² rows; feeds all four aggs
      val sij = ct.agg(sum($"nij" * ($"nij" - 1L)).as("sij2"),
        sum($"nij").as("nv"))
      val sa = ct.groupBy($"la").agg(sum($"nij").as("a"))
        .agg(sum($"a" * ($"a" - 1L)).as("sa2"))
      val sb = ct.groupBy($"lb").agg(sum($"nij").as("b"))
        .agg(sum($"b" * ($"b" - 1L)).as("sb2"))
      sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .withColumn("tot2", d($"nv") * (d($"nv") - 1.0))
        .withColumn("expd", d($"sa2") * d($"sb2") / $"tot2")
        .select($"nv".as("n_vecs"),
          round((d($"sij2") - $"expd") /
            ((d($"sa2") + d($"sb2")) / 2.0 - $"expd"), 6).as("ari"))
    }),

    // ---- E22: cluster purity + NMI vs ground truth -----------------------
    // The external-validity counterpart to e21's stability: score e11's
    // Lloyd partition against the embeddings table's label column —
    // purity = Σ_c max_l n_cl / n (the "majority vote" accuracy) and the
    // √(HH)-normalized mutual information (Strehl & Ghosh 2002, the a64
    // recipe on a (cluster, label) contingency). Together with e21
    // (ARI ≈ 0.016) this closes the clustering-audit triad: stable?
    // externally valid? — here NMI near 0 says the synthetic labels are
    // not recoverable from these embeddings by k-means, which is the
    // honest answer a curation pipeline needs BEFORE balancing on
    // clusters. Exactness: one e11 run (bit-reproducible by the KMeansQ
    // contract), integer contingency; purity is integer until the final
    // division; MI terms fold sorted over ≤ k·L cells (a64). 100 TB
    // shape: e11's broadcast-literal assignment passes + ONE vec_id
    // join + a ≤ k·L agg.
    "e22_cluster_purity" -> ((s, dir) => {
      import s.implicits._
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val emb = t(s, dir, "embeddings")
      val vecs = emb.select($"vec_id",
          graft.similarity.KMeansQ.quantize($"embedding", KmScale).as("q"))
        .localCheckpoint()
      val init: Array[Array[Long]] = vecs.filter($"vec_id" < KmK)
        .orderBy($"vec_id").select($"q").collect()
        .map(_.getSeq[Double](0).map(_.toLong).toArray)
      val (assigned, _) = graft.similarity.KMeansQ.lloyd(
        vecs, "vec_id", "q", KmK, KmIters, init)
      val ct = assigned
        .join(emb.select($"vec_id", $"label".cast("long").as("lb")),
          Seq("vec_id"))
        .groupBy($"cluster", $"lb").agg(count(lit(1)).as("nij"))
        .localCheckpoint() // ≤ k·L rows; feeds margins, purity AND MI
      val tot = ct.agg(sum($"nij").as("n"))
      val pur = ct.groupBy($"cluster").agg(max($"nij").as("mx"))
        .agg(sum($"mx").as("spur"))
      val nc = ct.groupBy($"cluster").agg(sum($"nij").as("nc"))
      val nl = ct.groupBy($"lb").agg(sum($"nij").as("nl"))
      val hOf = (m: DataFrame, cnt: String, out: String) =>
        m.crossJoin(broadcast(tot))
          .select((d(col(cnt)) / d(col("n")) *
            log(d(col(cnt)) / d(col("n")))).as("term"))
          .agg((-aggregate(sort_array(collect_list(col("term"))), lit(0.0),
            (a, x) => a + x)).as(out))
      val mi = ct.join(nc, Seq("cluster")).join(nl, Seq("lb"))
        .crossJoin(broadcast(tot))
        .select((d($"nij") / d($"n") *
          log(d($"nij" * $"n") / d($"nc" * $"nl"))).as("term"), $"n")
        .groupBy($"n")
        .agg(aggregate(sort_array(collect_list($"term")), lit(0.0),
          (a, x) => a + x).as("mi"))
      mi.crossJoin(broadcast(pur))
        .crossJoin(broadcast(hOf(nc, "nc", "hc")))
        .crossJoin(broadcast(hOf(nl, "nl", "hl")))
        .select($"n".as("n_vecs"),
          round(d($"spur") / d($"n"), 6).as("purity"),
          round($"mi", 6).as("mi_nats"),
          round($"mi" / sqrt($"hc" * $"hl"), 6).as("nmi"))
    }),

    // ---- A43: Poisson-bootstrap confidence interval ----------------------
    // The at-scale bootstrap (Chamandy et al. 2012, "Estimating
    // uncertainty for massive data streams"): instead of B resamples of
    // the corpus (B full shuffles), each row draws an independent
    // Poisson(1) weight per replicate — ONE map-only pass with a ×B
    // row-local fan-out, partial aggregation collapsing each partition to
    // B rows before the only shuffle (a B-row exchange). Here: a 95% CI
    // for mean(events.value) from B=40 truncated-Poisson replicates, the
    // weights drawn from the keyed LCG (partition/retry/scale-invariant,
    // a41-gated), replicate means as exact-integer ratios, and the CI
    // bounds as exact order statistics over the 40-row replicate frame
    // (the unpartitioned window is driver-trivial — the balancedTail
    // pattern). Exactness bound: w ≤ 6, |vc| ≤ 5.7e4 ⇒ Σw·vc exact while
    // n ≲ 2.7e13 rows; beyond that widen to DECIMAL(38,0) per the a40
    // rule. A replicate with Σw = 0 is excluded in both engines (P ≈ e⁻ⁿ
    // — never observed above toy n; stated for the contract).
    "a43_bootstrap_ci" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"event_id", round($"value" * 100).cast("long").as("vc"))
      val draws = ev
        .select($"event_id", $"vc",
          explode(sequence(lit(0), lit(BootB - 1))).as("b"))
        .withColumn("u",
          Det.frac($"event_id" * BootB.toLong + $"b", BootSeed))
      val first = when($"u" < lit(BootCdf.head), 0)
      val wCol = BootCdf.indices.drop(1)
        .foldLeft(first)((acc, k) => acc.when($"u" < lit(BootCdf(k)), k))
        .otherwise(BootCap).cast("long")
      val reps = draws.withColumn("w", wCol)
        .groupBy($"b")
        .agg(sum($"w" * $"vc").as("sw"), sum($"w").as("nw"))
        .filter($"nw" > 0L)
        .select($"b",
          ($"sw".cast("double") / $"nw".cast("double") / 100.0).as("m"))
      // trim ranks derived from the SURVIVING replicate count (lo = 2nd
      // smallest, hi = 2nd largest), not pinned to B: if a Σw = 0
      // replicate is ever dropped, the trim stays symmetric instead of
      // rank B−1 quietly becoming the max of a (B−1)-row frame
      val wOrd = Window.orderBy($"m", $"b") // B-row frame: driver-trivial
      val wAll = Window.partitionBy()       // same B-row frame
      val ci = reps.withColumn("r", row_number().over(wOrd))
        .withColumn("nr", count(lit(1)).over(wAll))
        .agg(count(lit(1)).as("n_reps"),
          max(when($"r" === BootLoRank, $"m")).as("ci_lo"),
          max(when($"r" === $"nr" - 1, $"m")).as("ci_hi"))
      val base = ev.agg(
        (sum($"vc").cast("double") / count(lit(1)).cast("double") / 100.0)
          .as("mean_value"))
      base.crossJoin(broadcast(ci))
        .select($"n_reps", $"mean_value", $"ci_lo", $"ci_hi")
    }))

  // ---------------------------------------------------------------------
  // oracles
  // ---------------------------------------------------------------------

  private def qMilli(col: String) =
    s"CAST(round($col * 1000) AS BIGINT)"

  /** The (lag, xq, yq) pairs `y.pos = x.pos + lag` of a CTE `o(q, pos)`,
    * for lags 1..maxLag: one equi-join per lag, UNION ALL'd, so each is a
    * hash join on `pos`. A lag table cross-joined into the join key made
    * DuckDB's cost grow quadratically in the rows. */
  private[queries] def lagPairsSql(maxLag: Int): String =
    (1 to maxLag).map(l =>
      s"SELECT $l AS lag, x.q AS xq, y.q AS yq FROM o x JOIN o y ON y.pos = x.pos + $l")
      .mkString("\n  UNION ALL ")

  private val toksSql =
    "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  /** One unrolled Lloyd step in SQL: assignment from `cin`, update into
    * `cout` (with empty-cluster fallback to `cin`). Distances are exact
    * BIGINT folds; the centroid mean is exact BIGINT floor division
    * (`//` + negative-remainder correction — DuckDB's `//` truncates
    * toward zero) so it matches `Math.floorDiv` identically, with no
    * reliance on double-quotient rounding (KMeansQ.scala). */
  private def kmStep(step: Int, cin: String, aOut: String,
                     cout: String): String = {
    val dist = s"list_reduce(list_transform(generate_series(1, $KmDim), " +
      s"i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])), (a, b) -> a + b)"
    s"""d$step AS (
       |  SELECT q.vec_id, c.j, $dist AS dist FROM q, $cin c),
       |$aOut AS (
       |  SELECT vec_id, j AS cluster FROM (
       |    SELECT vec_id, j, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY dist, j) AS rn FROM d$step)
       |  WHERE rn = 1),
       |u$step AS (
       |  SELECT j, i,
       |    (s // n) - CASE WHEN s < 0 AND s % n <> 0 THEN 1 ELSE 0 END AS v
       |  FROM (
       |    SELECT a.cluster AS j, t.i, CAST(sum(q.qv[t.i]) AS BIGINT) AS s,
       |      count(*) AS n
       |    FROM q JOIN $aOut a USING (vec_id),
       |      generate_series(1, $KmDim) t(i)
       |    GROUP BY 1, 2)),
       |$cout AS (
       |  SELECT cin.j, coalesce(g.cv, cin.cv) AS cv
       |  FROM $cin cin LEFT JOIN
       |    (SELECT j, list(v ORDER BY i) AS cv FROM u$step GROUP BY j) g
       |    ON cin.j = g.j)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "a38_acf" -> {
      s"""WITH o AS (
         |  SELECT ${qMilli("value")} AS q,
         |    row_number() OVER (ORDER BY ${Det.epochSSql("ts")}, event_id)
         |      AS pos
         |  FROM events),
         |p AS (
         |  ${lagPairsSql(AcfMaxLag)}),
         |st AS (
         |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
         |    CAST(sum(xq * yq) AS BIGINT) AS sxy,
         |    CAST(sum(xq * xq) AS BIGINT) AS sxx,
         |    CAST(sum(yq * yq) AS BIGINT) AS syy
         |  FROM p GROUP BY lag)
         |SELECT CAST(lag AS INTEGER) AS lag, n_pairs,
         |  round((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
         |FROM st ORDER BY lag""".stripMargin
    },

    "a47_runs_test" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es,
         |    ${qMilli("value")} AS q
         |  FROM events),
         |med AS (
         |  SELECT user_id,
         |    CAST(quantile_cont(q, 0.5) * 2 AS BIGINT) AS med2
         |  FROM ev GROUP BY user_id),
         |sided AS (
         |  SELECT ev.user_id, ev.es, ev.event_id,
         |    CASE WHEN ev.q * 2 > med.med2 THEN 1 ELSE 0 END AS side
         |  FROM ev JOIN med USING (user_id)
         |  WHERE ev.q * 2 != med.med2),
         |runs AS (
         |  SELECT user_id, side,
         |    CASE WHEN lag(side, 1) OVER w IS NULL
         |      OR side != lag(side, 1) OVER w THEN 1 ELSE 0 END AS nw
         |  FROM sided
         |  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
         |ag AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1,
         |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n2,
         |    CAST(sum(nw) AS BIGINT) AS runs
         |  FROM runs GROUP BY user_id),
         |mm AS (
         |  SELECT user_id, n1, n2, runs,
         |    1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) /
         |      CAST(n1 + n2 AS DOUBLE) AS mu,
         |    sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) *
         |      (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) -
         |        CAST(n1 + n2 AS DOUBLE)) /
         |      (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE) *
         |        (CAST(n1 + n2 AS DOUBLE) - 1.0))) AS sig
         |  FROM ag WHERE n1 > 0 AND n2 > 0)
         |SELECT user_id, n1, n2, runs,
         |  round((CAST(runs AS DOUBLE) - mu) / sig, 4) AS z
         |FROM mm ORDER BY user_id""".stripMargin,

    "a49_km_survival" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, ${Det.epochSSql("ts")} AS es
         |  FROM events),
         |subj AS (
         |  SELECT CASE WHEN p IS NOT NULL THEN p - f ELSE l - f END
         |      AS dur,
         |    CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS evt
         |  FROM (
         |    SELECT user_id, min(es) AS f, max(es) AS l,
         |      min(CASE WHEN event_type = '$KmEventType' THEN es END) AS p
         |    FROM ev GROUP BY user_id)),
         |risk AS (
         |  SELECT dur, CAST(sum(evt) AS BIGINT) AS d,
         |    CAST(count(*) AS BIGINT) AS tot
         |  FROM subj GROUP BY dur),
         |w AS (
         |  SELECT dur, d, tot,
         |    (SELECT count(*) FROM subj)
         |      - CAST(sum(tot) OVER (ORDER BY dur) AS BIGINT) + tot
         |      AS n_risk
         |  FROM risk),
         |e AS (
         |  SELECT dur, n_risk, d,
         |    CASE WHEN n_risk > d THEN
         |      CAST(round(ln(CAST(n_risk - d AS DOUBLE)
         |        / CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT) END AS lf
         |  FROM w WHERE d > 0),
         |c AS (
         |  SELECT dur, n_risk, d,
         |    CAST(sum(COALESCE(lf, 0)) OVER (ORDER BY dur) AS BIGINT)
         |      AS lognats_e6
         |  FROM e)
         |SELECT dur, n_risk, d, n_risk = d AS terminal,
         |  CASE WHEN n_risk = d THEN 0.0
         |    ELSE round(exp(CAST(lognats_e6 AS DOUBLE) / 1e6), 6) END
         |    AS surv,
         |  lognats_e6
         |FROM c ORDER BY dur""".stripMargin,

    "a50_logrank" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, ${Det.epochSSql("ts")} AS es
         |  FROM events),
         |subj AS (
         |  SELECT CASE WHEN p IS NOT NULL THEN p - f ELSE l - f END
         |      AS dur,
         |    CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS evt,
         |    CASE WHEN ${Det.fracSql("user_id", LrSeed)} < 0.5
         |      THEN 1 ELSE 0 END AS grp
         |  FROM (
         |    SELECT user_id, min(es) AS f, max(es) AS l,
         |      min(CASE WHEN event_type = '$KmEventType' THEN es END) AS p
         |    FROM ev GROUP BY user_id)),
         |risk AS (
         |  SELECT dur, CAST(sum(evt) AS BIGINT) AS dd,
         |    CAST(count(*) AS BIGINT) AS tot,
         |    CAST(sum(evt * grp) AS BIGINT) AS d1,
         |    CAST(sum(grp) AS BIGINT) AS tot1
         |  FROM subj GROUP BY dur),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
         |        CAST(sum(grp) AS BIGINT) AS n1_all FROM subj),
         |w AS (
         |  SELECT dur, dd, d1, n_all, n1_all,
         |    n_all - CAST(sum(tot) OVER (ORDER BY dur) AS BIGINT) + tot
         |      AS nr,
         |    n1_all - CAST(sum(tot1) OVER (ORDER BY dur) AS BIGINT) + tot1
         |      AS n1r
         |  FROM risk CROSS JOIN n),
         |e AS (
         |  SELECT n_all, n1_all, d1,
         |    CAST(round(1e6 * CAST(dd AS DOUBLE) * CAST(n1r AS DOUBLE)
         |      / CAST(nr AS DOUBLE)) AS BIGINT) AS e_e6,
         |    CASE WHEN nr > 1 THEN
         |      CAST(round(1e6 * CAST(dd AS DOUBLE)
         |        * (CAST(n1r AS DOUBLE) / CAST(nr AS DOUBLE))
         |        * (1.0 - CAST(n1r AS DOUBLE) / CAST(nr AS DOUBLE))
         |        * (CAST(nr AS DOUBLE) - CAST(dd AS DOUBLE))
         |        / (CAST(nr AS DOUBLE) - 1.0)) AS BIGINT)
         |      ELSE 0 END AS v_e6
         |  FROM w WHERE dd > 0),
         |ag AS (
         |  SELECT n_all, n1_all, CAST(sum(d1) AS BIGINT) AS o1,
         |    CAST(sum(e_e6) AS BIGINT) AS se6,
         |    CAST(sum(v_e6) AS BIGINT) AS sv6
         |  FROM e GROUP BY n_all, n1_all)
         |SELECT n1_all AS n_exposed, n_all - n1_all AS n_clean, o1,
         |  round(CAST(se6 AS DOUBLE) / 1e6, 4) AS e1,
         |  round((CAST(o1 AS DOUBLE) * 1e6 - CAST(se6 AS DOUBLE)) / 1e6
         |    / sqrt(CAST(sv6 AS DOUBLE) / 1e6), 4) AS z
         |FROM ag""".stripMargin,

    "q15_rfm_segments" ->
      s"""WITH u AS (
         |  SELECT user_id, max(${Det.epochSSql("ts")}) AS r,
         |    CAST(count(*) AS BIGINT) AS f,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m
         |  FROM events WHERE event_type = '$KmEventType'
         |  GROUP BY user_id),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
         |sc AS (
         |  SELECT user_id, m,
         |    CAST((row_number() OVER (ORDER BY -r, user_id) - 1) * 5
         |      // n + 1 AS INTEGER) AS qr,
         |    CAST((row_number() OVER (ORDER BY -f, user_id) - 1) * 5
         |      // n + 1 AS INTEGER) AS qf,
         |    CAST((row_number() OVER (ORDER BY -m, user_id) - 1) * 5
         |      // n + 1 AS INTEGER) AS qm
         |  FROM u CROSS JOIN n)
         |SELECT qr * 100 + qf * 10 + qm AS segment,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  round(CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    / 100.0, 4) AS avg_spend
         |FROM sc GROUP BY 1 ORDER BY segment""".stripMargin,

    "a57_corr_matrix" ->
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
         |st AS (
         |  SELECT g1.event_type AS t1, g2.event_type AS t2,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(g1.v) AS BIGINT) AS sx,
         |    CAST(sum(g2.v) AS BIGINT) AS sy,
         |    CAST(sum(g1.v * g2.v) AS BIGINT) AS sxy,
         |    CAST(sum(g1.v * g1.v) AS BIGINT) AS sxx,
         |    CAST(sum(g2.v * g2.v) AS BIGINT) AS syy
         |  FROM grid g1 JOIN grid g2
         |    ON g1.hr = g2.hr AND g1.event_type < g2.event_type
         |  GROUP BY 1, 2)
         |SELECT t1, t2, n AS n_hours,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r
         |FROM st ORDER BY t1, t2""".stripMargin,

    "a60_partial_corr" -> {
      def corrSql(n: String, sx: String, sy: String, sxy: String,
                  sxx: String, syy: String) =
        s"""(CAST($n AS DOUBLE) * CAST($sxy AS DOUBLE)
           |      - CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE))
           |    / sqrt((CAST($n AS DOUBLE) * CAST($sxx AS DOUBLE)
           |        - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE))
           |      * (CAST($n AS DOUBLE) * CAST($syy AS DOUBLE)
           |        - CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE)))""".stripMargin
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
         |z AS (SELECT hr, CAST(sum(v) AS BIGINT) AS z
         |      FROM grid GROUP BY hr),
         |rzm AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS sx, CAST(sum(z) AS BIGINT) AS sy,
         |    CAST(sum(v * z) AS BIGINT) AS sxy,
         |    CAST(sum(v * v) AS BIGINT) AS sxx,
         |    CAST(sum(z * z) AS BIGINT) AS syy
         |  FROM grid JOIN z USING (hr) GROUP BY event_type),
         |rz AS (
         |  SELECT event_type,
         |    ${corrSql("n", "sx", "sy", "sxy", "sxx", "syy")} AS rz
         |  FROM rzm),
         |pm AS (
         |  SELECT g1.event_type AS t1, g2.event_type AS t2,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(g1.v) AS BIGINT) AS sx,
         |    CAST(sum(g2.v) AS BIGINT) AS sy,
         |    CAST(sum(g1.v * g2.v) AS BIGINT) AS sxy,
         |    CAST(sum(g1.v * g1.v) AS BIGINT) AS sxx,
         |    CAST(sum(g2.v * g2.v) AS BIGINT) AS syy
         |  FROM grid g1 JOIN grid g2
         |    ON g1.hr = g2.hr AND g1.event_type < g2.event_type
         |  GROUP BY 1, 2),
         |rxy AS (
         |  SELECT t1, t2,
         |    ${corrSql("n", "sx", "sy", "sxy", "sxx", "syy")} AS rxy
         |  FROM pm)
         |SELECT t1, t2, round(rxy, 6) AS r_raw,
         |  round((rxy - a.rz * b.rz)
         |    / sqrt((1.0 - a.rz * a.rz) * (1.0 - b.rz * b.rz)), 6)
         |    AS r_partial
         |FROM rxy JOIN rz a ON a.event_type = rxy.t1
         |  JOIN rz b ON b.event_type = rxy.t2
         |ORDER BY t1, t2""".stripMargin
    },

    "a56_pacf" -> {
      s"""WITH o AS (
         |  SELECT ${qMilli("value")} AS q,
         |    row_number() OVER (ORDER BY ${Det.epochSSql("ts")}, event_id)
         |      AS pos
         |  FROM events),
         |p AS (
         |  ${lagPairsSql(AcfMaxLag)}),
         |st AS (
         |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
         |    CAST(sum(xq * yq) AS BIGINT) AS sxy,
         |    CAST(sum(xq * xq) AS BIGINT) AS sxx,
         |    CAST(sum(yq * yq) AS BIGINT) AS syy
         |  FROM p GROUP BY lag),
         |ac AS (
         |  SELECT lag,
         |    round((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |        * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
         |  FROM st),
         |r AS (
         |  SELECT max(CASE WHEN lag = 1 THEN acf END) AS r1,
         |    max(CASE WHEN lag = 2 THEN acf END) AS r2,
         |    max(CASE WHEN lag = 3 THEN acf END) AS r3
         |  FROM ac),
         |d2 AS (
         |  SELECT r1, r2, r3,
         |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
         |  FROM r),
         |d3 AS (
         |  SELECT r1, r2, r3, p2, r1 - p2 * r1 AS f21 FROM d2)
         |SELECT r1, r2, r3, round(r1, 6) AS pacf1, round(p2, 6) AS pacf2,
         |  round((r3 - f21 * r2 - p2 * r1)
         |    / (1.0 - f21 * r1 - p2 * r2), 6) AS pacf3
         |FROM d3""".stripMargin
    },

    "a55_sprt" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es,
         |    CASE WHEN event_type = '$KmEventType' THEN 1 ELSE 0 END AS x
         |  FROM events),
         |base AS (
         |  SELECT user_id, es, event_id,
         |    CAST(row_number() OVER win AS BIGINT) AS rn,
         |    CAST(sum(x) OVER win AS BIGINT) AS k
         |  FROM ev
         |  WINDOW win AS (PARTITION BY user_id ORDER BY es, event_id)),
         |llr AS (
         |  SELECT user_id, es, event_id, rn,
         |    k * $SprtL1e6 + (rn - k) * $SprtL0e6 AS llr_e6
         |  FROM base),
         |crossed AS (
         |  SELECT user_id, decision, n_at_decision, llr_e6 FROM (
         |    SELECT user_id,
         |      CASE WHEN llr_e6 >= $SprtAe6 THEN 'accept_h1'
         |        ELSE 'accept_h0' END AS decision,
         |      rn AS n_at_decision, llr_e6,
         |      row_number() OVER
         |        (PARTITION BY user_id ORDER BY es, event_id) AS pick
         |    FROM llr
         |    WHERE llr_e6 >= $SprtAe6 OR llr_e6 <= -$SprtAe6)
         |  WHERE pick = 1),
         |open AS (
         |  SELECT user_id, 'continue' AS decision,
         |    n_at_decision, llr_e6 FROM (
         |    SELECT l.user_id, rn AS n_at_decision, llr_e6,
         |      row_number() OVER (PARTITION BY l.user_id
         |        ORDER BY es DESC, event_id DESC) AS pick
         |    FROM llr l ANTI JOIN crossed c ON l.user_id = c.user_id)
         |  WHERE pick = 1)
         |SELECT user_id, decision, n_at_decision, llr_e6 FROM crossed
         |UNION ALL
         |SELECT user_id, decision, n_at_decision, llr_e6 FROM open
         |ORDER BY user_id""".stripMargin,

    "a54_gumbel_levels" ->
      s"""WITH ev AS (
         |  SELECT event_type, ${Det.epochSSql("ts")} // $GumbelBlockS
         |      AS wk,
         |    ${qMilli("value")} AS q
         |  FROM events),
         |blocks AS (
         |  SELECT event_type, wk, CAST(max(q) AS BIGINT) AS mx
         |  FROM ev GROUP BY event_type, wk),
         |ag AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(mx) AS BIGINT) AS sx,
         |    CAST(sum(mx * mx) AS BIGINT) AS ss
         |  FROM blocks GROUP BY event_type),
         |mm AS (
         |  SELECT event_type, nb,
         |    CAST(sx AS DOUBLE) / CAST(nb AS DOUBLE) AS m,
         |    sqrt((CAST(ss AS DOUBLE) - CAST(sx AS DOUBLE)
         |        * CAST(sx AS DOUBLE) / CAST(nb AS DOUBLE))
         |      / (CAST(nb AS DOUBLE) - 1.0)) * $GumbelC AS beta
         |  FROM ag WHERE nb >= 2),
         |g AS (
         |  SELECT event_type, nb, m, beta,
         |    m - $EulerGamma * beta AS mu
         |  FROM mm)
         |SELECT event_type, nb AS n_blocks,
         |  round(m / $MilliScale, 4) AS block_mean,
         |  round(mu / $MilliScale, 4) AS gumbel_loc,
         |  round(beta / $MilliScale, 4) AS gumbel_scale,
         |  round((mu + beta * $GumbelRlF) / $MilliScale, 4)
         |    AS rl$GumbelRlT
         |FROM g ORDER BY event_type""".stripMargin,

    "a53_kruskal_wallis" ->
      s"""WITH ev AS (
         |  SELECT event_type AS g, ${qMilli("value")} AS q FROM events),
         |cgv AS (
         |  SELECT q, g, CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY q, g),
         |vg AS (SELECT q, CAST(sum(c) AS BIGINT) AS cnt
         |       FROM cgv GROUP BY q),
         |rk AS (
         |  SELECT q, cnt,
         |    CAST(sum(cnt) OVER (ORDER BY q) AS BIGINT) AS cum
         |  FROM vg),
         |r2f AS (SELECT q, 2 * (cum - cnt) + cnt + 1 AS r2 FROM rk),
         |grp AS (
         |  SELECT g, CAST(sum(c * r2) AS BIGINT) AS r2sum,
         |    CAST(sum(c) AS BIGINT) AS nj
         |  FROM cgv JOIN r2f USING (q) GROUP BY g),
         |tr AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k,
         |    list_reduce(list_sort(list(
         |      (CAST(r2sum AS DOUBLE) / 2.0) * (CAST(r2sum AS DOUBLE)
         |        / 2.0) / CAST(nj AS DOUBLE))), (a, b) -> a + b) AS st
         |  FROM grp),
         |tt AS (
         |  SELECT CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
         |      AS DOUBLE) AS t3,
         |    CAST(sum(cnt) AS BIGINT) AS nn
         |  FROM vg),
         |hh AS (
         |  SELECT k, nn,
         |    12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
         |      * st - 3.0 * (CAST(nn AS DOUBLE) + 1.0) AS h0, t3
         |  FROM tr CROSS JOIN tt)
         |SELECT k, nn AS n, round(h0, 6) AS h,
         |  round(h0 / (1.0 - t3 / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
         |    * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))), 6)
         |    AS h_tie_corrected
         |FROM hh""".stripMargin,

    "a52_mann_kendall" ->
      s"""WITH ev0 AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es,
         |    ${qMilli("value")} AS q
         |  FROM events),
         |ev AS (
         |  SELECT user_id, event_id, es, q FROM (
         |    SELECT *, count(*) OVER (PARTITION BY user_id) AS bsz
         |    FROM ev0)
         |  WHERE bsz <= $TsPairCap),
         |ss AS (
         |  SELECT x.user_id,
         |    CAST(sum(CASE WHEN y.q > x.q THEN 1
         |      WHEN y.q < x.q THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM ev x JOIN ev y
         |    ON x.user_id = y.user_id AND x.es < y.es
         |  GROUP BY x.user_id),
         |nf AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
         |       FROM ev GROUP BY user_id),
         |tg AS (
         |  SELECT user_id,
         |    CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS t1,
         |    CAST(sum(c * (c - 1) * (c - 2)) AS BIGINT) AS t2,
         |    CAST(sum(c * (c - 1)) AS BIGINT) AS t3
         |  FROM (SELECT user_id, q, CAST(count(*) AS BIGINT) AS c
         |        FROM ev GROUP BY user_id, q)
         |  GROUP BY user_id),
         |ug AS (
         |  SELECT user_id,
         |    CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS u1,
         |    CAST(sum(c * (c - 1) * (c - 2)) AS BIGINT) AS u2,
         |    CAST(sum(c * (c - 1)) AS BIGINT) AS u3
         |  FROM (SELECT user_id, es, CAST(count(*) AS BIGINT) AS c
         |        FROM ev GROUP BY user_id, es)
         |  GROUP BY user_id),
         |v AS (
         |  SELECT nf.user_id, n, s_stat,
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
         |        * (2.0 * CAST(n AS DOUBLE) + 5.0)
         |      - CAST(t1 AS DOUBLE) - CAST(u1 AS DOUBLE)) / 18.0
         |    + CASE WHEN n > 2 THEN
         |        CAST(t2 AS DOUBLE) * CAST(u2 AS DOUBLE)
         |        / (9.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
         |           * (CAST(n AS DOUBLE) - 2.0))
         |      ELSE 0.0 END
         |    + CAST(t3 AS DOUBLE) * CAST(u3 AS DOUBLE)
         |      / (2.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
         |      AS v
         |  FROM nf JOIN ss USING (user_id)
         |    JOIN tg USING (user_id) JOIN ug USING (user_id))
         |SELECT user_id, n, s_stat,
         |  CASE WHEN s_stat > 0 THEN
         |      round((CAST(s_stat AS DOUBLE) - 1.0) / sqrt(v), 4)
         |    WHEN s_stat < 0 THEN
         |      round((CAST(s_stat AS DOUBLE) + 1.0) / sqrt(v), 4)
         |    ELSE 0.0 END AS z
         |FROM v ORDER BY user_id""".stripMargin,

    "a51_spearman" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es,
         |    ${qMilli("value")} AS q
         |  FROM events),
         |r AS (
         |  SELECT user_id,
         |    CAST(count(*) OVER wp AS BIGINT) AS n,
         |    CAST(rank() OVER (PARTITION BY user_id ORDER BY q)
         |      + count(*) OVER wp + 1
         |      - rank() OVER (PARTITION BY user_id ORDER BY q DESC)
         |      AS BIGINT) AS x,
         |    CAST(rank() OVER (PARTITION BY user_id ORDER BY es)
         |      + count(*) OVER wp + 1
         |      - rank() OVER (PARTITION BY user_id ORDER BY es DESC)
         |      AS BIGINT) AS y
         |  FROM ev
         |  WINDOW wp AS (PARTITION BY user_id)),
         |ag AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM r GROUP BY user_id),
         |v AS (
         |  SELECT user_id, n, sx, sy, sxy,
         |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
         |  FROM ag)
         |SELECT user_id, n,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (sqrt(vx) * sqrt(vy)), 6) AS rho
         |FROM v WHERE vx > 0.0 AND vy > 0.0
         |ORDER BY user_id""".stripMargin,

    "w32_theilsen" ->
      s"""WITH ev0 AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es,
         |    ${qMilli("value")} AS q
         |  FROM events),
         |ev AS (
         |  SELECT user_id, event_id, es, q FROM (
         |    SELECT *, count(*) OVER (PARTITION BY user_id) AS bsz
         |    FROM ev0)
         |  WHERE bsz <= $TsPairCap),
         |sl AS (
         |  SELECT x.user_id,
         |    CAST(y.q - x.q AS DOUBLE) / CAST(y.es - x.es AS DOUBLE)
         |      AS slope,
         |    x.es AS esi, x.event_id AS idi, y.event_id AS idj
         |  FROM ev x JOIN ev y
         |    ON x.user_id = y.user_id AND x.es < y.es),
         |r AS (
         |  SELECT user_id, slope,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY slope, esi, idi, idj) AS rn,
         |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS m
         |  FROM sl)
         |SELECT user_id, m AS n_pairs,
         |  round(slope * 86.4, 6) AS trend_per_day
         |FROM r WHERE rn = (m + 1) // 2
         |ORDER BY user_id""".stripMargin,

    "a46_seasonal_strength" ->
      s"""WITH ev AS (
         |  SELECT event_type,
         |    CAST((${Det.epochSSql("ts")} // 3600) % $SeasBuckets
         |      AS INTEGER) AS hh,
         |    ${qMilli("value")} AS q
         |  FROM events),
         |hm AS (
         |  SELECT event_type, hh, CAST(count(*) AS BIGINT) AS nh,
         |    CAST(sum(q) AS BIGINT) AS sh,
         |    CAST(sum(q * q) AS BIGINT) AS s2h
         |  FROM ev GROUP BY event_type, hh),
         |tm AS (
         |  SELECT event_type, hh, nh, sh, s2h,
         |    (CAST(nh AS DOUBLE) * CAST(s2h AS DOUBLE) -
         |      CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE)) /
         |      CAST(nh AS DOUBLE) AS term
         |  FROM hm),
         |pk AS (
         |  SELECT event_type, hh AS peak_hour FROM (
         |    SELECT event_type, hh, row_number() OVER
         |      (PARTITION BY event_type
         |       ORDER BY CAST(sh AS DOUBLE) / CAST(nh AS DOUBLE) DESC, hh)
         |      AS rk
         |    FROM tm)
         |  WHERE rk = 1),
         |ag AS (
         |  SELECT event_type, CAST(sum(nh) AS BIGINT) AS n,
         |    CAST(sum(sh) AS BIGINT) AS s,
         |    CAST(sum(s2h) AS BIGINT) AS s2,
         |    list_reduce(list_sort(list(term)), (a, b) -> a + b) AS ssw
         |  FROM tm GROUP BY event_type)
         |SELECT ag.event_type, ag.n,
         |  round(1.0 - ag.ssw /
         |    ((CAST(ag.n AS DOUBLE) * CAST(ag.s2 AS DOUBLE) -
         |      CAST(ag.s AS DOUBLE) * CAST(ag.s AS DOUBLE)) /
         |      CAST(ag.n AS DOUBLE)), 6) AS seasonal_strength,
         |  pk.peak_hour
         |FROM ag JOIN pk USING (event_type)
         |ORDER BY event_type""".stripMargin,

    "w31_ewma_chart" -> {
      val termsSql = ewmaW.zipWithIndex.map { case (wd, d) =>
        s"coalesce($wd * lag(CAST(vc AS DOUBLE), $d) OVER w, 0.0)"
      }.mkString(" + ")
      val caseSql = (0 until EwmaD - 1).map(k =>
        s"WHEN $k THEN ${ewmaTail(k)}").mkString(" ")
      s"""WITH ev AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es,
         |    ${qMilli("value")} AS vc
         |  FROM events),
         |st AS (
         |  SELECT user_id,
         |    CAST(sum(vc) AS BIGINT) AS sq,
         |    CAST(sum(vc * vc) AS BIGINT) AS sq2,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM ev GROUP BY user_id),
         |sm AS (
         |  SELECT user_id,
         |    CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         |    sqrt(CAST(sq2 AS DOUBLE) / CAST(n AS DOUBLE) -
         |      (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) *
         |      (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))) AS sig
         |  FROM st),
         |zz AS (
         |  SELECT user_id, es, vc,
         |    ($termsSql) AS zs,
         |    CAST(row_number() OVER w AS BIGINT) AS rn
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
         |zj AS (
         |  SELECT zz.user_id, zz.es, zz.vc,
         |    zz.zs + (CASE least(zz.rn - 1, ${EwmaD - 1}) $caseSql
         |      ELSE ${ewmaTail(EwmaD - 1)} END) * sm.mu AS z,
         |    sm.mu, sm.sig
         |  FROM zz JOIN sm USING (user_id))
         |SELECT user_id, es, vc,
         |  round(z, 4) AS ewma_milli,
         |  round((z - mu) / (sig * $ewmaCfac), 4) AS z_sigma
         |FROM zj
         |WHERE abs(z - mu) > $EwmaL * sig * $ewmaCfac
         |ORDER BY user_id, es""".stripMargin
    },

    "w28_cusum" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es,
         |    ${qMilli("value")} AS q
         |  FROM events),
         |st AS (
         |  SELECT user_id, CAST(sum(q) AS BIGINT) AS sq,
         |    CAST(count(*) AS BIGINT) AS n_events
         |  FROM ev GROUP BY user_id),
         |dev AS (
         |  SELECT ev.user_id, st.n_events, ev.es,
         |    abs(st.n_events * sum(ev.q) OVER
         |        (PARTITION BY ev.user_id ORDER BY ev.es, ev.event_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - (row_number() OVER
         |          (PARTITION BY ev.user_id ORDER BY ev.es, ev.event_id))
         |        * st.sq) AS dabs
         |  FROM ev JOIN st USING (user_id)),
         |m AS (
         |  SELECT user_id, n_events, dabs, es FROM (
         |    SELECT user_id, n_events, dabs, es, row_number() OVER
         |      (PARTITION BY user_id ORDER BY dabs DESC, es) AS rn
         |    FROM dev)
         |  WHERE rn = 1)
         |SELECT user_id, n_events,
         |  round(CAST(dabs AS DOUBLE) / (CAST(n_events AS DOUBLE) * 1000),
         |    6) AS score,
         |  es AS cp_es
         |FROM m ORDER BY score DESC, user_id LIMIT $CusumTopK""".stripMargin,

    "a39_welch_ttest" ->
      s"""WITH ev AS (
         |  SELECT event_type, ${qMilli("value")} AS q FROM events
         |  WHERE event_type IN ('$TtA', '$TtB')),
         |agg AS (
         |  SELECT
         |    CAST(sum(CASE WHEN event_type = '$TtA' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN event_type = '$TtA' THEN q ELSE 0 END)
         |      AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN event_type = '$TtA' THEN q * q ELSE 0 END)
         |      AS BIGINT) AS ss1,
         |    CAST(sum(CASE WHEN event_type = '$TtB' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN event_type = '$TtB' THEN q ELSE 0 END)
         |      AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN event_type = '$TtB' THEN q * q ELSE 0 END)
         |      AS BIGINT) AS ss2
         |  FROM ev),
         |w AS (
         |  SELECT n1, n2,
         |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         |    (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
         |      / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)
         |      / CAST(n1 AS DOUBLE) AS se1,
         |    (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
         |      / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)
         |      / CAST(n2 AS DOUBLE) AS se2
         |  FROM agg)
         |SELECT n1, n2,
         |  round((m1 - m2) / 1000, 6) AS mean_diff,
         |  round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
         |  round((se1 + se2) * (se1 + se2)
         |    / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)
         |      + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)), 6) AS df
         |FROM w""".stripMargin,

    "z4_asof_forward" ->
      s"""WITH c AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es
         |  FROM events WHERE event_type = 'click'),
         |p0 AS (
         |  SELECT user_id, ${Det.epochSSql("ts")} AS es,
         |    event_id AS p_id, CAST(round(value * 100) AS BIGINT) AS p_cents
         |  FROM events WHERE event_type = 'purchase'),
         |p AS (
         |  SELECT user_id, es, p_id, p_cents FROM (
         |    SELECT p0.*, row_number() OVER
         |      (PARTITION BY user_id, es ORDER BY p_id DESC) AS rn FROM p0)
         |  WHERE rn = 1),
         |j AS (
         |  SELECT c.event_id, c.user_id, c.es, p.p_id, p.p_cents,
         |    row_number() OVER
         |      (PARTITION BY c.event_id ORDER BY p.es, p.p_id) AS rn
         |  FROM c LEFT JOIN p
         |    ON p.user_id = c.user_id AND p.es >= c.es)
         |SELECT event_id, user_id, es, p_id AS asof_p_id,
         |  p_cents AS asof_p_cents
         |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "g6_supplier_jaccard" ->
      s"""WITH pr0 AS (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sk
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |pr AS (
         |  SELECT c, sk FROM (
         |    SELECT c, sk, count(*) OVER (PARTITION BY c) AS bsz FROM pr0)
         |  WHERE bsz <= $G6CustomerCap),
         |deg AS (SELECT sk, CAST(count(*) AS BIGINT) AS d
         |        FROM pr GROUP BY sk),
         |co AS (
         |  SELECT x.sk AS s1, y.sk AS s2, CAST(count(*) AS BIGINT) AS common
         |  FROM pr x JOIN pr y ON x.c = y.c AND x.sk < y.sk
         |  GROUP BY 1, 2)
         |SELECT co.s1, co.s2, co.common, d1.d AS d1, d2.d AS d2,
         |  round(CAST(co.common AS DOUBLE)
         |    / CAST(d1.d + d2.d - co.common AS DOUBLE), 6) AS jaccard
         |FROM co JOIN deg d1 ON co.s1 = d1.sk
         |  JOIN deg d2 ON co.s2 = d2.sk
         |ORDER BY co.common DESC, co.s1, co.s2
         |LIMIT $CusumTopK""".stripMargin,

    "g10_assortativity" ->
      s"""WITH pr0 AS (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sk
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |pr AS (
         |  SELECT c, sk FROM (
         |    SELECT c, sk, count(*) OVER (PARTITION BY c) AS bsz FROM pr0)
         |  WHERE bsz <= $G6CustomerCap),
         |cd AS (SELECT c, CAST(count(*) AS BIGINT) AS dc
         |       FROM pr GROUP BY c),
         |sd AS (SELECT sk, CAST(count(*) AS BIGINT) AS ds
         |       FROM pr GROUP BY sk),
         |st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(dc) AS BIGINT) AS sx, CAST(sum(ds) AS BIGINT) AS sy,
         |    CAST(sum(dc * ds) AS BIGINT) AS sxy,
         |    CAST(sum(dc * dc) AS BIGINT) AS sxx,
         |    CAST(sum(ds * ds) AS BIGINT) AS syy
         |  FROM pr JOIN cd USING (c) JOIN sd USING (sk))
         |SELECT n AS n_edges,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         |    AS assortativity
         |FROM st""".stripMargin,

    "g9_resource_alloc" ->
      s"""WITH pr0 AS (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sk
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |pr AS (
         |  SELECT c, sk FROM (
         |    SELECT c, sk, count(*) OVER (PARTITION BY c) AS bsz FROM pr0)
         |  WHERE bsz <= $G6CustomerCap),
         |cd AS (SELECT c, CAST(count(*) AS BIGINT) AS cd
         |       FROM pr GROUP BY c),
         |co AS (
         |  SELECT x.sk AS s1, y.sk AS s2,
         |    CAST(count(*) AS BIGINT) AS common,
         |    CAST(sum(1000000 // cd.cd) AS BIGINT) AS ra_ppm
         |  FROM pr x JOIN pr y ON x.c = y.c AND x.sk < y.sk
         |    JOIN cd ON cd.c = x.c
         |  GROUP BY 1, 2)
         |SELECT s1, s2, common, ra_ppm,
         |  round(CAST(ra_ppm AS DOUBLE) / 1000000.0, 6) AS ra
         |FROM co ORDER BY ra_ppm DESC, s1, s2
         |LIMIT $CusumTopK""".stripMargin,

    "t18_gopher_repetition" -> {
      val arms = RepNs.map { n =>
        s"""SELECT doc_id, $n AS n,
           |  CAST(sum(c) AS BIGINT) AS total_ngrams,
           |  CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
           |    AS dup,
           |  CAST(max(c) AS BIGINT) AS top
           |FROM (
           |  SELECT doc_id, g, count(*) AS c FROM (
           |    SELECT doc_id, unnest(list_transform(
           |      generate_series(1, len(tk) - $n + 1),
           |      i -> array_to_string(list_slice(tk, i, i + $n - 1), ' ')))
           |      AS g
           |    FROM toks WHERE len(tk) >= $n)
           |  GROUP BY doc_id, g)
           |GROUP BY doc_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents),
         |arms AS (
         |$arms)
         |SELECT doc_id, CAST(n AS INTEGER) AS n, total_ngrams,
         |  round(CAST(dup AS DOUBLE) / CAST(total_ngrams AS DOUBLE), 6)
         |    AS dup_frac,
         |  round(CAST(top AS DOUBLE) / CAST(total_ngrams AS DOUBLE), 6)
         |    AS top_frac
         |FROM arms ORDER BY doc_id, n""".stripMargin
    },

    "a40_mannwhitney" ->
      s"""WITH ev AS (
         |  SELECT CASE WHEN event_type = '$TtA' THEN 1 ELSE 0 END AS a,
         |    ${qMilli("value")} AS q
         |  FROM events WHERE event_type IN ('$TtA', '$TtB')),
         |byv AS (
         |  SELECT q, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(a) AS BIGINT) AS n1v
         |  FROM ev GROUP BY q),
         |cum AS (
         |  SELECT cnt, n1v, 2 * (sum(cnt) OVER (ORDER BY q
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
         |    + cnt + 1 AS r2
         |  FROM byv),
         |agg AS (
         |  SELECT CAST(sum(n1v * r2) AS BIGINT) AS r2sum1,
         |    CAST(sum(n1v) AS BIGINT) AS n1,
         |    CAST(sum(cnt - n1v) AS BIGINT) AS n2,
         |    sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie3
         |  FROM cum),
         |w AS (
         |  SELECT n1, n2, tie3,
         |    (CAST(r2sum1 AS DOUBLE) - CAST(n1 AS DOUBLE)
         |      * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0 AS u1,
         |    CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nn
         |  FROM agg)
         |SELECT n1, n2, round(u1, 2) AS u1,
         |  round((u1 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
         |    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
         |      * ((nn + 1.0) - CAST(tie3 AS DOUBLE) / (nn * (nn - 1.0)))),
         |    6) AS z_stat
         |FROM w""".stripMargin,

    "g7_weighted_seed_cost" -> {
      def relax(prev: String, out: String) =
        s"""$out AS (
           |  SELECT node, min(cost) AS cost FROM (
           |    SELECT node, cost FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, d.cost + e.w AS cost
           |    FROM edges e JOIN $prev d ON e.src = d.node)
           |  GROUP BY node)""".stripMargin
      s"""WITH ew AS (
         |  SELECT 'c' || o.o_custkey AS c, 's' || l.l_suppkey AS sk,
         |    min(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS w
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT c AS src, sk AS dst, w FROM ew
         |  UNION ALL SELECT sk AS src, c AS dst, w FROM ew),
         |d0 AS (
         |  SELECT DISTINCT 's' || s_suppkey AS node, CAST(0 AS BIGINT)
         |      AS cost
         |  FROM supplier WHERE s_suppkey % $G7SeedMod = 0),
         |${relax("d0", "d1")},
         |${relax("d1", "d2")},
         |${relax("d2", "d3")}
         |SELECT node, cost FROM d3 ORDER BY node""".stripMargin
    },

    "w29_sax" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, ${Det.epochSSql("ts")} AS es,
         |    ${qMilli("value")} AS q
         |  FROM events),
         |segs AS (
         |  SELECT user_id, (i - 1) // $SaxSegLen AS seg,
         |    CAST(sum(q) AS BIGINT) AS ssum,
         |    CAST(count(*) AS BIGINT) AS scnt
         |  FROM (SELECT user_id, q, row_number() OVER
         |          (PARTITION BY user_id ORDER BY es, event_id) AS i
         |        FROM ev)
         |  GROUP BY 1, 2),
         |st AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS ss
         |  FROM ev GROUP BY user_id HAVING count(*) >= 2),
         |z AS (
         |  SELECT segs.user_id, segs.seg, segs.scnt,
         |    (CAST(ssum AS DOUBLE) / CAST(scnt AS DOUBLE)
         |      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         |    / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
         |        * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         |      / (CAST(n AS DOUBLE) - 1.0)) AS zv,
         |    sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
         |        * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         |      / (CAST(n AS DOUBLE) - 1.0)) AS sd
         |  FROM segs JOIN st ON segs.user_id = st.user_id)
         |SELECT user_id, seg, scnt,
         |  CASE WHEN zv < -$SaxBp THEN 0 WHEN zv < 0.0 THEN 1
         |       WHEN zv < $SaxBp THEN 2 ELSE 3 END AS sym
         |FROM z WHERE sd > 0.0 ORDER BY user_id, seg""".stripMargin,

    "a41_rng_uniformity" -> {
      val m = graft.functions.Det.M
      s"""WITH r AS (
         |  SELECT event_id,
         |    CAST(${Det.fracSql("event_id", RngSeed)} * $m AS BIGINT) AS r2
         |  FROM events),
         |o AS (
         |  SELECT r2, row_number() OVER (ORDER BY r2, event_id) AS i,
         |    count(*) OVER () AS n
         |  FROM r)
         |SELECT CAST(n AS BIGINT) AS n,
         |  round(CAST(greatest(max(i * $m - n * r2),
         |      max(n * r2 - (i - 1) * $m)) AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * $m.0), 6) AS d_stat,
         |  round(CAST(greatest(max(i * $m - n * r2),
         |      max(n * r2 - (i - 1) * $m)) AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * $m.0) * sqrt(CAST(n AS DOUBLE)), 4)
         |    AS d_sqrt_n
         |FROM o GROUP BY n""".stripMargin
    },

    "e13_cluster_quality" -> {
      val fold = s"list_reduce(list_transform(generate_series(1, $KmDim), " +
        "i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])), (a, b) -> a + b)"
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS j, qv AS cv FROM q WHERE vec_id < $KmK),
         |${kmStep(1, "c0", "a1", "c1")},
         |${kmStep(2, "c1", "a2", "c2")},
         |dd AS (SELECT q.vec_id, c.j, $fold AS dist FROM q, c2 c),
         |asg AS (
         |  SELECT vec_id, j AS cluster, dist AS a FROM (
         |    SELECT vec_id, j, dist, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY dist, j) AS rn FROM dd)
         |  WHERE rn = 1),
         |o AS (
         |  SELECT dd.vec_id, min(dd.dist) AS b
         |  FROM dd JOIN asg ON dd.vec_id = asg.vec_id AND dd.j != asg.cluster
         |  GROUP BY dd.vec_id),
         |g AS (
         |  SELECT asg.cluster, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(asg.a) AS BIGINT) AS sa,
         |    CAST(sum(o.b) AS BIGINT) AS sb
         |  FROM asg JOIN o USING (vec_id) GROUP BY 1)
         |SELECT CAST(cluster AS INTEGER) AS cluster, n,
         |  round(CAST(sa AS DOUBLE) / CAST(n AS DOUBLE), 2) AS mean_own_d2,
         |  round(CAST(sb AS DOUBLE) / CAST(n AS DOUBLE), 2)
         |    AS mean_other_d2,
         |  round(CAST(sb AS DOUBLE) / CAST(sa AS DOUBLE), 6) AS separation
         |FROM g ORDER BY cluster""".stripMargin
    },

    "z5_embed_curate_e2e" -> {
      def fold(a: String, b: String) =
        s"list_reduce(list_transform(generate_series(1, $KmDim), " +
          s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), " +
          "(u, v) -> u + v)"
      val dot = fold("x.qv", "y.qv")
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS j, qv AS cv FROM q WHERE vec_id < $KmK),
         |${kmStep(1, "c0", "a1", "c1")},
         |${kmStep(2, "c1", "a2", "c2")},
         |m AS (
         |  SELECT q.vec_id, q.qv, a2.cluster,
         |    ${fold("q.qv", "q.qv")} AS qq
         |  FROM q JOIN a2 USING (vec_id)),
         |dr AS (
         |  SELECT DISTINCT y.vec_id
         |  FROM m x JOIN m y
         |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |  WHERE $dot > 0
         |    AND $dot * $dot >= CAST($Z5TauSq AS DOUBLE) * x.qq * y.qq),
         |s AS (
         |  SELECT m.cluster, m.vec_id, row_number() OVER
         |    (PARTITION BY m.cluster
         |     ORDER BY ${Det.fracSql("m.vec_id", Z5Seed)}, m.vec_id) AS rn
         |  FROM m WHERE NOT EXISTS
         |    (SELECT 1 FROM dr WHERE dr.vec_id = m.vec_id))
         |SELECT CAST(cluster AS INTEGER) AS cluster, CAST(rn AS INTEGER)
         |    AS rn, vec_id
         |FROM s WHERE rn <= $Z5SampleN ORDER BY cluster, rn""".stripMargin
    },

    "e11_kmeans" ->
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS j, qv AS cv FROM q WHERE vec_id < $KmK),
         |${kmStep(1, "c0", "a1", "c1")},
         |${kmStep(2, "c1", "a2", "c2")},
         |cnt AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n
         |        FROM a2 GROUP BY cluster)
         |SELECT CAST(c2.j AS INTEGER) AS cluster,
         |  coalesce(cnt.n, 0) AS n,
         |  CAST(list_reduce(c2.cv, (a, b) -> a + b) AS BIGINT)
         |    AS centroid_sum
         |FROM c2 LEFT JOIN cnt ON c2.j = cnt.cluster
         |ORDER BY cluster""".stripMargin,

    "e26_silhouette" ->
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS j, qv AS cv FROM q WHERE vec_id < $KmK),
         |${kmStep(1, "c0", "a1", "c1")},
         |${kmStep(2, "c1", "a2", "c2")},
         |m AS (
         |  SELECT q.vec_id, q.qv, a2.cluster,
         |    list_reduce(list_transform(generate_series(1, $KmDim),
         |      i -> q.qv[i] * q.qv[i]), (a, b) -> a + b) AS qq2
         |  FROM q JOIN a2 USING (vec_id)),
         |ssqn AS (
         |  SELECT cluster AS j, CAST(count(*) AS BIGINT) AS nj,
         |    CAST(sum(qq2) AS BIGINT) AS ssq
         |  FROM m GROUP BY 1),
         |qd AS (
         |  SELECT vec_id, cluster AS own, qq2,
         |    unnest(generate_series(1, $KmDim)) AS dim,
         |    unnest(qv) AS vl
         |  FROM m),
         |dims AS (
         |  SELECT own AS j, dim, CAST(sum(vl) AS BIGINT) AS sjd
         |  FROM qd GROUP BY 1, 2),
         |xs AS (
         |  SELECT qd.vec_id, qd.own, qd.qq2, dims.j,
         |    CAST(sum(CAST(qd.vl AS BIGINT) * dims.sjd) AS BIGINT) AS xs
         |  FROM qd JOIN dims USING (dim) GROUP BY 1, 2, 3, 4),
         |msd AS (
         |  SELECT xs.vec_id, xs.own, xs.j, ssqn.nj,
         |    nj * qq2 - 2 * xs + ssq AS num
         |  FROM xs JOIN ssqn USING (j)),
         |ab AS (
         |  SELECT vec_id, own,
         |    max(CASE WHEN j = own THEN num END) AS anum,
         |    max(CASE WHEN j = own THEN nj - 1 END) AS aden,
         |    min(CASE WHEN j <> own THEN CAST(num AS DOUBLE)
         |      / CAST(nj AS DOUBLE) END) AS b
         |  FROM msd GROUP BY 1, 2),
         |sil AS (
         |  SELECT own,
         |    CASE WHEN aden = 0 OR b IS NULL THEN 0
         |      WHEN greatest(CAST(anum AS DOUBLE) / CAST(aden AS DOUBLE),
         |        b) = 0.0 THEN 0
         |      ELSE CAST(round((b - CAST(anum AS DOUBLE)
         |        / CAST(aden AS DOUBLE))
         |        / greatest(CAST(anum AS DOUBLE) / CAST(aden AS DOUBLE),
         |          b) * 1e6) AS BIGINT) END AS s6
         |  FROM ab)
         |SELECT CAST(own AS INTEGER) AS cluster,
         |  CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(CAST(sum(s6) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / 1e6, 6) AS mean_silhouette
         |FROM sil GROUP BY 1 ORDER BY cluster""".stripMargin,

    "e21_ari_stability" ->
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS j, qv AS cv FROM q WHERE vec_id < $KmK),
         |${kmStep(1, "c0", "a1", "c1")},
         |${kmStep(2, "c1", "a2", "c2")},
         |b0 AS (SELECT vec_id - $KmK AS j, qv AS cv FROM q
         |       WHERE vec_id >= $KmK AND vec_id < ${2 * KmK}),
         |${kmStep(3, "b0", "a3", "b1")},
         |${kmStep(4, "b1", "a4", "b2")},
         |ct AS (
         |  SELECT a2.cluster AS la, a4.cluster AS lb,
         |    CAST(count(*) AS BIGINT) AS nij
         |  FROM a2 JOIN a4 USING (vec_id) GROUP BY 1, 2),
         |sij AS (SELECT CAST(sum(nij * (nij - 1)) AS BIGINT) AS sij2,
         |          CAST(sum(nij) AS BIGINT) AS nv FROM ct),
         |sa AS (SELECT CAST(sum(a * (a - 1)) AS BIGINT) AS sa2 FROM
         |  (SELECT CAST(sum(nij) AS BIGINT) AS a FROM ct GROUP BY la)),
         |sb AS (SELECT CAST(sum(b * (b - 1)) AS BIGINT) AS sb2 FROM
         |  (SELECT CAST(sum(nij) AS BIGINT) AS b FROM ct GROUP BY lb)),
         |f AS (
         |  SELECT nv, sij2, sa2, sb2,
         |    CAST(nv AS DOUBLE) * (CAST(nv AS DOUBLE) - 1.0) AS tot2
         |  FROM sij CROSS JOIN sa CROSS JOIN sb)
         |SELECT nv AS n_vecs,
         |  round((CAST(sij2 AS DOUBLE)
         |      - CAST(sa2 AS DOUBLE) * CAST(sb2 AS DOUBLE) / tot2)
         |    / ((CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE)) / 2.0
         |      - CAST(sa2 AS DOUBLE) * CAST(sb2 AS DOUBLE) / tot2), 6)
         |    AS ari
         |FROM f""".stripMargin,

    "e22_cluster_purity" ->
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS j, qv AS cv FROM q WHERE vec_id < $KmK),
         |${kmStep(1, "c0", "a1", "c1")},
         |${kmStep(2, "c1", "a2", "c2")},
         |ct AS (
         |  SELECT a2.cluster, e.label AS lb,
         |    CAST(count(*) AS BIGINT) AS nij
         |  FROM a2 JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ct),
         |pur AS (SELECT CAST(sum(mx) AS BIGINT) AS spur FROM
         |  (SELECT max(nij) AS mx FROM ct GROUP BY cluster)),
         |nc AS (SELECT cluster, CAST(sum(nij) AS BIGINT) AS nc
         |       FROM ct GROUP BY cluster),
         |nl AS (SELECT lb, CAST(sum(nij) AS BIGINT) AS nl
         |       FROM ct GROUP BY lb),
         |hc AS (
         |  SELECT -list_reduce(list_sort(list(
         |      CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)
         |        * ln(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)))),
         |    (a, x) -> a + x) AS hc
         |  FROM nc CROSS JOIN tot),
         |hl AS (
         |  SELECT -list_reduce(list_sort(list(
         |      CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)
         |        * ln(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)))),
         |    (a, x) -> a + x) AS hl
         |  FROM nl CROSS JOIN tot),
         |mi AS (
         |  SELECT n, list_reduce(list_sort(list(term)), (a, x) -> a + x)
         |      AS mi
         |  FROM (
         |    SELECT tot.n,
         |      CAST(ct.nij AS DOUBLE) / CAST(tot.n AS DOUBLE)
         |        * ln(CAST(ct.nij * tot.n AS DOUBLE)
         |          / CAST(nc.nc * nl.nl AS DOUBLE)) AS term
         |    FROM ct JOIN nc USING (cluster) JOIN nl USING (lb)
         |    CROSS JOIN tot)
         |  GROUP BY n)
         |SELECT n AS n_vecs,
         |  round(CAST(spur AS DOUBLE) / CAST(n AS DOUBLE), 6) AS purity,
         |  round(mi, 6) AS mi_nats,
         |  round(mi / sqrt(hc * hl), 6) AS nmi
         |FROM mi CROSS JOIN pur CROSS JOIN hc CROSS JOIN hl""".stripMargin,

    "a43_bootstrap_ci" -> {
      val wCase = BootCdfStr.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }
        .mkString("CASE ", " ", s" ELSE $BootCap END")
      s"""WITH ev AS (
         |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS vc
         |  FROM events),
         |d AS (
         |  SELECT event_id, vc, b,
         |    ${Det.fracSql(s"(event_id * $BootB + b)", BootSeed)} AS u
         |  FROM ev CROSS JOIN
         |    (SELECT unnest(generate_series(0, ${BootB - 1})) AS b)),
         |wgt AS (SELECT b, vc, CAST($wCase AS BIGINT) AS w FROM d),
         |rep AS (
         |  SELECT b, CAST(sum(w * vc) AS BIGINT) AS sw,
         |    CAST(sum(w) AS BIGINT) AS nw
         |  FROM wgt GROUP BY b),
         |mm AS (
         |  SELECT b, CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) / 100.0 AS m
         |  FROM rep WHERE nw > 0),
         |r AS (SELECT b, m, row_number() OVER (ORDER BY m, b) AS r,
         |        count(*) OVER () AS nr FROM mm),
         |ci AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_reps,
         |    max(CASE WHEN r = $BootLoRank THEN m END) AS ci_lo,
         |    max(CASE WHEN r = nr - 1 THEN m END) AS ci_hi
         |  FROM r),
         |base AS (
         |  SELECT CAST(sum(vc) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
         |    AS mean_value
         |  FROM ev)
         |SELECT n_reps, mean_value, ci_lo, ci_hi
         |FROM base CROSS JOIN ci""".stripMargin
    })
}
