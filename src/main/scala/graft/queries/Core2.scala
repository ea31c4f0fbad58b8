package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.functions.Det
import graft.inject.{AnomalySetting, Injector}
import graft.text.TextOps
import graft.window.Sequencer

/** Second coverage pack: A2 imputation, A10 explode-aggregation, W1 true
  * sequence generation, I6 multi-column injection (per-column independent
  * seeded selection on a composite-key table), P8 anomaly-first selection. */
object Core2 {

  private val es = Det.epochSSql("ts")

  // 1996 calendar year inside lineitem's shipdate range
  private val liSpan = (820454400L, 836179200L)
  private val liSetting = AnomalySetting("custom", liSpan._1,
    liSpan._2 - liSpan._1, magnitude = 3.0, percentage = 30.0,
    columns = Seq("l_quantity", "l_extendedprice"), seed = 42L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A2: mean imputation (Imputer semantics, expression form) --------
    "a2_mean_impute" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .withColumn("v_holey",
          when($"event_type" === "view", lit(null)).otherwise($"value"))
      // global mean of the non-null values, exact via integer cents
      val mean = sum(round($"v_holey" * 100).cast("long")).cast("double") /
        lit(100.0) / count($"v_holey")
      val withMean = ev.crossJoin(broadcast(ev.agg(round(mean, 4).as("__m"))))
      withMean.select($"event_id",
          coalesce($"v_holey", $"__m").as("v_imputed"))
        .orderBy($"event_id")
    }),

    // ---- A2 (mode strategy): most-frequent-value imputation --------------
    "a2b_mode_impute" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .withColumn("t_holey",
          when($"value" > 190.0, lit(null)).otherwise($"event_type"))
      // deterministic mode: max count, ties broken by smallest value
      val modeDf = ev.filter($"t_holey".isNotNull)
        .groupBy($"t_holey").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"t_holey".asc).limit(1)
        .select($"t_holey".as("__mode"))
      ev.crossJoin(broadcast(modeDf))
        .select($"event_id", coalesce($"t_holey", $"__mode").as("t_imputed"))
        .orderBy($"event_id")
    }),

    // ---- P8: last_n_anomalies (most recent n of the anomaly class) -------
    "p10_last_n_anomalies" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .filter($"event_type" === "error")
        .orderBy($"ts".desc, $"event_id".desc)
        .limit(20)
        .select($"event_id")
        .orderBy($"event_id")
    }),

    // ---- P8: half_n_half (n/2 anomalies ∪ n/2 normals, seeded random) ----
    "p11_half_n_half" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val anoms = ev.filter($"event_type" === "error")
        .orderBy(Det.frac($"event_id", 11L), $"event_id").limit(25)
        .select($"event_id", lit("anom").as("half"))
      val norms = ev.filter($"event_type" =!= "error")
        .orderBy(Det.frac($"event_id", 12L), $"event_id").limit(25)
        .select($"event_id", lit("norm").as("half"))
      anoms.unionByName(norms).orderBy($"event_id")
    }),

    // ---- A10: explode → aggregate (importance-style token frequency) -----
    "a10_token_freq" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(explode(TextOps.tokens($"text")).as("token"))
        .groupBy($"token")
        .agg(count(lit(1)).as("freq"))
        .orderBy($"freq".desc, $"token")
        .limit(50)
    }),

    // ---- W1: true stride-1 sequence generation (flattened for compare) ---
    "w2_sequences" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          $"l_shipdate", $"l_quantity")
      // l_quantity tiebreak + seq in the output order: (orderkey,
      // linenumber) pairs repeat, so without them neither the window order
      // nor the output order is total and both engines flap run-to-run
      Sequencer.sequences(li, Some("l_suppkey"),
          "l_shipdate", Seq("l_quantity"), L = 3,
          orderTiebreak = Seq(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity")))
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          array_join(transform($"sequence",
            a => element_at(a, 1).cast("int").cast("string")), ",").as("seq"))
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber", $"seq")
    }),

    // ---- W1-flat: lag-flattened windows (per-timestep XAI substrate) -----
    "w12_flatten_windows" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          $"l_shipdate", $"l_quantity")
      Sequencer.flattenWindows(li, Some("l_suppkey"), "l_shipdate",
          Seq("l_quantity"), L = 3,
          orderTiebreak = Seq(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity")))
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          $"l_quantity_tm0".cast("int").as("q0"),
          $"l_quantity_tm1".cast("int").as("q1"),
          $"l_quantity_tm2".cast("int").as("q2"))
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber",
          $"q0", $"q1", $"q2")
    }),

    // ---- W4: calibration-tail selection (most-recent fraction per key) ---
    // The windowed detectors' threshold calibration (WindowDetector.scala:
    // percent_rank ≥ 1 − calibrationFraction) as a standalone oracle row.
    "w13_calibration_tail" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("__pr", percent_rank().over(
          Window.partitionBy($"event_type")
            .orderBy(Det.epochS($"ts"), $"event_id")))
        .filter($"__pr" >= 0.8)
        .select($"event_id", $"event_type")
        .orderBy($"event_id", $"event_type")
    }),

    // ---- A11: cross-method importance averaging --------------------------
    // Two importance tables over the same keys (value-based and
    // frequency-based), averaged — pure double arithmetic in identical
    // order on both engines, so no rounding tolerance is needed.
    "a11_method_average" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val m1 = ev.groupBy($"event_type").agg(
        (sum(round($"value" * 100).cast("long")).cast("double") /
          (count(lit(1)) * lit(100.0))).as("imp1"))
      val totals = ev.agg(count(lit(1)).as("__tot"))
      val m2 = ev.groupBy($"event_type").agg(count(lit(1)).as("__n"))
        .crossJoin(broadcast(totals))
        .select($"event_type",
          ($"__n".cast("double") / $"__tot".cast("double")).as("imp2"))
      m1.join(m2, "event_type")
        .select($"event_type", (($"imp1" + $"imp2") / 2.0).as("importance"))
        .orderBy($"importance".desc, $"event_type")
    }),

    // ---- P6+F8: invalid-row filter via tolerant float coercion -----------
    // (Ingest.scala: unparseable values null out under try_cast, rows that
    // fail coercion are dropped). Raw strings are built from integer cents
    // so both engines format identically; 'error' rows get corrupted and
    // must vanish.
    "f10_coercion_filter" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select($"event_id",
          concat(when($"event_type" === "error", "x").otherwise(""),
            round($"value" * 100).cast("long").cast("string")).as("raw"))
        .withColumn("v", expr("try_cast(raw AS double)") / 100.0)
        .filter($"v".isNotNull)
        .select($"event_id", $"v")
        .orderBy($"event_id")
    }),

    // ---- I6: multi-column injection, composite stable id -----------------
    "i7_inject_multicol" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          Det.lineitemId($"l_orderkey", $"l_linenumber").as("li_id"),
          // parquet NTZ → session-UTC timestamp so epoch-seconds cast works
          $"l_shipdate".cast("timestamp").as("ts"),
          $"l_quantity", $"l_extendedprice")
      Injector.inject(li, "li_id", "ts", liSetting)
        .select($"l_orderkey", $"l_linenumber",
          round($"l_quantity", 4).as("qty_inj"),
          round($"l_extendedprice", 4).as("price_inj"),
          $"injected_anomaly", $"label")
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // ---- q6: selective filter + aggregate (pushdown showcase) ------------
    "q6_revenue_forecast" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
          $"l_quantity" < 24.0)
        .agg((sum(round($"l_extendedprice" * $"l_discount" * 100).cast("long"))
          / 100.0).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // ---- left-semi join (U2 family: native Spark capability) -------------
    "j4_semi_join" -> ((s, dir) => {
      import s.implicits._
      val bigOrders = t(s, dir, "lineitem")
        .groupBy($"l_orderkey").agg(sum($"l_quantity").as("q"))
        .filter($"q" > 150.0).select($"l_orderkey")
      t(s, dir, "orders")
        .join(bigOrders, $"o_orderkey" === $"l_orderkey", "left_semi")
        .select($"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // ---- left-anti join (customers with no 1995 orders) ------------------
    "j5_anti_join" -> ((s, dir) => {
      import s.implicits._
      val early = t(s, dir, "orders")
        .filter($"o_orderdate" < "1996-01-01")
        .select($"o_custkey").distinct()
      t(s, dir, "customer")
        .join(early, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // ---- skew-salted join: result identical to the plain join ------------
    "q7_salted_join" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
      graft.ops.Skew.saltedJoin(li, sup, $"l_suppkey", $"s_suppkey", salts = 8)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("cnt"), sum($"l_quantity").as("sum_qty"))
        .orderBy($"s_nationkey")
    }),

    // ---- T5: event-time tumbling window aggregation ----------------------
    // (the batch expression of the streaming windowed agg; same plan shape
    // under readStream + withWatermark)
    "w10_tumbling_window" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(window($"ts", "1 day").as("w"), $"event_type")
        .agg(count(lit(1)).as("cnt"),
          (sum(round($"value" * 100).cast("long")) / 100.0).as("sum_value"))
        .select($"w.start".cast("long").as("w_start"), $"event_type",
          $"cnt", $"sum_value")
        .orderBy($"w_start", $"event_type")
    }),

    // ---- T5: session windows (30-min inactivity gap per user) ------------
    "w11_sessionize" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("es", Det.epochS($"ts"))
        .withColumn("gap", $"es" - lag($"es", 1).over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id")))
        .withColumn("new_sess",
          when($"gap".isNull || $"gap" > 1800, 1).otherwise(0))
        .withColumn("sess_id", sum($"new_sess").over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sess_id")
        .agg(count(lit(1)).as("n_events"),
          min($"es").as("sess_start"), max($"es").as("sess_end"))
        .orderBy($"user_id", $"sess_id")
    }),

    // ---- F6+I6 + native kernels via the SQL surface: registered graft
    // functions — a SQL-only user reaches the LCG, duration DSL, dot
    // kernel, 64-bit simhash and Morton interleave without the Column API
    "f8_sql_surface" -> ((s, dir) => {
      graft.expressions.GraftFunctions.register(s)
      t(s, dir, "events").createOrReplaceTempView("__events_sql")
      // NO sort anywhere: the gate compares row-order-insensitively
      // (both the driver and tools/oracle_check.py sort rows before
      // hashing), an outer ORDER BY would put the nine kernels under the
      // range sampler's child re-execution (PLANS.md round-5 rule, d12
      // precedent), and a subquery ORDER BY carries no SQL ordering
      // guarantee — EliminateSorts may drop it (r8 ADVICE). Every output
      // column is a pure per-row function, so order is immaterial.
      s.sql(
        """SELECT event_id,
          |  round(graft_frac(event_id, 42), 8) AS frac,
          |  coalesce(graft_duration_seconds('1h30m'), 0) AS dur_s,
          |  round(graft_dot(array(value, 1.0d), array(2.0d, 3.0d)), 6) AS dot,
          |  graft_simhash64(array(event_type)) AS sh64,
          |  graft_zorder(8, event_id % 256, user_id % 256) AS zv,
          |  array_join(graft_word_ngrams(array(event_type, 'k'), 1), '|') AS ng,
          |  graft_url_canon('HTTP://WWW.Example.COM/item/' ||
          |    CAST(event_id % 7 AS STRING) || '/?utm_source=x&id=' ||
          |    CAST(event_id % 5 AS STRING)) AS urlc,
          |  graft_url_host('https://Sub.EXAMPLE.com/x') AS urlh
          |FROM __events_sql""".stripMargin)
    }),

    // ---- A9: NDCG averaging across groups and k values -------------------
    "a9_ndcg_mean" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val perK = Seq(3, 5, 10).map { k =>
        graft.eval.Metrics.ndcgAtK(ev, Seq("event_type"), $"value",
            ($"event_id" % 3 === 0).cast("double"), $"event_id", k)
          .select(lit(k).as("k"), col(s"ndcg_$k").as("ndcg"))
      }.reduce(_ unionByName _)
      perK.groupBy($"k")
        .agg(round(avg($"ndcg"), 4).as("mean_ndcg"))
        .orderBy($"k")
    }),

    // ---- P8: first_n_anomalies selection strategy ------------------------
    "p9_first_n_anomalies" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .filter($"event_type" === "error")
        .orderBy($"ts", $"event_id")
        .limit(20)
        .select($"event_id")
        .orderBy($"event_id")
    }))

  def oracles: Map[String, String] = {
    val liEs = "CAST(floor(epoch(l_shipdate)) AS BIGINT)"
    val id = Det.lineitemIdSql
    def sel(colIdx: Int) =
      s"($liEs >= ${liSpan._1} AND $liEs < ${liSpan._2} AND " +
        s"${Det.fracSql(id, 42L + colIdx * 1000L)} < 0.3)"

    Map(
      "a2_mean_impute" ->
        """WITH h AS (
          |  SELECT event_id,
          |    CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v_holey
          |  FROM events),
          |m AS (
          |  SELECT round(CAST(sum(CAST(round(v_holey * 100) AS BIGINT))
          |    AS DOUBLE) / 100.0 / count(v_holey), 4) AS mv
          |  FROM h)
          |SELECT event_id, coalesce(v_holey, mv) AS v_imputed
          |FROM h, m ORDER BY event_id""".stripMargin,

      "a2b_mode_impute" ->
        """WITH h AS (
          |  SELECT event_id,
          |    CASE WHEN value > 190.0 THEN NULL ELSE event_type END AS t_holey
          |  FROM events),
          |m AS (
          |  SELECT t_holey AS mv FROM h WHERE t_holey IS NOT NULL
          |  GROUP BY t_holey ORDER BY count(*) DESC, t_holey ASC LIMIT 1)
          |SELECT event_id, coalesce(t_holey, mv) AS t_imputed
          |FROM h, m ORDER BY event_id""".stripMargin,

      "p10_last_n_anomalies" ->
        """SELECT event_id FROM (
          |  SELECT event_id FROM events WHERE event_type = 'error'
          |  ORDER BY epoch_us(ts) DESC, event_id DESC LIMIT 20)
          |ORDER BY event_id""".stripMargin,

      "p11_half_n_half" ->
        s"""SELECT * FROM (
           |  SELECT event_id, 'anom' AS half FROM (
           |    SELECT event_id FROM events WHERE event_type = 'error'
           |    ORDER BY ${Det.fracSql("event_id", 11L)}, event_id LIMIT 25)
           |  UNION ALL
           |  SELECT event_id, 'norm' AS half FROM (
           |    SELECT event_id FROM events WHERE event_type != 'error'
           |    ORDER BY ${Det.fracSql("event_id", 12L)}, event_id LIMIT 25))
           |ORDER BY event_id""".stripMargin,

      "a10_token_freq" ->
        """SELECT token, count(*) AS freq
          |FROM (SELECT unnest(list_filter(string_split(text, ' '),
          |        x -> len(x) > 0)) AS token FROM documents)
          |GROUP BY token ORDER BY freq DESC, token LIMIT 50""".stripMargin,

      "w2_sequences" ->
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          |  array_to_string(list_transform(seq,
          |    x -> CAST(CAST(x AS INT) AS VARCHAR)), ',') AS seq
          |FROM (
          |  SELECT l_suppkey, l_orderkey, l_linenumber,
          |    list(l_quantity) OVER (PARTITION BY l_suppkey
          |      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
          |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS seq
          |  FROM lineitem)
          |WHERE len(seq) = 3
          |ORDER BY l_suppkey, l_orderkey, l_linenumber, seq""".stripMargin,

      "w12_flatten_windows" ->
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          |  CAST(l_quantity AS INT) AS q0,
          |  CAST(lag(l_quantity, 1) OVER w AS INT) AS q1,
          |  CAST(lag(l_quantity, 2) OVER w AS INT) AS q2
          |FROM lineitem
          |WINDOW w AS (PARTITION BY l_suppkey
          |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)
          |QUALIFY row_number() OVER w >= 3
          |ORDER BY l_suppkey, l_orderkey, l_linenumber, q0, q1, q2""".stripMargin,

      "w13_calibration_tail" ->
        s"""SELECT event_id, event_type FROM (
           |  SELECT event_id, event_type,
           |    percent_rank() OVER (PARTITION BY event_type
           |      ORDER BY ${Det.epochSSql("ts")}, event_id) AS pr
           |  FROM events)
           |WHERE pr >= 0.8
           |ORDER BY event_id, event_type""".stripMargin,

      "a11_method_average" ->
        """WITH m1 AS (
          |  SELECT event_type,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) /
          |      (count(*) * 100.0) AS imp1
          |  FROM events GROUP BY event_type),
          |m2 AS (
          |  SELECT event_type,
          |    CAST(count(*) AS DOUBLE) /
          |      CAST((SELECT count(*) FROM events) AS DOUBLE) AS imp2
          |  FROM events GROUP BY event_type)
          |SELECT m1.event_type, (imp1 + imp2) / 2.0 AS importance
          |FROM m1 JOIN m2 ON m1.event_type = m2.event_type
          |ORDER BY importance DESC, m1.event_type""".stripMargin,

      "f10_coercion_filter" ->
        """SELECT event_id, TRY_CAST(raw AS DOUBLE) / 100.0 AS v
          |FROM (
          |  SELECT event_id,
          |    (CASE WHEN event_type = 'error' THEN 'x' ELSE '' END ||
          |     CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)) AS raw
          |  FROM events)
          |WHERE TRY_CAST(raw AS DOUBLE) IS NOT NULL
          |ORDER BY event_id""".stripMargin,

      "i7_inject_multicol" -> {
        val u0 = Det.fracSql(id, 42L + 7919L)
        val u1 = Det.fracSql(id, 42L + 7919L + 1000L)
        s"""SELECT l_orderkey, l_linenumber,
           |  round(CASE WHEN ${sel(0)} THEN l_quantity * 3.0
           |        ELSE l_quantity END, 4) AS qty_inj,
           |  round(CASE WHEN ${sel(1)} THEN l_extendedprice * 3.0
           |        ELSE l_extendedprice END, 4) AS price_inj,
           |  (${sel(0)} OR ${sel(1)}) AS injected_anomaly,
           |  CASE WHEN ${sel(0)} OR ${sel(1)} THEN 1 ELSE 0 END AS label
           |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
      },

      "q6_revenue_forecast" ->
        """SELECT
          |  sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
          |    / 100.0 AS revenue,
          |  count(*) AS n_rows
          |FROM lineitem
          |WHERE l_discount >= 0.05 AND l_discount <= 0.07
          |  AND l_quantity < 24.0""".stripMargin,

      "j4_semi_join" ->
        """SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_orderkey IN (
          |  SELECT l_orderkey FROM lineitem
          |  GROUP BY l_orderkey HAVING sum(l_quantity) > 150.0)
          |ORDER BY o_orderkey""".stripMargin,

      "j5_anti_join" ->
        """SELECT c_custkey, c_name FROM customer
          |WHERE c_custkey NOT IN (
          |  SELECT o_custkey FROM orders
          |  WHERE o_orderdate < TIMESTAMP '1996-01-01')
          |ORDER BY c_custkey""".stripMargin,

      "q7_salted_join" ->
        """SELECT s_nationkey, count(*) AS cnt, sum(l_quantity) AS sum_qty
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

      "w10_tumbling_window" ->
        s"""SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
           |    AS w_start,
           |  event_type, count(*) AS cnt,
           |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
           |FROM events
           |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

      "w11_sessionize" ->
        s"""WITH g AS (
           |  SELECT user_id, ts, event_id, $es AS e,
           |    $es - lag($es) OVER
           |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
           |  FROM events),
           |n AS (
           |  SELECT user_id, ts, event_id, e,
           |    CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS ns
           |  FROM g),
           |sess AS (
           |  SELECT user_id, e,
           |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY epoch_us(ts),
           |      event_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
           |  FROM n)
           |SELECT user_id, sess_id, count(*) AS n_events,
           |  min(e) AS sess_start, max(e) AS sess_end
           |FROM sess GROUP BY user_id, sess_id
           |ORDER BY user_id, sess_id""".stripMargin,

      "f8_sql_surface" -> {
        // Morton-interleave twin: same 16 shift/mask terms as
        // ZOrder.interleaveHost (k=2, bits=8; column 0 = MSB lane)
        val zTerms = (for { c <- 0 until 2; i <- 0 until 8 }
          yield s"(((r$c >> $i) & 1) << ${i * 2 + (1 - c)})").mkString(" + ")
        s"""WITH b AS (
           |  SELECT event_id, value, event_type,
           |    event_id % 256 AS r0, user_id % 256 AS r1
           |  FROM events)
           |SELECT event_id,
           |  round(${Det.fracSql("event_id", 42L)}, 8) AS frac,
           |  CAST(5400 AS BIGINT) AS dur_s,
           |  round(value * 2.0 + 3.0, 6) AS dot,
           |  CAST(${graft.expressions.Simhash64Expr.simhash64Sql("[md5(event_type)]")}
           |    AS BIGINT) AS sh64,
           |  CAST($zTerms AS BIGINT) AS zv,
           |  event_type || '|k' AS ng,
           |  ${graft.text.UrlOps.canonicalizeSql(
                "('HTTP://WWW.Example.COM/item/' || " +
                "CAST(event_id % 7 AS VARCHAR) || '/?utm_source=x&id=' || " +
                "CAST(event_id % 5 AS VARCHAR))")} AS urlc,
           |  ${graft.text.UrlOps.canonicalHostSql(
                "'https://Sub.EXAMPLE.com/x'")} AS urlh
           |FROM b ORDER BY event_id""".stripMargin
      },

      "a9_ndcg_mean" -> {
        def ndcgSql(k: Int) =
          s"""SELECT $k AS k, CASE WHEN idcg = 0.0 THEN 0.0
             |    ELSE dcg / idcg END AS ndcg
             |FROM (
             |  SELECT event_type,
             |    sum(CASE WHEN rn <= $k THEN rel / log2(rn + 1) ELSE 0.0 END) AS dcg,
             |    sum(CASE WHEN irn <= $k THEN rel / log2(irn + 1) ELSE 0.0 END) AS idcg
             |  FROM (
             |    SELECT event_type, CAST(event_id % 3 = 0 AS DOUBLE) AS rel,
             |      row_number() OVER (PARTITION BY event_type
             |        ORDER BY value DESC, event_id) AS rn,
             |      row_number() OVER (PARTITION BY event_type
             |        ORDER BY CAST(event_id % 3 = 0 AS DOUBLE) DESC, event_id) AS irn
             |    FROM events)
             |  GROUP BY event_type)""".stripMargin
        s"""SELECT k, round(avg(ndcg), 4) AS mean_ndcg FROM (
           |${ndcgSql(3)} UNION ALL ${ndcgSql(5)} UNION ALL ${ndcgSql(10)})
           |GROUP BY k ORDER BY k""".stripMargin
      },

      "p9_first_n_anomalies" ->
        s"""SELECT event_id FROM (
           |  SELECT event_id FROM events WHERE event_type = 'error'
           |  ORDER BY epoch_us(ts), event_id LIMIT 20)
           |ORDER BY event_id""".stripMargin)
  }
}
