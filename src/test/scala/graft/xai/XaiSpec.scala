package graft.xai

import graft.SparkSpec
import graft.ml.{FittedWindowZScore, SupervisedDetector, WindowZScoreDetector}
import graft.window.Sequencer
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import java.sql.Timestamp

class XaiSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) =
    new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + i * 1000L)

  /** v1 drives the label entirely; v2 is noise. Ground truth: v1 matters. */
  private lazy val data = {
    val rng = new scala.util.Random(5)
    (0 until 1500).map { i =>
      val anom = i % 21 == 3
      val v1 = if (anom) 300.0 + rng.nextGaussian() else 50.0 + rng.nextGaussian()
      (i.toLong, ts(i), v1, rng.nextGaussian() * 10, if (anom) 1 else 0)
    }.toDF("id", "timestamp", "v1", "v2", "label")
  }

  test("permuteColumn is a value-preserving reshuffle") {
    val out = Xai.permuteColumn(data, "id", "v1", 7L)
    assert(out.count() == 1500)
    val a = data.select(sum($"v1"), countDistinct($"v1")).head
    val b = out.select(sum($"v1"), countDistinct($"v1")).head
    assert(math.abs(a.getDouble(0) - b.getDouble(0)) < 1e-6)
    assert(a.getLong(1) == b.getLong(1))
    // but the assignment moved for most rows
    val moved = out.as("o").join(data.as("d"), col("o.id") === col("d.id"))
      .filter(col("o.v1") =!= col("d.v1")).count()
    assert(moved > 1000, s"moved $moved")
  }

  test("X2: permutation importance ranks the causal feature first") {
    val fitted = SupervisedDetector(Seq("v1", "v2"), "decision_tree").fit(data)
    val imp = Xai.permutationImportance(data, fitted, Seq("v1", "v2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(imp.head._1 == "v1", imp.mkString(", "))
    assert(imp.head._2 > 0.02) // scrambling v1 hurts accuracy
    assert(math.abs(imp.last._2) < 0.01) // scrambling noise does nothing
  }

  /** Windowed fixture: smooth v1 with planted spikes (label=1), v2 noise.
    * The anomaly signal lives entirely in v1 at the window's newest cell. */
  private lazy val seriesData = {
    val rng = new scala.util.Random(11)
    (0 until 1200).map { i =>
      val anom = i > 60 && i % 97 == 3
      val v1 = 50.0 + 2.0 * math.sin(i / 10.0) + rng.nextGaussian() * 0.5 +
        (if (anom) 30.0 else 0.0)
      (i.toLong, ts(i), v1, rng.nextGaussian() * 10, if (anom) 1 else 0)
    }.toDF("id", "timestamp", "v1", "v2", "label")
  }

  test("flattenWindows + transformFlat reproduce the windowed score") {
    val det = WindowZScoreDetector(Seq("v1", "v2"), L = 6)
    val fitted = det.fit(seriesData).asInstanceOf[FittedWindowZScore]
    val win = fitted.transform(seriesData)
      .filter($"anomaly_score".isNotNull)
      .select($"id", $"anomaly_score".as("ws"))
    val flat = Sequencer.flattenWindows(seriesData, None, "timestamp",
      Seq("v1", "v2"), 6, Seq($"id"))
    assert(flat.count() == 1200 - 5) // W6 warm-up emits nothing
    val fs = fitted.transformFlat(flat).select($"id", $"anomaly_score".as("fs"))
    val maxDiff = win.join(fs, "id").agg(max(abs($"ws" - $"fs"))).head.getDouble(0)
    assert(maxDiff < 1e-8, s"maxDiff $maxDiff")
  }

  test("per-timestep attribution pins the injected cell (v1, lag 0); NDCG = 1") {
    val det = WindowZScoreDetector(Seq("v1", "v2"), L = 6)
    val fitted = det.fit(seriesData).asInstanceOf[FittedWindowZScore]
    val flat = Sequencer.flattenWindows(seriesData, None, "timestamp",
      Seq("v1", "v2"), 6, Seq($"id")).cache()
    val perTs = Xai.perTimestepAttribution(flat.filter($"label" === 1),
      fitted.transformFlat, Seq("v1", "v2"), 6).cache()
    val rows = perTs.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getDouble(2)))
    // the causal cell ranks first; no noise (v2) cell outranks it
    assert(rows.head._1 == "v1" && rows.head._2 == 0,
      rows.take(5).mkString("; "))
    val v1lag0 = rows.find(r => r._1 == "v1" && r._2 == 0).get._3
    val v2max = rows.filter(_._1 == "v2").map(_._3).max
    assert(v1lag0 > v2max, s"v1@0 $v1lag0 vs v2 max $v2max")
    // base-feature reduction (A10) + NDCG vs ground truth
    val agg = Xai.aggregateTimesteps(perTs)
    assert(agg.head().getString(0) == "v1")
    assert(Xai.ndcgVsInjected(agg, Set("v1"), 1) == 1.0)
    // per-INSTANCE matrices: every explained instance individually pins
    // its own top cell at (v1, 0) — the reference's per-instance SHAP shape
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"instance_id").orderBy($"attribution".desc)
    val tops = Xai.perInstanceAttribution(flat.filter($"label" === 1),
        fitted.transformFlat, Seq("v1", "v2"), 6)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select("feature", "lag").distinct().collect()
    assert(tops.length == 1 && tops.head.getString(0) == "v1" &&
      tops.head.getInt(1) == 0, tops.mkString("; "))
    perTs.unpersist(); flat.unpersist()
  }

  test("perInstanceAttribution chunks large F·L cell sets: bounded plans, " +
      "identical values") {
    // F=9, L=8 → 72 cells; forcing cellsPerPass=32 yields 3 chunked
    // passes, compared against the default single-pass form
    val feats = (1 to 9).map(i => s"w$i")
    val L = 8
    val rng = new scala.util.Random(31)
    val wide = (0 until 60).map { i =>
      val vs = (1 to 9).map(f => math.sin(i / (3.0 + f)) + rng.nextGaussian())
      (i.toLong, ts(i), vs(0), vs(1), vs(2), vs(3), vs(4), vs(5), vs(6),
        vs(7), vs(8))
    }.toDF("id" +: "timestamp" +: feats: _*)
    val fitted = FittedWindowZScore(
      WindowZScoreDetector(feats, L = L), threshold = 1.0)
    val flat = Sequencer.flattenWindows(wide, None, "timestamp", feats, L,
      Seq($"id")).limit(4).cache()

    val chunked = Xai.perInstanceAttribution(flat, fitted.transformFlat,
      feats, L, cellsPerPass = 32)
    val single = Xai.perInstanceAttribution(flat, fitted.transformFlat,
      feats, L)
    assert(chunked.count() == 4L * 9 * L)
    // chunking must not change a single attribution value
    val joined = chunked.withColumnRenamed("attribution", "ac")
      .join(single.withColumnRenamed("attribution", "as"),
        Seq("instance_id", "feature", "lag"))
    assert(joined.count() == 4L * 9 * L)
    val maxDiff = joined.agg(max(abs($"ac" - $"as"))).head.getDouble(0)
    assert(maxDiff == 0.0, s"maxDiff $maxDiff")
    // bounded plan: per-cell branches appear as a Union, chunk-bounded
    val plan = chunked.queryExecution.logical.toString
    assert(plan.contains("Union"), plan.take(500))
    flat.unpersist()
  }

  test("X4 random mode: diverse CFs flip the prediction and rank v1 first") {
    val fitted = SupervisedDetector(Seq("v1", "v2"), "decision_tree").fit(data)
    val scored = fitted.transform(data)
    val anoms = scored.filter($"is_anomaly").limit(5)
      .drop("is_anomaly", "anomaly_score")
    val cfs = Xai.randomCounterfactuals(anoms, data, fitted.transform,
      Seq("v1", "v2"), k = 3).cache()
    assert(cfs.count() > 0)
    // ≤ k per instance, each with a DISTINCT changed-feature signature
    cfs.groupBy($"instance_id").agg(count(lit(1)).as("n"),
        countDistinct($"changed_v1", $"changed_v2").as("sigs"))
      .collect().foreach { r =>
        assert(r.getLong(1) <= 3 && r.getLong(1) == r.getLong(2), r.toString)
      }
    val imp = Xai.counterfactualImportance(cfs, Seq("v1", "v2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(imp.head._1 == "v1", imp.mkString(", "))
    cfs.unpersist()
  }

  test("X4 genetic mode: evolution tightens proximity; v1 still ranks first") {
    val fitted = SupervisedDetector(Seq("v1", "v2"), "decision_tree").fit(data)
    val scored = fitted.transform(data)
    val anoms = scored.filter($"is_anomaly").limit(5)
      .drop("is_anomaly", "anomaly_score")
    val rand = Xai.randomCounterfactuals(anoms, data, fitted.transform,
      Seq("v1", "v2"), k = 3)
    val gen = Xai.geneticCounterfactuals(anoms, data, fitted.transform,
      Seq("v1", "v2"), k = 3)
    assert(gen.count() > 0)
    // every returned CF flips (validity is enforced by construction); the
    // evolved population should sit strictly closer to the originals
    val avgR = rand.agg(avg($"distance")).head.getDouble(0)
    val avgG = gen.agg(avg($"distance")).head.getDouble(0)
    assert(avgG < avgR, s"genetic $avgG vs random $avgR")
    val imp = Xai.counterfactualImportance(gen, Seq("v1", "v2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(imp.head._1 == "v1", imp.mkString(", "))
  }

  test("X4 NUN: background cap bounds the broadcast side deterministically") {
    val fitted = SupervisedDetector(Seq("v1", "v2"), "decision_tree").fit(data)
    val scored = fitted.transform(data).cache()
    val anomalies = scored.filter($"is_anomaly").limit(10)
    val normals = scored.filter(!$"is_anomaly")
    val cfs = Xai.nunCounterfactuals(anomalies, normals, Seq("v1", "v2"),
      k = 3, maxBackground = 50)
    assert(cfs.count() == 30)
    // every neighbor comes from the keyed-LCG top-50 sample, nothing else
    val allowed = normals.select($"id").collect().map(_.getLong(0))
      .sortBy(id => (graft.functions.Det.fracHost(id, 42L), id)).take(50).toSet
    val used = cfs.select($"cf_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(used.subsetOf(allowed), s"outside sample: ${used -- allowed}")
    scored.unpersist()
  }

  test("X4: counterfactuals point at the causal feature; X5 NDCG = 1") {
    val fitted = SupervisedDetector(Seq("v1", "v2"), "decision_tree").fit(data)
    val scored = fitted.transform(data).cache()
    val anomalies = scored.filter($"is_anomaly").limit(10)
    val normals = scored.filter(!$"is_anomaly").limit(400)
    val cfs = Xai.nunCounterfactuals(anomalies, normals, Seq("v1", "v2"), k = 3)
    assert(cfs.count() == 30) // 10 instances × 3 neighbors
    val imp = Xai.counterfactualImportance(cfs, Seq("v1", "v2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(imp.head._1 == "v1", imp.mkString(", "))
    assert(imp.head._2 > 0.9) // nearly every CF changes v1

    val ndcg = Xai.ndcgVsInjected(
      Xai.counterfactualImportance(cfs, Seq("v1", "v2")), Set("v1"), 3)
    assert(ndcg == 1.0) // ground-truth feature ranked first
    scored.unpersist()
  }

  /** Per feature, |importance| summed lag by lag from lag 0 upward. */
  private def lagOrderFold(rows: Seq[(String, Int, Double)]): Map[String, Double] =
    rows.map(_._1).distinct.map { f =>
      var acc = 0.0
      for (lag <- 0 to rows.map(_._2).max; r <- rows if r._1 == f && r._2 == lag)
        acc += math.abs(r._3)
      f -> acc
    }.toMap

  /** |a − b| within `n` ulp of the larger magnitude. */
  private def withinUlps(a: Double, b: Double, n: Int): Boolean =
    math.abs(a - b) <= n * math.ulp(math.max(math.abs(a), math.abs(b)))

  test("aggregateTimestepsHost ≡ aggregateTimesteps within 4 ulp, and ≡ " +
      "the lag-order fold exactly, on any row order") {
    // distinct (feature, lag) cells as perTimestepImportance emits them:
    // up to 5 lags per feature (so any two summation orders of the
    // non-negative |importance| terms differ by at most 4 ulp), signed
    // values, tied values, features with a single lag
    val value = Gen.frequency(2 -> Gen.oneOf(0.0, 0.5, -0.5, 1.7187256645993616),
      5 -> Gen.choose(-1e3, 1e3), 2 -> Gen.choose(-1e-3, 1e-3))
    val feature = for {
      name <- Gen.oneOf("v1", "v2", "f0", "f1", "cpu", "mem", "ü")
      lags <- Gen.frequency(1 -> Gen.const(Seq(0)),
        1 -> Gen.choose(0, 4).map(Seq(_)),
        4 -> Gen.choose(2, 5).map(0 until _))
      vs <- Gen.listOfN(lags.size, value)
    } yield lags.zip(vs).map { case (l, v) => (name, l, v) }
    val cases = for {
      n <- Gen.choose(1, 5)
      fs <- Gen.listOfN(n, feature)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield {
      val rows = fs.flatten.groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
      new scala.util.Random(seed).shuffle(rows)
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(Seed(42L))
    val res = Test.check(params, Prop.forAllNoShrink(cases) { rows =>
      val host = Xai.aggregateTimestepsHost(rows)
      val spark = Xai.aggregateTimesteps(rows.toDF("feature", "lag", "importance")
          .repartition(3))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val fold = lagOrderFold(rows)
      val ok = host.map(_._1).toSet == spark.keySet &&
        host.forall { case (f, v) => withinUlps(v, spark(f), 4) } &&
        host.toMap.map { case (f, v) => f -> java.lang.Double.doubleToRawLongBits(v) } ==
          fold.map { case (f, v) => f -> java.lang.Double.doubleToRawLongBits(v) } &&
        host.size == fold.size
      if (!ok) println(s"rows $rows: host $host spark $spark fold $fold")
      ok
    })
    assert(res.passed, res.status)
  }

  test("per-timestep attribution collected unsorted and reduced on the host " +
      "≡ the sorted Spark reduction; an empty instance set gives no rows") {
    val det = WindowZScoreDetector(Seq("v1", "v2"), L = 4)
    val fitted = det.fit(seriesData).asInstanceOf[FittedWindowZScore]
    val flat = Sequencer.flattenWindows(seriesData, None, "timestamp",
      Seq("v1", "v2"), 4, Seq($"id")).cache()
    def both(instances: org.apache.spark.sql.DataFrame) = {
      val host = Xai.aggregateTimestepsHost(Xai.perTimestepImportance(instances,
          fitted.transformFlat, Seq("v1", "v2"), 4)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq)
      val sorted = Xai.aggregateTimesteps(Xai.perTimestepAttribution(instances,
          fitted.transformFlat, Seq("v1", "v2"), 4))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
      (host, sorted)
    }
    val (host, sorted) = both(flat.filter($"label" === 1))
    assert(host.map(_._1) == sorted.map(_._1) && host.map(_._1).head == "v1",
      s"$host vs $sorted")
    host.zip(sorted).foreach { case ((f, a), (_, b)) =>
      assert(withinUlps(a, b, 4), s"$f: $a vs $b")
    }
    assert(both(flat.filter(lit(false))) == ((Nil, Nil)))
    flat.unpersist()
  }
}
