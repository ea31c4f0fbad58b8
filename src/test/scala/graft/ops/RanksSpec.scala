package graft.ops

import graft.{RankBoundaries, SparkSpec}
import graft.ingest.Ingest
import graft.inject.{AnomalySetting, Injector}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

class RanksSpec extends SparkSpec {
  import spark.implicits._

  test("globalRowNumber matches a global window row_number") {
    val df = (1 to 1000).map(i => ((i * 37) % 1000, i.toLong)).toDF("k", "v")
    val got = Ranks.globalRowNumber(df, Seq($"k", $"v"), "rn", numPartitions = 7)
      .orderBy($"rn").select($"k", $"v", $"rn").collect()
    val want = df.orderBy($"k", $"v").collect().zipWithIndex
      .map { case (r, i) => (r.getInt(0), r.getLong(1), i + 1L) }
    assert(got.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      want.toSeq)
  }

  test("globalRowNumberWithTotal carries the exact row count") {
    val df = (1 to 123).map(i => i.toLong).toDF("v")
    val out = Ranks.globalRowNumberWithTotal(df, Seq($"v"), "rn", "n",
      numPartitions = 5)
    assert(out.select("n").distinct().as[Long].collect().toSeq == Seq(123L))
    assert(out.agg(max($"rn")).as[Long].head() == 123L)
  }

  test("ranks are invariant to input partitioning and rank partition count") {
    val df = (1 to 500).map(i => ((i * 13) % 97, i.toLong)).toDF("k", "v")
    val a = Ranks.globalRowNumber(df.repartition(3), Seq($"k", $"v"), "rn",
      numPartitions = 4).orderBy($"v").select($"rn").as[Long].collect().toSeq
    val b = Ranks.globalRowNumber(df.repartition(11), Seq($"k", $"v"), "rn",
      numPartitions = 9).orderBy($"v").select($"rn").as[Long].collect().toSeq
    assert(a == b)
  }

  test("globalCumSum matches a global window prefix sum, partition-invariantly") {
    val df = (1 to 500).map(i => ((i * 37) % 211, i.toLong, (i % 13).toLong))
      .toDF("k", "v", "w")
    val want = df.orderBy($"k", $"v").collect()
      .map(r => (r.getLong(1), r.getLong(2))).scanLeft((0L, 0L)) {
        case ((_, acc), (v, wv)) => (v, acc + wv)
      }.drop(1).toMap
    def got(parts: Int, n: Int) =
      Ranks.globalCumSum(df.repartition(parts), Seq($"k", $"v"), $"w", "cs",
          numPartitions = n)
        .select($"v", $"cs").as[(Long, Long)].collect().toMap
    val a = got(3, 4)
    assert(a == want)
    assert(got(11, 9) == a)
  }

  test("string leading key ranks distributed, exactly, partition-invariantly") {
    // realistic doc-id-ish strings incl. shared prefixes, empty, non-ASCII
    val docs = (1 to 400).map { i =>
      val s = i % 40 match {
        case 0 => ""
        case 1 => s"Ω-doc-$i"
        case n if n < 8 => s"common/prefix/longer/than/seven/bytes/$i"
        case _ => s"doc-${(i * 131) % 97}%04d-$i"
      }
      (s, i.toLong)
    }.toDF("k", "v")
    val got = Ranks.globalRowNumber(docs, Seq($"k", $"v"), "rn",
        numPartitions = 8)
      .orderBy($"rn").select($"k", $"v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = docs.orderBy($"k", $"v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
    // invariance across input partitioning / bucket counts
    val a = Ranks.globalRowNumber(docs.repartition(3), Seq($"k", $"v"), "rn",
      numPartitions = 4).orderBy($"v").select($"rn").as[Long].collect().toSeq
    val b = Ranks.globalRowNumber(docs.repartition(11), Seq($"k", $"v"), "rn",
      numPartitions = 9).orderBy($"v").select($"rn").as[Long].collect().toSeq
    assert(a == b)
  }

  test("unsupported leading key type fails fast (no silent one-bucket rank)") {
    val df = Seq((Array(1.0, 2.0), 1L), (Array(2.0, 1.0), 2L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Ranks.globalRowNumber(df, Seq($"k", $"v"), "rn")
    }
    assert(e.getMessage.contains("leading order key"))
  }

  test("no single-partition Window in the physical plan") {
    val df = (1 to 100).map(_.toLong).toDF("v")
    val plan = Ranks.globalRowNumber(df, Seq($"v"), "rn")
      .queryExecution.executedPlan.toString
    // every full-data Window must be partitioned; the only unpartitioned
    // window allowed is the one over the tiny per-partition offsets frame
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty)
  }

  test("normalize ids + injection are partition-invariant (stable-id contract)") {
    // raw frame with duplicate timestamps (tiebreak via measure columns)
    val raw = (1 to 400).map { i =>
      (1704067200L + (i % 50) * 60L, (i % 7).toDouble, i.toDouble, "0")
    }.toDF("time", "m1", "m2", "lbl")

    def pipeline(parts: Int, shuffleParts: String) = {
      spark.conf.set("spark.sql.shuffle.partitions", shuffleParts)
      try {
        val norm = Ingest.normalize(raw.repartition(parts), "time", Some("lbl"))
        val inj = Injector.inject(norm, "id", "timestamp",
          AnomalySetting("spike", 1704067200L, 3000L, magnitude = 3.0,
            percentage = 40.0, columns = Seq("m1"), seed = 7L))
        inj.select($"id", $"timestamp".cast("long").as("es"), $"m1", $"m2",
            $"injected_anomaly")
          .orderBy($"id").collect().toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", "2")
    }

    val a = pipeline(parts = 3, shuffleParts = "2")
    val b = pipeline(parts = 13, shuffleParts = "5")
    assert(a == b)
    // sanity: something actually got injected
    assert(a.exists(_.getAs[Boolean]("injected_anomaly")))
  }

  test("building rank, rank-with-total and cumsum frames runs no Spark job") {
    val df = (1 to 1000).map(i => ((i * 37) % 1000, i.toLong)).toDF("k", "v")
    val (_, jobs) = withJobCount {
      Seq(Ranks.globalRowNumber(df, Seq($"k", $"v"), "rn", numPartitions = 7),
        Ranks.globalRowNumberWithTotal(df, Seq($"k", $"v"), "rn", "n",
          numPartitions = 7),
        Ranks.globalCumSums(df, Seq($"k", $"v"),
          Seq(($"v", "cv"), ($"k".cast("long"), "ck")), numPartitions = 7))
        .foreach(_.queryExecution.executedPlan)
    }
    assert(jobs == 0)
  }

  /** Executes `df`; its final plan's (computed, reused) boundary
    * broadcasts. */
  private def boundaryExchanges(df: DataFrame): (Int, Int) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    (RankBoundaries.computed(plan).size, RankBoundaries.reused(plan).size)
  }

  test("the boundary subplan runs once per plan: one percentile_approx " +
      "broadcast, which the other branch reads as a ReusedExchange") {
    val df = spark.range(0, 20000, 1, 4)
      .select(($"id" * 7919 % 5000).as("k"), $"id".as("v"))
    val withTotal = Ranks.globalRowNumberWithTotal(df, Seq($"k", $"v"), "rn",
      "n", numPartitions = 8)
    val cum = Ranks.globalCumSum(df, Seq($"k", $"v"), $"v", "cs",
      numPartitions = 8)
    assert(boundaryExchanges(withTotal) == ((1, 1)))
    assert(boundaryExchanges(cum) == ((1, 1)))
  }

  /** `df` (key `k`, unique tiebreak `v`, value `w`) ranked and prefix-summed
    * by `Ranks` and by the one-task global window, joined on `v`: the
    * number of rows where the two disagree, and the row count. */
  private def mismatches(df: DataFrame, numPartitions: Int): (Long, Long) = {
    val order = Seq($"k", $"v")
    val got = Ranks.globalCumSum(
      Ranks.globalRowNumber(df, order, "rn", numPartitions), order, $"w",
      "cs", numPartitions)
    val one = Window.orderBy(order: _*)
    val want = df.select($"v", row_number().over(one).as("rn_1"),
      sum($"w").over(one.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).as("cs_1"))
    val r = got.join(want, "v").agg(
      count(when($"rn" =!= $"rn_1" || $"cs" =!= $"cs_1", 1)), count(lit(1)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  test("property: globalRowNumber ≡ row_number() and globalCumSum ≡ a " +
      "one-task window prefix sum, on keys with tie runs, nulls and NaN") {
    val key = Gen.frequency(
      1 -> Gen.const(Option.empty[Double]), 1 -> Gen.const(Some(Double.NaN)),
      8 -> Gen.choose(0, 12).map(i => Some(i.toDouble)))
    val cases = for {
      rows <- Gen.listOf(Gen.zip(key, Gen.choose(-50L, 50L)))
      inParts <- Gen.choose(1, 8)
      nParts <- Gen.choose(1, 32)
    } yield (rows, inParts, nParts)
    val params = Test.Parameters.default.withMinSuccessfulTests(20)
      .withMaxSize(300).withInitialSeed(Seed(42L))
    val res = Test.check(params, Prop.forAllNoShrink(cases) {
      case (rows, inParts, nParts) =>
        val df = rows.zipWithIndex
          .map { case ((k, w), i) => (k, i.toLong, w) }
          .toDF("k", "v", "w").repartition(inParts)
        mismatches(df, nParts) == ((0L, rows.size.toLong))
    })
    assert(res.passed, res.status)
  }

  test("200k rows: the approximate sketch still gives exact ranks and sums") {
    val df = spark.range(0, 200000, 1, 8)
      .select(($"id" * 7919 % 50000).as("k"), $"id".as("v"),
        ($"id" % 97 - 48).as("w"))
    assert(mismatches(df, 32) == ((0L, 200000L)))
  }
}
