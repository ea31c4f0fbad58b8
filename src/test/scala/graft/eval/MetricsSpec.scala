package graft.eval

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

class MetricsSpec extends SparkSpec {
  import spark.implicits._

  test("confusion matches a hand-computed matrix (A3/A4)") {
    // 10 rows: tp=2, tn=4, fp=1, fn=3
    val df = Seq(
      (true, true), (true, true),                       // tp
      (false, false), (false, false), (false, false), (false, false), // tn
      (true, false),                                    // fp
      (false, true), (false, true), (false, true)       // fn
    ).toDF("pred", "actual")
    val m = Metrics.confusion(df, $"pred", $"actual").head
    assert(m.getAs[Long]("tp") == 2 && m.getAs[Long]("tn") == 4)
    assert(m.getAs[Long]("fp") == 1 && m.getAs[Long]("fn") == 3)
    assert(m.getAs[Long]("total_predictions") == 10)
    assert(m.getAs[Double]("accuracy") == 0.6)       // (2+4)/10
    assert(m.getAs[Double]("precision") == 0.6667)   // 2/3 → 4dp
    assert(m.getAs[Double]("recall_tpr") == 0.4)     // 2/5
    assert(m.getAs[Double]("f1_score") == 0.5)       // 2*2/3*2/5 / (2/3+2/5)
    assert(m.getAs[Double]("specificity_tnr") == 0.8) // 4/5
  }

  test("confusion handles degenerate all-negative input (0-div guards)") {
    val df = Seq((false, false), (false, false)).toDF("pred", "actual")
    val m = Metrics.confusion(df, $"pred", $"actual").head
    assert(m.getAs[Double]("precision") == 0.0)
    assert(m.getAs[Double]("recall_tpr") == 0.0)
    assert(m.getAs[Double]("f1_score") == 0.0)
    assert(m.getAs[Double]("accuracy") == 1.0)
  }

  test("ndcgAtK matches hand-computed DCG (A8)") {
    // one group; scores rank items a>b>c>d; rel: a=1, b=0, c=1, d=0
    // DCG@3  = 1/log2(2) + 0 + 1/log2(4) = 1 + 0.5 = 1.5
    // IDCG@3 = 1/log2(2) + 1/log2(3)     = 1 + 0.6309297535714575
    val df = Seq(
      ("g", 4.0, 1.0, 1L), ("g", 3.0, 0.0, 2L),
      ("g", 2.0, 1.0, 3L), ("g", 1.0, 0.0, 4L)).toDF("grp", "score", "rel", "id")
    val got = Metrics.ndcgAtK(df, Seq("grp"), $"score", $"rel", $"id", 3)
      .head.getAs[Double]("ndcg_3")
    val expected = 1.5 / (1.0 + 1.0 / (math.log(3) / math.log(2)))
    assert(math.abs(got - expected) < 1e-12)
  }

  test("ndcgAtK: zero relevance gives 0, perfect ranking gives 1") {
    val zero = Seq(("g", 2.0, 0.0, 1L), ("g", 1.0, 0.0, 2L))
      .toDF("grp", "score", "rel", "id")
    assert(Metrics.ndcgAtK(zero, Seq("grp"), $"score", $"rel", $"id", 3)
      .head.getAs[Double]("ndcg_3") == 0.0)
    val perfect = Seq(("g", 2.0, 1.0, 1L), ("g", 1.0, 0.0, 2L))
      .toDF("grp", "score", "rel", "id")
    assert(Metrics.ndcgAtK(perfect, Seq("grp"), $"score", $"rel", $"id", 3)
      .head.getAs[Double]("ndcg_3") == 1.0)
  }

  private def bits(m: Map[String, Double]) =
    m.map { case (k, v) => k -> java.lang.Double.doubleToRawLongBits(v) }

  private def checkProp[T](n: Int, cases: Gen[T])(ok: T => Boolean): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(Seed(42L))
    val res = Test.check(params, Prop.forAllNoShrink(cases)(ok))
    assert(res.passed, res.status)
  }

  test("confusionHost equals confusion on the same counts (zero classes, " +
      "NULL labels, rounding ties)") {
    val count = Gen.frequency(2 -> Gen.const(0L), 5 -> Gen.choose(1L, 60L))
    // tp/(tp+fp) = 1/32, 3/32, 1/160: exactly on .xxxx5, where HALF_UP and
    // HALF_EVEN differ; 1/20000 = 5.0E-5 is its own decimal tie
    val tie = Gen.oneOf((1L, 31L), (3L, 29L), (1L, 159L), (1L, 19999L))
      .flatMap { case (tp, fp) => count.map(tn => (tp, tn, fp, 0L)) }
    val cases = for {
      (tp, tn, fp, fn) <- Gen.frequency(4 -> Gen.zip(count, count, count, count),
        1 -> tie)
      nulls <- Gen.frequency(2 -> Gen.const(0L), 1 -> Gen.choose(1L, 5L))
      if tp + tn + fp + fn + nulls > 0
    } yield (tp, tn, fp, fn, nulls)
    checkProp(40, cases) { case (tp, tn, fp, fn, nulls) =>
      // (pred, actual, rows); a NULL label counts in no cell
      val df = Seq[(Boolean, Option[Boolean], Long)](
        (true, Some(true), tp), (false, Some(false), tn),
        (true, Some(false), fp), (false, Some(true), fn),
        (true, None, nulls), (false, None, nulls))
        .toDF("pred", "actual", "n").filter($"n" > 0)
        .select($"pred", $"actual", explode(sequence(lit(1L), $"n")))
      val row = Metrics.confusion(df, $"pred", $"actual").head
      val ref = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
        f -> row.get(i).toString.toDouble }.toMap
      bits(ref) == bits(Metrics.confusionHost(tp, tn, fp, fn))
    }
  }

  test("ndcgAtKHost equals ndcgAtK bit for bit (score ties, k > n, " +
      "zero relevance, non-ASCII names)") {
    // names whose UTF-8 byte order differs from their UTF-16 unit order:
    // U+E000, U+FF21 and U+FFFD sort after the surrogate pairs of U+1D538
    // and U+1F600 by bytes, before them by units
    val high = Seq("\uE000", "\uFF21", "\uFFFD", "\uD835\uDD38", "\uD83D\uDE00")
    val names = Seq("a", "B", "b", "v1", "v10", "v2", "é", "ß", "日本", "a b", "") ++ high
    val rel = Gen.frequency(3 -> Gen.const(0.0), 3 -> Gen.const(1.0),
      1 -> Gen.oneOf(0.5, 2.0))
    def ranking(pool: Seq[String], score: Gen[Double]) = for {
      n <- Gen.choose(1, pool.size)
      feats <- Gen.pick(n, pool)
      items <- Gen.listOfN(n, Gen.zip(score, rel))
      zeroRel <- Gen.frequency(1 -> true, 5 -> false)
      k <- Gen.choose(1, n + 3)
    } yield (feats.toSeq.zip(items).map { case (f, (s, r)) =>
      (f, s, if (zeroRel) 0.0 else r) }, k)
    val cases = Gen.frequency(
      2 -> ranking(names, Gen.oneOf(0.0, 0.5, 1.0, 1.7187256645993616, -0.25, 3.0)),
      1 -> ranking(high, Gen.oneOf(0.0, 1.0)))
    checkProp(60, cases) { case (items, k) =>
      val ref = Metrics.ndcgAtK(items.toDF("t", "s", "r").withColumn("g", lit(1)),
        Seq("g"), $"s", $"r", $"t", k).head.getDouble(1)
      java.lang.Double.doubleToRawLongBits(ref) ==
        java.lang.Double.doubleToRawLongBits(Metrics.ndcgAtKHost(items, k))
    }
  }
}
