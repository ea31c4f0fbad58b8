package graft.inject

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import java.sql.Timestamp

class InjectorSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // 10 rows, one per second from 2024-01-01 00:00:00; span covers rows 2..5
  private val base = (0 until 10).map(i =>
    (i.toLong, ts(f"2024-01-01 00:00:0$i"), 10.0 + i, 100.0 * i))
    .toDF("id", "ts", "v", "other")
  private val spanStart = 1704067202L // 00:00:02
  private val span = AnomalySetting("custom", spanStart, durationSec = 4,
    magnitude = 3.0, percentage = 100.0, columns = Seq("v"), seed = 42L)

  test("I5 custom: v*magnitude inside half-open span, untouched outside") {
    val out = Injector.inject(base, "id", "ts", span)
      .select($"id", $"v", $"injected_anomaly", $"label")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getBoolean(2), r.getInt(3)))).toMap
    (0 until 10).foreach { i =>
      val (v, flag, lbl) = out(i.toLong)
      if (i >= 2 && i < 6) { // [start, start+4)
        assert(v == (10.0 + i) * 3.0, s"row $i")
        assert(flag && lbl == 1)
      } else {
        assert(v == 10.0 + i, s"row $i")
        assert(!flag && lbl == 0)
      }
    }
  }

  test("injection preserves row count and non-target columns") {
    val out = Injector.inject(base, "id", "ts", span)
    assert(out.count() == 10)
    val others = out.select($"id", $"other").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until 10).foreach(i => assert(others(i.toLong) == 100.0 * i))
  }

  test("I3 step: v + mean(selected)*magnitude") {
    val s = span.copy(anomalyType = "step", magnitude = 2.0)
    val out = Injector.inject(base, "id", "ts", s)
      .select($"id", $"v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mean = (12.0 + 13.0 + 14.0 + 15.0) / 4 // selected rows 2..5
    (2 until 6).foreach(i => assert(out(i.toLong) == (10.0 + i) + mean * 2.0))
    assert(out(0L) == 10.0 && out(9L) == 19.0)
  }

  test("I4 offline: selected values forced to zero") {
    val s = span.copy(anomalyType = "offline")
    val out = Injector.inject(base, "id", "ts", s)
      .select($"id", $"v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (2 until 6).foreach(i => assert(out(i.toLong) == 0.0))
    assert(out(1L) == 11.0)
  }

  test("I1 spike: v*U(1,mag) lies in (v, v*mag) and is reproducible") {
    val s = span.copy(anomalyType = "spike", magnitude = 3.0)
    val run1 = Injector.inject(base, "id", "ts", s)
      .select($"id", $"v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val run2 = Injector.inject(base.repartition(3), "id", "ts", s)
      .select($"id", $"v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(run1.toMap == run2.toMap, "partition-invariant")
    run1.toMap.foreach { case (i, v) =>
      if (i >= 2 && i < 6) {
        val orig = 10.0 + i
        assert(v >= orig && v <= orig * 3.0, s"row $i: $v")
      }
    }
  }

  test("I2 lowered: max(v - range*U(0.3,0.4), 0)") {
    val s = span.copy(anomalyType = "lowered")
    val out = Injector.inject(base, "id", "ts", s)
      .select($"id", $"v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val range = 15.0 - 12.0 // selected rows 2..5
    (2 until 6).foreach { i =>
      val orig = 10.0 + i
      assert(out(i.toLong) >= orig - range * 0.4 - 1e-9 &&
        out(i.toLong) <= orig - range * 0.3 + 1e-9, s"row $i")
    }
  }

  test("percentage selects ~pct% of in-span rows, deterministically") {
    val big = (0 until 2000).map(i =>
      (i.toLong, ts("2024-01-01 00:00:03"), 1.0)).toDF("id", "ts", "v")
    val s = AnomalySetting("custom", spanStart, 4, magnitude = 0.0,
      percentage = 25.0, columns = Seq("v"), seed = 42L)
    val n = Injector.inject(big, "id", "ts", s).filter($"injected_anomaly").count()
    assert(n > 2000 * 0.20 && n < 2000 * 0.30, s"selected $n")
    val n2 = Injector.inject(big.repartition(5), "id", "ts", s)
      .filter($"injected_anomaly").count()
    assert(n == n2)
  }

  test("injectAll composes settings in order") {
    val s1 = span // custom *3 on rows 2..5
    val s2 = AnomalySetting("custom", spanStart + 4, 2, magnitude = 10.0,
      percentage = 100.0, columns = Seq("v"), seed = 42L) // rows 6..7
    val out = Injector.injectAll(base, "id", "ts", Seq(s1, s2))
      .select($"id", $"v", $"label").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    assert(out(3L)._1 == 13.0 * 3.0 && out(3L)._2 == 1)
    assert(out(6L)._1 == 16.0 * 10.0 && out(6L)._2 == 1)
    assert(out(8L)._1 == 18.0 && out(8L)._2 == 0)
  }

  // 48 rows; every value is a multiple of 1/4 with a small integer part,
  // so the slice sums behind mean/range are exact in any association and
  // both stats paths must agree bit for bit
  private val propBase = (0 until 48).map(i =>
    (i.toLong, new Timestamp((1704067200L + i) * 1000L),
      3.0 + (i % 13) * 0.25, -2.0 + (i * 7 % 11) * 0.5))
    .toDF("id", "ts", "v", "w")
  private val propStart = 1704067200L

  private def bitsById(df: DataFrame) =
    df.select($"id", $"v", $"w", $"injected_anomaly", $"label").collect()
      .map(r => r.getLong(0) -> ((java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getBoolean(3), r.getInt(4))))
      .toMap

  /** The streaming twin with its stats pre-pass: the reference for [[inject]]. */
  private def viaStreaming(df: DataFrame, s: AnomalySetting): DataFrame =
    Injector.injectStreaming(df, "id", "ts", s, Injector.staticStats(df, "id", "ts", s))

  private def checkProp[T](n: Int, cases: Gen[T])(ok: T => Boolean): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(Seed(42L))
    val res = Test.check(params, Prop.forAllNoShrink(cases)(ok))
    assert(res.passed, res.status)
  }

  private val settingGen: Gen[AnomalySetting] = for {
    typ <- Gen.oneOf(Injector.methods)
    // empty (duration 0), partial, whole-frame and out-of-frame spans
    (start, dur) <- Gen.frequency(
      1 -> Gen.zip(Gen.choose(-5L, 50L), Gen.const(0L)),
      1 -> Gen.const((-10L, 80L)),
      4 -> Gen.zip(Gen.choose(-5L, 50L), Gen.choose(1L, 30L)))
    pct <- Gen.frequency(1 -> Gen.const(0.0), 2 -> Gen.const(100.0),
      3 -> Gen.choose(1.0, 99.0))
    mag <- Gen.oneOf(Gen.const(0.0), Gen.choose(-3.0, 8.0))
    cols <- Gen.oneOf(Seq("v"), Seq("w"), Seq("v", "w"), Seq("w", "v"))
    seed <- Gen.choose(0L, 1000000L)
    // a drift span must not be empty (the table test pins the throw)
  } yield AnomalySetting(typ, propStart + start,
    if (typ == "drift") dur max 1L else dur, mag, pct, cols, seed)

  test("inject ≡ injectStreaming with staticStats, bit for bit, over every " +
      "table method; a stats broadcast iff usesStats") {
    checkProp(30, settingGen) { s =>
      val out = Injector.inject(propBase, "id", "ts", s)
      val broadcasts = out.queryExecution.executedPlan.toString
        .contains("BroadcastExchange")
      val same = bitsById(out) == bitsById(viaStreaming(propBase, s))
      val ok = same && broadcasts == Injector.usesStats(s.anomalyType)
      if (!ok) println(s"failing setting $s: equal=$same broadcast=$broadcasts")
      ok
    }
  }

  test("injectAll of two settings ≡ the streaming twin's fold (each " +
      "setting's stats taken on the frame the previous one produced)") {
    checkProp(10, Gen.zip(settingGen, settingGen)) { case (s1, s2) =>
      val fold = Seq(s1, s2).foldLeft(propBase)(viaStreaming)
      bitsById(Injector.injectAll(propBase, "id", "ts", Seq(s1, s2))) ==
        bitsById(fold)
    }
  }

  test("the table: seven methods, the stats readers are lowered, step, " +
      "drift and seasonal; a zero-length drift span throws on both paths") {
    assert(Injector.methods ==
      Seq("spike", "lowered", "step", "offline", "custom", "drift", "seasonal"))
    assert(Injector.methods.filter(Injector.usesStats) ==
      Seq("lowered", "step", "drift", "seasonal"))
    val flat = span.copy(anomalyType = "drift", durationSec = 0L)
    intercept[IllegalArgumentException](Injector.inject(base, "id", "ts", flat))
    intercept[IllegalArgumentException](viaStreaming(base, flat))
  }

  test("an unknown method throws when the frame is built") {
    val bad = span.copy(anomalyType = "sawtooth")
    intercept[IllegalArgumentException](Injector.inject(base, "id", "ts", bad))
    intercept[IllegalArgumentException](Injector.usesStats("sawtooth"))
  }
}
