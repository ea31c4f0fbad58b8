package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

class DetSpec extends SparkSpec {
  import spark.implicits._

  test("frac is deterministic, in [0,1), and matches host arithmetic") {
    def agrees(ids: Seq[Long], seed: Long): Boolean = {
      val got = ids.toDF("id").select($"id", Det.frac($"id", seed).as("f"))
        .as[(Long, Double)].collect().toMap
      ids.forall { i =>
        got(i) == Det.fracHost(i, seed) && got(i) >= 0.0 && got(i) < 1.0
      }
    }
    assert(agrees(0L until 1000L, 42L))
    // the domain the object doc states: ids in [0, 2^62], seeds < ~3.4e9;
    // the lane edges of `id % 2^31` are drawn on purpose
    val id = Gen.frequency(
      4 -> Gen.choose(0L, 1L << 62),
      1 -> Gen.oneOf(0L, Det.M - 1, Det.M, Det.M + 1, 1L << 62))
    val cases = for {
      seed <- Gen.frequency(3 -> Gen.choose(0L, 3000000000L),
        1 -> Gen.oneOf(0L, 3000000000L))
      ids <- Gen.listOfN(64, id)
    } yield (ids.distinct, seed)
    val params = Test.Parameters.default.withMinSuccessfulTests(30)
      .withInitialSeed(Seed(42L))
    val res = Test.check(params, Prop.forAllNoShrink(cases) {
      case (ids, seed) => agrees(ids, seed)
    })
    assert(res.passed, res.status)
  }

  test("frac is partition-invariant (same values under repartition)") {
    val a = (0L until 500L).toDF("id")
      .select($"id", Det.frac($"id", 7L).as("f")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = (0L until 500L).toDF("id").repartition(7)
      .select($"id", Det.frac($"id", 7L).as("f")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("different seeds decorrelate selection (incl. adjacent seeds)") {
    val n = 10000L
    val df = (0L until n).toDF("id")
    // independent halves → ~25% joint selection; the injection layout uses
    // seed offsets of 1000 (per column) and 7919 (u-draw)
    Seq((1L, 2L), (42L, 1042L), (42L, 7961L)).foreach { case (s1, s2) =>
      val both = df.filter(Det.frac($"id", s1) < 0.5 && Det.frac($"id", s2) < 0.5)
        .count()
      assert(both > n * 0.2 && both < n * 0.3, s"seeds ($s1,$s2) joint=$both")
    }
  }

  test("epochS truncates toward zero seconds") {
    val df = Seq(java.sql.Timestamp.valueOf("2024-01-01 00:00:00.999"))
      .toDF("ts")
    assert(df.select(Det.epochS($"ts")).head.getLong(0) == 1704067200L)
  }
}
