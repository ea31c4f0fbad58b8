package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** The survival kernel both families share (`Survival.kmArmRiskTable` +
  * `Survival.kmScanCarries`) against a plain host product-limit
  * computation, and a50's degenerate-variance readout. */
class SurvivalKernelSpec extends SparkSpec {
  import spark.implicits._

  type Obs = (Long, Long, Long) // (t, d, grp)
  type Row = (Long, Long, Long, Long, Long, Long, Long)

  private def halfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Per event time t (d > 0), ascending: (t, d, d1, r, r1, cl6, cgw)
    * with r = #{tᵢ ≥ t}, cl6 the running sum of the e6 ln-survivor
    * factors and cgw the running sum of (d·10¹²) div (r(r−d)); a factor
    * where d = r adds 0 to both. */
  private def reference(obs: Seq[Obs]): Seq[Row] = {
    val times = obs.filter(_._2 > 0).map(_._1).distinct.sorted
    times.scanLeft(Option.empty[Row]) { (prev, t) =>
      val risk = obs.filter(_._1 >= t)
      val ev = obs.filter(o => o._1 == t && o._2 > 0)
      val (r, d) = (risk.size.toLong, ev.map(_._2).sum)
      val r1 = risk.count(_._3 == 1L).toLong
      val d1 = ev.filter(_._3 == 1L).map(_._2).sum
      val (l6, gw) =
        if (d < r) (halfUp(math.log((r - d).toDouble / r.toDouble) * 1e6),
          (d * 1000000000000L) / (r * (r - d)))
        else (0L, 0L)
      val (cl6, cgw) = prev.map(p => (p._6, p._7)).getOrElse((0L, 0L))
      Some((t, d, d1, r, r1, cl6 + l6, cgw + gw))
    }.flatten
  }

  private def kernel(obs: Seq[Obs], parts: Int): Seq[Row] =
    Survival.kmScanCarries(spark, Survival.kmArmRiskTable(spark,
        obs.toDF("t", "d", "grp").repartition(parts)))
      .select($"t", $"d", $"d1", $"r", $"r1", $"cl6", $"cgw")
      .as[Row].collect().toSeq.sortBy(_._1)

  test("kmArmRiskTable + kmScanCarries ≡ a host product-limit " +
      "computation on the edge frames") {
    val cases: Seq[(String, Seq[Obs])] = Seq(
      "one subject, event" -> Seq((5L, 1L, 1L)),
      "one subject, censored" -> Seq((5L, 0L, 0L)),
      "all censored" -> Seq((1L, 0L, 0L), (3L, 0L, 1L), (3L, 0L, 0L)),
      "d = r at the last time" ->
        Seq((1L, 1L, 0L), (2L, 0L, 1L), (4L, 1L, 1L), (4L, 1L, 0L)),
      "empty arm 1" -> Seq((1L, 1L, 0L), (1L, 0L, 0L), (2L, 1L, 0L)),
      "one tie run" -> (Seq.fill(7)((9L, 1L, 1L)) ++ Seq.fill(5)((9L, 0L, 0L))))
    for ((what, obs) <- cases; parts <- Seq(1, 3))
      assert(kernel(obs, parts) == reference(obs), s"$what, $parts parts")
  }

  test("property: kmArmRiskTable + kmScanCarries ≡ a host product-limit " +
      "computation on random frames with tie runs, all-censored frames, " +
      "a dying-out last time and an empty arm") {
    val cases = for {
      n <- Gen.choose(1, 60)
      tMax <- Gen.oneOf(0L, 3L, 12L, 5000L) // 0: every subject tied
      pEvent <- Gen.oneOf(0.0, 0.3, 0.8) // 0.0: every subject censored
      arm <- Gen.oneOf(Option(0L), Option(1L), None) // Some: one arm empty
      dieOut <- Gen.oneOf(true, false) // every subject at the last t dies
      raw <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, tMax),
        Gen.choose(0.0, 1.0), Gen.oneOf(0L, 1L)))
      parts <- Gen.choose(1, 8)
    } yield {
      val last = raw.map(_._1).max
      val obs = raw.map { case (t, u, g) =>
        (t, if (u < pEvent || (dieOut && t == last)) 1L else 0L,
          arm.getOrElse(g))
      }
      (obs, parts)
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(Seed(42L))
    val res = Test.check(params, Prop.forAllNoShrink(cases) {
      case (obs, parts) => kernel(obs, parts) == reference(obs)
    })
    assert(res.passed, res.status)
  }

  test("a50 on a one-converter corpus: ΣV = 0 reads z NULL (as SQL's " +
      "division by zero does), not an ANSI divide-by-zero") {
    val rows = EventCorpus.withEvents(spark, "graft_a50") { ev =>
      val user = ev.filter($"event_type" === "purchase")
        .agg(min($"user_id")).head().getLong(0)
      ev.filter($"user_id" === user)
    }(SparkEntry.queries("a50_logrank")(spark, _).collect())
    assert(rows.length == 1, rows.mkString("\n"))
    val r = rows.head
    assert(r.getAs[Long]("n_exposed") + r.getAs[Long]("n_clean") == 1L)
    assert(r.isNullAt(r.fieldIndex("z")), r)
  }
}
