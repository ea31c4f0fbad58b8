package graft.ops

import graft.SparkSpec

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def sym(pairs: Seq[(String, String)]) =
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")

  /** Path graph a…g at k=2: peeling cascades inward one node per round
    * (endpoints have degree 1), so the ROUND COUNT is observable — exactly
    * the multi-round semantics the uniform oracle graph can't exercise.
    * Reporting is edge-derived (a survivor isolated by the round's peel has
    * no induced edges, hence no degree row — it would peel next round
    * anyway since k ≥ 1), so the round-2 set excludes nothing here but the
    * round-3 set is already empty: d survives round 3's filter yet sits in
    * an empty induced subgraph. */
  test("path graph cascade: each round peels the current endpoints") {
    val edges = sym(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "g")))
    def survivors(rounds: Int): Set[String] =
      KCore.peel(edges, k = 2, rounds = rounds)
        .collect().map(_.getString(0)).toSet
    assert(survivors(1) === Set("b", "c", "d", "e", "f")) // a,g peel
    assert(survivors(2) === Set("c", "d", "e"))           // b,f peel
    assert(survivors(3) === Set.empty)                    // c,e peel → d isolated
  }

  test("triangle plus pendant at k=2: core survives, pendant peels, " +
      "degrees reported on the induced subgraph") {
    val edges = sym(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "p")))
    val got = KCore.peel(edges, k = 2, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // p peels round 1; c's reported degree must DROP to 2 (induced graph)
    assert(got === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("converged graph is a fixed point: extra rounds change nothing") {
    val square = sym(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")))
    val r2 = KCore.peel(square, k = 2, rounds = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val r5 = KCore.peel(square, k = 2, rounds = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(r2 === r5)
    assert(r2 === Set(("a", 2L), ("b", 2L), ("c", 2L), ("d", 2L)))
  }

  test("partition-count invariance (bit-identical longs)") {
    val pairs = (1 to 40).map(i => (s"u${i % 7}", s"v${i % 11}"))
    val edges = sym(pairs)
    def run(parts: Int): Set[(String, Long)] = {
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try KCore.peel(edges.repartition(parts), k = 3, rounds = 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      finally spark.conf.set("spark.sql.shuffle.partitions", old)
    }
    val a = run(2)
    assert(a === run(5) && a.nonEmpty)
  }

  // a change to the per-call or per-round work must update the pin
  test("job count pinned: peel at 3 rounds runs 14 Spark jobs") {
    val edges = sym(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "g")))
    val (_, jobs) = withJobCount(KCore.peel(edges, k = 2, rounds = 3))
    assert(jobs === 14)
  }
}
