package graft.ops

import graft.SparkSpec

class BfsSpec extends SparkSpec {
  import spark.implicits._

  /** Path graph a-b-c-d-e (symmetric) with seed a: hop counts are exact
    * integers, so expected distances are hand-checkable. */
  test("hop distances on a path graph, nodes beyond maxHops absent") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val got = Bfs.seedDistance(edges, seeds, maxHops = 3).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
  }

  test("multi-source: nearest seed wins; seed distance stays 0") {
    // a-b-c-d-e, seeds {a, e}: c is 2 from both, b nearer a, d nearer e
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val seeds = Seq("a", "e").toDF("node")
    val got = Bfs.seedDistance(edges, seeds, maxHops = 4).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 1, "e" -> 0))
  }

  test("cycle relaxation converges to shortest hops, not walk length") {
    // triangle a-b-c symmetric, seed a; extra rounds must not inflate dists
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "a"))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val got = Bfs.seedDistance(edges, Seq("a").toDF("node"), maxHops = 5)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("a" -> 0, "b" -> 1, "c" -> 1))
  }

  test("partition-count invariance (bit-identical ints)") {
    val pairs = (1 to 40).map(i => (s"u${i % 7}", s"v${i % 11}"))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val seeds = Seq("u0", "v3").toDF("node")
    def run(parts: Int): Map[String, Int] = {
      val s = spark
      val old = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try Bfs.seedDistance(edges.repartition(parts), seeds, maxHops = 3)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      finally s.conf.set("spark.sql.shuffle.partitions", old)
    }
    assert(run(2) === run(5))
  }

  test("weighted seedCost: cheaper long path beats pricier short path") {
    // a→b→c costs 1+1=2 over two edges; direct a→c costs 5. With 1 round
    // only the direct edge is reachable (5); with 2 the relay wins (2).
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 5L))
      .toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    def run(r: Int) = Bfs.seedCost(edges, seeds, r).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(run(1) === Map("a" -> 0L, "b" -> 1L, "c" -> 5L))
    assert(run(2) === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    // extra rounds must not change converged costs
    assert(run(4) === run(2))
  }

  /** Job-count pins (3 setup jobs + 3 per round in both): a change to the
    * per-call or per-round work must update them deliberately. */
  test("job count pinned: seedDistance at 3 hops runs 12 Spark jobs, " +
      "seedCost at 2 rounds 9") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val (_, distJobs) = withJobCount(Bfs.seedDistance(edges, seeds, maxHops = 3))
    assert(distJobs === 12)
    val wedges = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 5L))
      .toDF("src", "dst", "w")
    val (_, costJobs) = withJobCount(Bfs.seedCost(wedges, seeds, 2))
    assert(costJobs === 9)
  }
}
