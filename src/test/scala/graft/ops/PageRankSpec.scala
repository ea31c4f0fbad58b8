package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Hand-computed fixed-point PageRank on a 3-node directed cycle with an
    * extra a→b edge: every step is integer arithmetic so the expected
    * values are exact, not approximate. */
  test("fixed-point ranks match a hand-unrolled computation") {
    // a -> b, a -> c, b -> c, c -> a
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
      .toDF("src", "dst")
    val scale = 3000L // divisible by n=3 for easy hand arithmetic
    val got = PageRank.ranks(edges, iters = 2, scale = scale, damp = 85L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // n=3, base=1000, teleport=(15*1000)/100=150
    // it1: contrib a->{b,c}: 1000/2=500 each; b->c: 1000; c->a: 1000
    //   a: 150 + 85*1000/100 = 1000
    //   b: 150 + 85*500/100  = 575
    //   c: 150 + 85*1500/100 = 1425
    // it2: a contributes 1000/2=500 to b and c; b 575 to c; c 1425 to a
    //   a: 150 + (85*1425)/100 = 150 + 1211 = 1361
    //   b: 150 + (85*500)/100  = 575
    //   c: 150 + (85*1075)/100 = 150 + 913 = 1063
    assert(got === Map("a" -> 1361L, "b" -> 575L, "c" -> 1063L))
  }

  test("symmetric edges conserve ≈scale of total mass and rank hubs first") {
    // star: hub h connected to 4 leaves, symmetric
    val pairs = Seq("l1", "l2", "l3", "l4").map(("h", _))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val pr = PageRank.ranks(edges, iters = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hub = pr("h")
    assert(Seq("l1", "l2", "l3", "l4").forall(l => pr(l) < hub))
    val total = pr.values.sum.toDouble
    assert(math.abs(total / 1e12 - 1.0) < 0.01) // truncation loss only
  }

  test("partition-count invariance (bit-identical longs)") {
    val pairs = (1 to 40).map(i => (s"u${i % 7}", s"v${i % 11}"))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    def run(parts: Int): Map[String, Long] = {
      val s = spark
      val old = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try PageRank.ranks(edges.repartition(parts), iters = 3).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      finally s.conf.set("spark.sql.shuffle.partitions", old)
    }
    assert(run(2) === run(5))
  }

  // a change to the per-call or per-round work must update the pin
  test("job count pinned: ranks at 2 iterations runs 13 Spark jobs") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
      .toDF("src", "dst")
    val (_, jobs) = withJobCount(PageRank.ranks(edges, iters = 2, scale = 3000L))
    assert(jobs === 13)
  }
}
