package graft.ops

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Host reference: union-find that always hangs the larger root under
    * the smaller, so every node's root is its component's min node. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = parent.getOrElseUpdate(x, x) match {
      case `x` => x
      case p => val r = find(p); parent(x) = r; r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Random small edge lists: isolated pairs (ids outside the shared
    * pool), and cliques, chains in random id order (the min label starts
    * mid-chain, so label waves meet) and single edges (self-loops
    * included) over a 41-node pool, then duplicated and reversed copies
    * of some edges. */
  private val graphs: Gen[Seq[(Long, Long)]] = {
    val pool = Gen.choose(0L, 40L)
    val piece = Gen.oneOf(
      Gen.choose(1000L, 1999L).map(a => Seq((a, a + 1000L))),
      Gen.choose(2, 5).flatMap(k => Gen.pick(k, 0L to 40L))
        .map(ns => for (a <- ns; b <- ns if a < b) yield (a, b)),
      Gen.choose(2, 8).flatMap(Gen.listOfN(_, pool)).map(ns => ns.zip(ns.tail)),
      Gen.zip(pool, pool).map(Seq(_)))
    for {
      edges <- Gen.nonEmptyListOf(piece).map(_.flatten)
      dups <- Gen.someOf(edges)
      revs <- Gen.someOf(edges)
    } yield edges ++ dups ++ revs.map(_.swap)
  }

  test("property: labels equal the min node of a host union-find on " +
      "random graphs") {
    val params = Test.Parameters.default.withMinSuccessfulTests(25)
      .withMaxSize(12).withInitialSeed(Seed(42L))
    val res = Test.check(params, Prop.forAllNoShrink(graphs) { edges =>
      labels(edges) == unionFind(edges)
    })
    assert(res.passed, res.status)
  }

  test("path graphs of 2^k nodes (k = 1..5): the min label crosses the " +
      "whole path, one hop per round") {
    // the five paths in disjoint id ranges, one call: the 32-node path
    // needs 32 rounds, the others converge inside it
    val edges = (1 to 5).flatMap { k =>
      val base = 100L * k
      (0L until (1L << k) - 1).map(i => (base + i + 1, base + i))
    }
    val got = labels(edges)
    assert(got === unionFind(edges))
    assert(got.size === (1 to 5).map(1 << _).sum)
    assert(got.values.toSet === (1 to 5).map(100L * _).toSet)
  }

  test("min-label propagation labels chains, cliques and pairs correctly") {
    // a 5-node chain (worst case: diameter rounds), a triangle, a lone pair
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("a", "b")
    val comp = Components.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("an empty edge list yields an empty labeling (the observe-based " +
      "convergence count must coalesce its null sum, not NPE)") {
    // optimization r13: the per-round changed-label count rides the
    // checkpoint job via Dataset.observe; over ZERO rows the sum metric
    // is NULL and only the coalesce keeps the loop terminating cleanly.
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(edges, "a", "b").count() === 0L)
  }

  test("hitting the iteration cap unconverged throws instead of handing " +
      "back non-minimal labels") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Components.connectedComponents(edges, "a", "b", maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    // the same chain converges (and is correct) with rounds to spare
    val ok = Components.connectedComponents(edges, "a", "b", maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("job count pinned: an 8-node chain runs 29 Spark jobs") {
    // diameter 7: seven label-moving rounds plus the round that sees no
    // change, after the edge and label setup; a change to the per-call or
    // per-round work must update the pin deliberately
    val edges = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
    val (comp, jobs) = withJobCount(
      Components.connectedComponents(edges, "a", "b"))
    assert(jobs === 29)
    assert(comp.collect().map(_.getLong(1)).toSet === Set(1L))
  }
}
