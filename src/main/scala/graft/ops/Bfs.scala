package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distance over an edge list — the TrustRank-style
  * "distance from trusted seeds" signal web-curation pipelines use next to
  * [[PageRank]] centrality.
  *
  * Pure integer arithmetic (hop counts), so results are exactly
  * reproducible across partitionings and engines; the oracle unrolls the
  * same fixed relaxation count in SQL.
  *
  * Scale shape: each round is one co-partitioned join against the
  * once-partitioned-and-checkpointed edge frame + one min-aggregation
  * shuffle — the [[PageRank]] iteration shape with min(d+1) in place of
  * the damped sum, run by [[Iterate.rounds]]. Full-relaxation form
  * (distances re-derived from the whole frontier set each round) rather
  * than delta-frontier: simpler, same worst-case shuffle volume at small
  * fixed depth, and exactly the shape the unrolled SQL twin computes.
  */
object Bfs {

  /** @param edges two columns `src`, `dst`
    * @param seeds one column `node` (distance 0)
    * @param maxHops fixed relaxation rounds (nodes further than this are
    *                absent from the result)
    * @return (node, dist: Int) for every node within maxHops of a seed */
  def seedDistance(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    relax(edges.select(col("src"), col("dst")), seeds, maxHops,
      "dist", lit(0), lit(1))
  }

  /** Weighted twin of [[seedDistance]]: fixed-round Bellman–Ford. Each
    * round relaxes every edge once (cost = min over src of cost[src] +
    * w), so after `rounds` rounds every node whose cheapest seed path
    * uses ≤ `rounds` edges carries its exact minimum cost — integer
    * weights keep it bit-reproducible and SQL-unrollable.
    *
    * @param edges three columns `src`, `dst`, `w` (LongType, ≥ 0)
    * @return (node, cost: Long) for nodes reachable within `rounds` edges */
  def seedCost(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    relax(edges.select(col("src"), col("dst"), col("w")), seeds, rounds,
      "cost", lit(0L), col("w"))
  }

  /** `rounds` full relaxations from `seeds` (at `zero`): each round takes,
    * per node, the min of its value and every in-edge's `src` value +
    * `weight`. The result column `out` is typed like `zero + weight`. */
  private def relax(edges: DataFrame, seeds: DataFrame, rounds: Int,
                    out: String, zero: Column, weight: Column): DataFrame = {
    val e = edges.repartition(col("src")).localCheckpoint()
    val init = seeds.select(col("node")).distinct()
      .select(col("node"), zero.as(out)).localCheckpoint()
    Iterate.rounds(init, rounds) { d =>
      val relaxed = e.join(d, e("src") === d("node"))
        .select(col("dst").as("node"), (col(out) + weight).as(out))
      d.unionAll(relaxed).groupBy("node").agg(min(out).as(out))
    }
  }
}
