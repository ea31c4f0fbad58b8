package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round k-core peeling over an edge list — the "dense community
  * kernel" signal curation pipelines use next to [[PageRank]] /
  * [[Triangles]]: nodes that survive repeated removal of low-degree
  * neighbors sit in well-connected regions (spam farms and isolated tails
  * peel away first).
  *
  * Each round removes every node whose degree in the CURRENT surviving
  * subgraph is below k, then re-induces the subgraph on the survivors; a
  * node's degree can only fall as neighbors peel, so survivors shrink
  * monotonically toward the true k-core. The round count is FIXED (not
  * run-to-convergence): pure integer degree arithmetic over a deterministic
  * number of rounds is exactly reproducible across partitionings and
  * engines, and the oracle unrolls the identical rounds in SQL — the
  * [[Bfs]] contract applied to peeling.
  *
  * Scale shape: per round, two semi-joins of the once-partitioned-and-
  * checkpointed edge frame against the (node-sized, checkpointed) survivor
  * set plus one count-aggregation shuffle; survivor frames only ever
  * shrink. [[Iterate.rounds]] checkpoints the shrinking induced subgraph,
  * so each round's degree agg reads one materialized frame instead of
  * re-running every prior round's semi-joins. Nothing is ever
  * driver-collected and no step is quadratic.
  */
object KCore {

  /** @param edges two columns `src`, `dst` — both directions present for an
    *              undirected graph (degree = count of rows per `src`)
    * @param k minimum surviving degree
    * @param rounds fixed peel rounds
    * @return (node, deg: bigint) — survivors of `rounds` peels with their
    *         degree in the surviving induced subgraph, the k-core iterate.
    *         Reporting is edge-derived: a survivor the round isolated has
    *         no induced edges and is absent (it would peel next round
    *         anyway, as k ≥ 1 — at convergence the sets coincide). */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got k=$k rounds=$rounds")
    val e0 = edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint()
    Iterate.rounds(e0, rounds) { cur =>
      // the survivor set is read by both semi-joins: materialize it once
      val alive = cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
        .localCheckpoint()
      cur
        .join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
    }.groupBy(col("src")).agg(count(lit(1)).cast("long").as("deg"))
      .select(col("src").as("node"), col("deg"))
  }
}
