package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (minhash/simhash/embedding candidates) into dedup CLUSTERS, so a
  * pipeline can keep one canonical document per cluster. The reference has
  * no clustering stage (its dedup story stops at pairs); training-data
  * pipelines need the closure: A~B and B~C must dedup A, B, C together
  * even though (A, C) was never emitted as a pair.
  *
  * Algorithm: iterated min-label propagation. Every node starts labeled
  * with itself; each round every node takes the min of its own label and
  * its neighbors' labels. Converges in O(cluster diameter) rounds — near-dup
  * clusters are near-cliques (diameter 2-3), so the default cap is
  * generous. Each round is one shuffle join + one aggregation over the
  * EDGE list (never all-pairs), run by [[Iterate.untilStable]]: a
  * checkpointed round loop that stops when no label changes — the classic
  * scalable shape (map-reduce CC; for billion-edge graphs the
  * large-star/small-star variant halves rounds, same skeleton). */
object Components {

  /** Component id (= min node id in the component) for every node that
    * appears in `edges`. Output: (node, component), both typed like the
    * input columns.
    *
    * Convergence is REQUIRED ([[Iterate.untilStable]]): hitting `maxIter`
    * with labels still changing throws. Near-dup clusters are near-cliques
    * (diameter 2–3); the default cap covers pathological chains (diameter
    * = chain length) with room — a graph deeper than that usually means
    * the similarity threshold is too loose. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 60,
                          partitions: Int = 0): DataFrame = {
    // pre-partition the (static) edge list on the join key once: every
    // round's join then reuses this exchange and only the labels side
    // shuffles. `partitions` right-sizes the rounds when the edge list is
    // orders smaller than the corpus (e.g. positive LINKS, not candidate
    // pairs): each round's cost at small frames is per-partition
    // scheduler overhead × rounds, not data. 0 = the session default
    // (the corpus-scale choice).
    //
    // Self-loop trick (optimization r12, guide §2.4 — one shuffle join
    // fewer per round): adding (v, v) for every node makes "min over
    // neighbors including self" fall out of the ONE edges⋈labels join —
    // the old shape needed a SECOND per-round join of the labels frame
    // against the neighbor minima to apply `least(own, nbr)`. The self
    // row also carries the node's previous label through the same
    // aggregation (`min` over the single dst = src row), so the changed
    // mark is computed from materialized data.
    val sym0 = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
    val sym = (sym0.unionByName(sym0.select(col("src"), col("src").as("dst")))
      .distinct() match {
        case d if partitions > 0 => d.repartition(partitions, col("dst"))
        case d => d.repartition(col("dst"))
      })
      .localCheckpoint()
    val init = sym.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint()
    Iterate.untilStable(init, maxIter, "connected components") { labels =>
      sym
        .join(labels.select(col("node").as("__n"), col("component")),
          col("dst") === col("__n"))
        .groupBy(col("src"))
        .agg(min(col("component")).as("component"),
          // the self-loop row is the unique dst = src row: its joined
          // label IS this node's previous label
          min(when(col("dst") === col("src"), col("component"))).as("__prev"))
        .select(col("src").as("node"), col("component"),
          (col("component") =!= col("__prev")).as(Iterate.Changed))
    }
  }
}
