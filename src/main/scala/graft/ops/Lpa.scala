package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round synchronous label propagation (Raghavan et al. 2007) — the
  * near-linear community detector curation pipelines run beside
  * [[PageRank]] / [[KCore]]: densely linked node groups converge onto one
  * label, and cross-community edges are too few to flip them.
  *
  * Determinism contract (the [[Bfs]]/[[KCore]] recipe applied to LPA,
  * whose textbook form is randomized): updates are SYNCHRONOUS (round r
  * reads only round r−1 labels, [[Iterate.rounds]]), every node starts
  * labeled with itself, and the update is the neighbor label with the
  * highest count, ties broken by SMALLEST label — a pure function of the
  * round r−1 state, so a fixed round count is exactly reproducible across
  * partitionings and engines, and the oracle unrolls the identical rounds
  * in SQL.
  *
  * Scale shape: per round, one co-partitioned join of the once-shuffled
  * checkpointed edge frame against the (node-sized, checkpointed) label
  * frame, one (node, label) count aggregation, and one per-node argmax
  * aggregation (min over (−count, label) structs — both aggs map-side
  * combine). Nothing unpartitioned, nothing collected, nothing quadratic.
  */
object Lpa {

  /** @param edges two columns `src`, `dst` — both directions present for an
    *              undirected graph
    * @param rounds fixed synchronous rounds
    * @return (node, lbl) — the round-`rounds` label state. */
  def propagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds>=1; got $rounds")
    val e0 = edges.select(col("dst"), col("src"))
      .repartition(col("dst")).localCheckpoint()
    val init = e0.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    // argmax via min(struct(-count, lbl)) instead of a row_number window
    // (optimization r12, guide §2.4): the same (count desc, label asc)
    // rule — struct comparison is lexicographic and type-agnostic in the
    // label field — but an aggregation does partial map-side combine and
    // skips the window's per-partition sort.
    Iterate.rounds(init, rounds) { labels =>
      e0
        .join(labels.select(col("node").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("lbl"))).as("m"))
        .select(col("node"), col("m.lbl").as("lbl"))
    }
  }
}
