package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Distributed PageRank with integer fixed-point arithmetic.
  *
  * Web-scale data-curation pipelines rank domains by link centrality
  * (Common Crawl publishes harmonic/PageRank centrality per domain and
  * quality-filter pipelines consume it); this operator is that primitive
  * over an arbitrary edge list.
  *
  * Numerics: ranks are maintained as LONG fixed-point values scaled by
  * `scale` (default 1e12). Every step is integer arithmetic —
  * `pr div outdeg` for contributions, `(damp*sum) div 100` for damping —
  * so the result is BIT-IDENTICAL regardless of partitioning, join order,
  * or engine (a float PageRank differs in the last ulps per run; the
  * integer form is exactly reproducible in DuckDB with `//`, which is how
  * the oracle gates it). Truncation loss per step is < outdeg ulps of
  * 1e-12 — irrelevant for ranking.
  *
  * Scale shape (100 TB): per iteration ONE co-partitioned join
  * (edges ⋈ ranks on src — the edge frame is hash-partitioned on src once,
  * checkpointed, and every iteration reuses that exchange) and ONE
  * aggregation shuffle (groupBy dst). Ranks frames are checkpointed per
  * iteration to truncate the growing lineage ([[Iterate.rounds]]).
  * Dangling mass is dropped (nodes with out-degree 0 simply don't
  * contribute), the standard simplification when the edge list is made
  * symmetric by the caller.
  */
object PageRank {

  /** @param edges  two columns `src`, `dst` (any orderable type); parallel
    *               edges are meaningful (they weight the walk)
    * @param iters  fixed iteration count (the oracle unrolls it)
    * @param scale  fixed-point scale; ranks sum to ≈ scale
    * @param damp   damping numerator out of 100 (85 = the classic 0.85)
    * @return one row per node with out-degree ≥ 1: (node, pr: Long)
    */
  def ranks(edges: DataFrame, iters: Int = 3, scale: Long = 1000000000000L,
            damp: Long = 85L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // Partition the edge list on the join key ONCE; localCheckpoint both
    // materializes the (possibly expensive) edge derivation and lets every
    // iteration's join reuse this exchange instead of re-shuffling.
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint()
    // node count rides the checkpoint-materialization job via observe
    // (optimization r13, guide §1.5 — same pattern as Iterate.untilStable):
    // the old separate deg.count() was one extra Spark job per query.
    val obs = Observation()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .observe(obs, count(lit(1)).as("n_nodes"))
      .localCheckpoint()
    val n = obs.get("n_nodes").asInstanceOf[Long] // nodes = distinct sources
      // (symmetric edge lists make this the full node set)
    require(n > 0, "PageRank needs a non-empty edge list")
    val base = scale / n                  // integer teleport share
    val teleport = (100L - damp) * base / 100L
    val init = deg.select(col("src").as("node"), lit(base).as("pr"))
      .localCheckpoint()
    Iterate.rounds(init, iters) { pr =>
      // deg is one row per distinct src — dimension-sized next to the edge
      // list at any scale, but NOT guaranteed broadcastable at 10^9 nodes:
      // no broadcast hint, Catalyst/AQE decide (deg is already
      // hash-partitioned on the join key, so the fallback sort-merge join
      // reuses the exchange)
      e.join(pr, e("src") === pr("node"))
        .join(deg, "src")
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("insum"))
        .select(col("dst").as("node"),
          (lit(teleport) + expr(s"($damp * insum) div 100")).as("pr"))
    }
  }
}
