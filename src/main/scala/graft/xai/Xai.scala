package graft.xai

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.eval.Metrics
import graft.functions.Det
import graft.ml.FittedDetector
import graft.ops.Iterate

/** XAI capability layer (SURVEY §2.11). The reference's SHAP/LIME/DiCE
  * libraries have no JVM ports; we deliver the *capabilities* —
  * global feature attribution, per-instance counterfactuals, NDCG scoring
  * against injected ground truth — with Spark-native algorithms:
  *
  *  - X2 → [[permutationImportance]]: per-feature column scramble → metric
  *    drop. Each permutation is two window sorts + one scoring pass, fully
  *    distributed; F features ⇒ F passes over the data (embarrassingly
  *    parallel across features on a real cluster).
  *  - X4 → [[nunCounterfactuals]]: DiCE-kdtree equivalent — for each
  *    anomalous instance, the k nearest normal rows (scaled L2 distance),
  *    importance = how often each feature differs materially. A broadcast
  *    join + window top-k, no driver loops.
  *  - X5 → [[ndcgVsInjected]]: rank features by importance, relevance = 1
  *    for actually-injected columns (A8/J3).
  */
object Xai {

  /** Deterministically permute `feature` across rows: rows are ranked twice
    * (by stable id, by keyed-LCG of id) and the value moves from one rank to
    * the other — a partition-invariant derangement-ish shuffle. Both ranks
    * use [[graft.ops.Ranks]]' range-partitioned two-pass rank, so no row
    * funnels through a single-task global window. */
  def permuteColumn(df: DataFrame, idCol: String, feature: String,
                    seed: Long): DataFrame =
    permuteRanked(withIdRank(df, idCol), idCol, feature, seed)

  /** `df` + `__idrn` (rank by id) — the donor side of [[permuteColumn]]'s
    * shuffle. The id rank is feature-independent, so callers permuting MANY
    * features ([[permutationImportance]]) hoist this one rank (plus a
    * `localCheckpoint` to materialize it) out of the loop: F+1 two-pass
    * ranks instead of 2F. */
  def withIdRank(df: DataFrame, idCol: String): DataFrame =
    graft.ops.Ranks.globalRowNumber(df, Seq(col(idCol)), "__idrn")

  private def permuteRanked(ranked: DataFrame, idCol: String, feature: String,
                            seed: Long): DataFrame = {
    val donor = ranked.select(col(feature).as("__perm_v"),
      col("__idrn").as("__rn"))
    graft.ops.Ranks.globalRowNumber(ranked.drop("__idrn"),
        Seq(Det.frac(col(idCol), seed), col(idCol)), "__rn")
      .join(donor, "__rn")
      .drop(feature, "__rn")
      .withColumnRenamed("__perm_v", feature)
  }

  /** X2: global importance of each feature = accuracy drop when that feature
    * is scrambled (labelCol = ground truth 0/1). Output: (feature,
    * importance) sorted desc. */
  def permutationImportance(df: DataFrame, fitted: FittedDetector,
                            features: Seq[String], idCol: String = "id",
                            labelCol: String = "label",
                            seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def accuracy(scored: DataFrame): Double =
      Metrics.confusion(scored, col("is_anomaly"), col(labelCol) === 1)
        .head.getAs[Double]("accuracy")
    val base = accuracy(fitted.transform(df))
    // donor rank is feature-independent: compute + materialize it ONCE
    val ranked = withIdRank(df, idCol).localCheckpoint()
    val rows = features.zipWithIndex.map { case (f, i) =>
      val permuted = permuteRanked(ranked, idCol, f, seed + i)
      (f, base - accuracy(fitted.transform(permuted)))
    }
    rows.toDF("feature", "importance").orderBy($"importance".desc, $"feature")
  }

  /** X4: for each row of `instances` (predicted anomalous), the k nearest
    * rows of `normals` by L2 over min-max-scaled features; returns one row
    * per (instance, neighbor) with the per-feature deltas, plus
    * `changed_<f>` flags (|scaled delta| > tau).
    *
    * The normals set is CAPPED at `maxBackground` rows (deterministic
    * keyed-LCG sample, partition-invariant) before it becomes the broadcast
    * build side — at 100 TB "all predicted-normal rows" is not
    * broadcastable. Mirrors the reference's background cap
    * (`Backend/XAI_methods/xai_runner.py:20`, `MAX_BG_SAMPLES = 250000`). */
  def nunCounterfactuals(instances: DataFrame, normals0: DataFrame,
                         features: Seq[String], idCol: String = "id",
                         k: Int = 3, tau: Double = 0.1,
                         maxBackground: Int = 250000,
                         seed: Long = 42L): DataFrame = {
    // deterministic background sample: TakeOrdered on the keyed LCG — a
    // bounded distributed top-k, never a full sort
    val normals = normals0
      .orderBy(Det.frac(col(idCol), seed), col(idCol)).limit(maxBackground)
    // global min/max for scale-invariant distance (one tiny agg, broadcast)
    val aggCols = features.flatMap(f => Seq(min(col(f)), max(col(f))))
    val statsRow = normals.unionByName(instances.select(normals.columns.map(col): _*))
      .agg(aggCols.head, aggCols.tail: _*).head
    val scaleOf = features.zipWithIndex.map { case (f, i) =>
      val lo = statsRow.getDouble(2 * i); val hi = statsRow.getDouble(2 * i + 1)
      f -> (if (hi > lo) hi - lo else 1.0)
    }.toMap
    def scaled(side: String, f: String): Column =
      col(s"$side.$f") / lit(scaleOf(f))
    val dist2 = features.map(f =>
      (scaled("a", f) - scaled("n", f)) * (scaled("a", f) - scaled("n", f)))
      .reduce(_ + _)
    val joined = instances.as("a")
      .join(broadcast(normals.as("n")), expr("1=1"))
      .withColumn("__d2", dist2)
    val w = Window.partitionBy(col(s"a.$idCol"))
      .orderBy(col("__d2"), col(s"n.$idCol"))
    val base = joined.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
    val deltaCols = features.flatMap { f =>
      Seq((col(s"n.$f") - col(s"a.$f")).as(s"delta_$f"),
        (abs(scaled("n", f) - scaled("a", f)) > tau).as(s"changed_$f"))
    }
    base.select(Seq(col(s"a.$idCol").as("instance_id"),
      col(s"n.$idCol").as("cf_id"), col("__rnk").as("rank"),
      sqrt(col("__d2")).as("distance")) ++ deltaCols: _*)
  }

  /** X2 over sequences: per-(feature, lag) attribution on a flattened-window
    * frame (`<f>_tm<j>` columns from
    * [[graft.window.Sequencer.flattenWindows]]) by OCCLUSION — replace one
    * cell with its background mean, re-score, and average the |score drop|
    * over the instances being explained. This is the Spark form of the
    * reference's per-timestep |SHAP| matrix (`Backend/XAI_methods/methods/
    * ShapExplainer.py:263-340`, shape (L, F)): SHAP measures each cell's
    * contribution to the model SCORE against a background baseline, and
    * mean-occlusion is its standard model-agnostic single-coalition
    * estimate. (A metric-drop permutation variant was tried and rejected:
    * scrambling ANY cell of an autocorrelated feature wrecks the rolling
    * statistics of every window, so classification-metric deltas confound
    * the causal cell with global false-positive noise.)
    *
    * The baseline is LOCAL: each cell is replaced by the mean of the other
    * L−1 cells of the same feature in the same window (leave-one-out), not
    * by a global feature mean — for a drifting/seasonal series the global
    * mean differs from the window's local level, so substituting it
    * manufactures an artificial anomaly and inflates attribution of smooth
    * features. The LOO mean removes exactly the cell's own deviation from
    * its window context and nothing else.
    *
    * Scale shape: one union branch per occluded cell over the
    * (checkpointed) instances frame, scored in one distributed pass — no
    * per-cell jobs, no joins; plan size stays linear in F·L and is
    * chunk-bounded (see [[perInstanceAttribution]]).
    * `score` appends `anomaly_score` to a flat frame —
    * e.g. [[graft.ml.FittedWindowZScore.transformFlat]]; `instances` is the
    * (already filtered) set of rows to explain. */
  def perTimestepAttribution(instances: DataFrame,
                             score: DataFrame => DataFrame,
                             features: Seq[String], L: Int): DataFrame = {
    val spark = instances.sparkSession
    import spark.implicits._
    perTimestepImportance(instances, score, features, L)
      .orderBy($"importance".desc, $"feature", $"lag")
  }

  /** [[perTimestepAttribution]] without its sort: one (feature, lag,
    * importance) row per cell, in no particular order — the F·L rows a
    * caller collects for [[aggregateTimestepsHost]]. */
  def perTimestepImportance(instances: DataFrame,
                            score: DataFrame => DataFrame,
                            features: Seq[String], L: Int): DataFrame =
    perInstanceAttribution(instances, score, features, L)
      .groupBy(col("feature"), col("lag"))
      .agg(avg(col("attribution")).as("importance"))

  /** The per-INSTANCE form of [[perTimestepAttribution]] — one row per
    * (instance, feature, lag) with that cell's |score drop|, i.e. the
    * reference's full per-instance SHAP matrix
    * (`Backend/XAI_methods/xai_runner.py:197-230` extracts exactly this
    * shape per explained instance before aggregating). Cell-tagged union
    * branches land directly in long format — no joins, no per-cell jobs;
    * output is (n_instances · F · L) rows, distributed. */
  def perInstanceAttribution(instances: DataFrame,
                             score: DataFrame => DataFrame,
                             features: Seq[String], L: Int,
                             idCol: String = "id",
                             cellsPerPass: Int = 256): DataFrame = {
    val cells = for (f <- features; j <- 0 until L) yield (f, j)

    // materialize the base scores once: every occlusion branch re-reads
    // this frame (instances are few by the X1 contract, so the checkpoint
    // is tiny)
    val base0 = score(instances)
      .withColumnRenamed("anomaly_score", "__base").drop("is_anomaly")
    val base = if (cells.size > 1) base0.localCheckpoint() else base0

    // One UNION BRANCH per occluded cell — each branch is a single cheap
    // projection (replace one cell with its LOO mean, tag the cell) — and
    // ONE score() application over the union, so every occluded score is
    // computed in the same distributed pass and lands already in long
    // format (no stack/unpivot). An earlier form chained F·L
    // score-projections on one frame: DataFrame ops analyze EAGERLY, so
    // step k re-analyzed k accumulated ~F·L·L-node occluded-score
    // expressions — quadratic in F·L, and tens of MINUTES of pure
    // Catalyst time at F·L ≳ 100. The union form is linear: each branch
    // is optimized once (the optimizer pushes the score through the
    // union), bounded further by chunking at `cellsPerPass` cells or a
    // ~2·10⁵ expression-node budget per pass, whichever is smaller.
    val perCellNodes = (features.size * L * L).max(1)
    val pass = math.max(4, math.min(cellsPerPass, 200000 / perCellNodes))
    val idSel =
      if (base.columns.contains(idCol)) col(idCol).as("instance_id")
      else lit(null).cast("long").as("instance_id")
    val parts = cells.grouped(pass).map { chunk =>
      val branches = chunk.map { case (f, j) =>
        val cell = s"${f}_tm$j"
        val looMean = (0 until L).filter(_ != j)
          .map(o => col(s"${f}_tm$o")).reduce(_ + _) / lit((L - 1).toDouble)
        base.withColumn(cell, looMean)
          .withColumn("__occf", lit(f))
          .withColumn("__occlag", lit(j))
      }
      score(branches.reduce(_ unionByName _))
        .select(idSel, col("__base").as("base_score"),
          col("__occf").as("feature"), col("__occlag").as("lag"),
          abs(col("__base") - col("anomaly_score")).as("attribution"))
    }.toSeq
    parts.reduce(_ unionByName _)
  }

  /** Aggregate a per-(feature, lag) importance table to base features by
    * summing |importance| across lags — the reference's per-timestep →
    * base-feature reduction (`Backend/XAI_methods/xai_runner.py:219-224`
    * sums |SHAP| over timesteps). Output matches
    * [[permutationImportance]]'s (feature, importance) shape, so it feeds
    * A10 aggregation and [[ndcgVsInjected]] unchanged. */
  def aggregateTimesteps(perTimestep: DataFrame): DataFrame = {
    val spark = perTimestep.sparkSession
    import spark.implicits._
    perTimestep.groupBy($"feature")
      .agg(sum(abs($"importance")).as("importance"))
      .orderBy($"importance".desc, $"feature")
  }

  /** [[aggregateTimesteps]] on collected (feature, lag, importance) rows:
    * per feature, |importance| summed as a left fold from 0.0 in ascending
    * lag order, so the result is a function of the rows alone (Spark's sum
    * associates by partition). F·L rows are model-size state, like the
    * (feature, importance) rows every XAI method collects. Output is
    * ordered by importance desc, then feature. */
  def aggregateTimestepsHost(perTimestep: Seq[(String, Int, Double)])
      : Seq[(String, Double)] =
    perTimestep.groupBy(_._1).toSeq.map { case (f, cells) =>
      f -> cells.sortBy(_._2).foldLeft(0.0)((acc, c) => acc + math.abs(c._3))
    }.sortBy { case (f, v) => (-v, f) }

  /** X4 "random" mode — DiCE's diverse random counterfactuals
    * (`Backend/XAI_methods/methods/DiceExplainer.py:39` `dice_method=
    * 'random'`), next to [[nunCounterfactuals]] (the kdtree mode). Per
    * instance: `nCandidates` deterministic random perturbations (each
    * feature re-drawn uniformly inside its observed [min,max] with
    * probability `pVary`, keyed LCG so the draw is partition-invariant),
    * scored by `score`; candidates whose prediction flips to normal are
    * ranked by scaled-L2 proximity, and the k returned per instance are
    * DIVERSE — at most one per changed-feature signature, nearest first.
    *
    * Scale shape: explode ×nCandidates → per-row expressions → score →
    * two windows partitioned by instance. No cross join, no driver loop.
    * Output matches [[nunCounterfactuals]] (`delta_<f>`/`changed_<f>`), so
    * [[counterfactualImportance]] consumes either mode. */
  def randomCounterfactuals(instances: DataFrame, background: DataFrame,
                            score: DataFrame => DataFrame,
                            features: Seq[String], idCol: String = "id",
                            k: Int = 3, nCandidates: Int = 50,
                            pVary: Double = 0.3, tau: Double = 0.1,
                            seed: Long = 42L): DataFrame = {
    // observed feature ranges (tiny agg, driver-side constants in the plan)
    val aggCols = features.flatMap(f => Seq(min(col(f)), max(col(f))))
    val statsRow = background.agg(aggCols.head, aggCols.tail: _*).head
    val range = features.zipWithIndex.map { case (f, i) =>
      val lo = statsRow.getDouble(2 * i); val hi = statsRow.getDouble(2 * i + 1)
      f -> (lo, if (hi > lo) hi - lo else 1.0)
    }.toMap
    val F = features.size

    val exploded = instances
      .withColumn("__trial", explode(sequence(lit(1), lit(nCandidates))))
    val perturbed = features.zipWithIndex.foldLeft(exploded) {
      case (d, (f, fi)) =>
        // unique key per (row, trial, feature) ⇒ independent draws
        val key = col(idCol) * lit(nCandidates.toLong * F) +
          (col("__trial") - 1) * lit(F.toLong) + lit(fi.toLong)
        val (lo, span) = range(f)
        d.withColumn(s"__orig_$f", col(f))
          .withColumn(f,
            when(Det.frac(key, seed) < pVary,
              lit(lo) + Det.frac(key, seed + 7919) * lit(span))
              .otherwise(col(f)))
    }

    val flipped = score(perturbed).filter(!col("is_anomaly"))
    val dist2 = features.map { f =>
      val d = (col(f) - col(s"__orig_$f")) / lit(range(f)._2)
      d * d
    }.reduce(_ + _)
    val sigParts = features.map(f =>
      (abs((col(f) - col(s"__orig_$f")) / lit(range(f)._2)) > tau).cast("int"))
    val withDist = flipped.withColumn("__d2", dist2)
      .withColumn("__sig", concat_ws(",", sigParts: _*))
    // diversity: nearest candidate per distinct change-signature, then top-k
    val perSig = Window.partitionBy(col(idCol), col("__sig"))
      .orderBy(col("__d2"), col("__trial"))
    val perInst = Window.partitionBy(col(idCol))
      .orderBy(col("__d2"), col("__trial"))
    val picked = withDist
      .withColumn("__sr", row_number().over(perSig)).filter(col("__sr") === 1)
      .withColumn("__rnk", row_number().over(perInst)).filter(col("__rnk") <= k)
    val deltaCols = features.flatMap { f =>
      Seq((col(f) - col(s"__orig_$f")).as(s"delta_$f"),
        (abs((col(f) - col(s"__orig_$f")) / lit(range(f)._2)) > tau)
          .as(s"changed_$f"))
    }
    picked.select(Seq(col(idCol).as("instance_id"),
      col("__trial").cast("long").as("cf_id"), col("__rnk").as("rank"),
      sqrt(col("__d2")).as("distance")) ++ deltaCols: _*)
  }

  /** X4 "genetic" mode — DiCE's evolutionary counterfactual search
    * (`Backend/XAI_methods/methods/DiceExplainer.py:39` `dice_method=
    * 'genetic'`): start from the random mode's population, then refine over
    * `generations` with two deterministic mutations per surviving (flipped)
    * candidate:
    *
    *  - PROXIMITY: move every perturbed feature halfway back toward the
    *    original (a CF that still flips after the move strictly dominates
    *    its parent on distance);
    *  - SPARSITY: reset the least-changed perturbed feature to its original
    *    value (fewer changed features — DiCE's sparsity objective).
    *
    * Children that no longer flip are discarded at the next scoring pass
    * (validity), so fitness = (flips, fewer changes, smaller distance) —
    * the same objectives dice_ml's genetic loss encodes. All candidates of
    * all instances evolve together as one DataFrame per generation
    * ([[Iterate.rounds]] checkpoints each one, truncating the growing
    * lineage); the driver loop only stages G plans. Output shape matches
    * [[nunCounterfactuals]]. */
  def geneticCounterfactuals(instances: DataFrame, background: DataFrame,
                             score: DataFrame => DataFrame,
                             features: Seq[String], idCol: String = "id",
                             k: Int = 3, popSize: Int = 50,
                             generations: Int = 3, pVary: Double = 0.5,
                             tau: Double = 0.1, seed: Long = 42L): DataFrame = {
    val aggCols = features.flatMap(f => Seq(min(col(f)), max(col(f))))
    val statsRow = background.agg(aggCols.head, aggCols.tail: _*).head
    val span = features.zipWithIndex.map { case (f, i) =>
      val lo = statsRow.getDouble(2 * i); val hi = statsRow.getDouble(2 * i + 1)
      f -> (if (hi > lo) hi - lo else 1.0)
    }.toMap
    val F = features.size

    // generation 0 = the random mode's perturbation population
    val exploded = instances
      .withColumn("__trial", explode(sequence(lit(1), lit(popSize))))
    val pop0 = features.zipWithIndex.foldLeft(exploded) { case (d, (f, fi)) =>
      val key = col(idCol) * lit(popSize.toLong * F) +
        (col("__trial") - 1) * lit(F.toLong) + lit(fi.toLong)
      val (lo, hi) = (statsRow.getDouble(2 * features.indexOf(f)),
        statsRow.getDouble(2 * features.indexOf(f) + 1))
      d.withColumn(s"__orig_$f", col(f))
        .withColumn(f,
          when(Det.frac(key, seed) < pVary,
            lit(lo) + Det.frac(key, seed + 7919) * lit(math.max(hi - lo, 1e-12)))
            .otherwise(col(f)))
    }

    def scaledAbs(f: String): Column =
      abs((col(f) - col(s"__orig_$f")) / lit(span(f)))
    val pop = Iterate.rounds(pop0, generations) { cur =>
      val alive = score(cur).filter(!col("is_anomaly"))
        .drop("is_anomaly", "anomaly_score")
      // PROXIMITY child: halve every delta
      val prox = features.foldLeft(alive)((d, f) =>
        d.withColumn(f, col(s"__orig_$f") + (col(f) - col(s"__orig_$f")) / 2))
      // SPARSITY child: reset the feature with the smallest nonzero change
      val minChange = least(features.map(f =>
        when(scaledAbs(f) > 1e-12, scaledAbs(f))): _*)
      val sparse = features.foldLeft(alive)((d, f) =>
        d.withColumn(f,
          when(scaledAbs(f) <= coalesce(minChange, lit(-1.0)) + lit(1e-15),
            col(s"__orig_$f")).otherwise(col(f))))
      alive.unionByName(prox).unionByName(sparse)
    }

    val fit = score(pop).filter(!col("is_anomaly"))
    val dist2 = features.map { f =>
      val d = (col(f) - col(s"__orig_$f")) / lit(span(f)); d * d
    }.reduce(_ + _)
    val nChanged = features.map(f => (scaledAbs(f) > tau).cast("int"))
      .reduce(_ + _)
    val sigParts = features.map(f => (scaledAbs(f) > tau).cast("int"))
    val withFit = fit.withColumn("__d2", dist2)
      .withColumn("__nc", nChanged)
      .withColumn("__sig", concat_ws(",", sigParts: _*))
    val perSig = Window.partitionBy(col(idCol), col("__sig"))
      .orderBy(col("__nc"), col("__d2"), col("__trial"))
    val perInst = Window.partitionBy(col(idCol))
      .orderBy(col("__nc"), col("__d2"), col("__trial"))
    val picked = withFit
      .withColumn("__sr", row_number().over(perSig)).filter(col("__sr") === 1)
      .withColumn("__rnk", row_number().over(perInst)).filter(col("__rnk") <= k)
    val deltaCols = features.flatMap { f =>
      Seq((col(f) - col(s"__orig_$f")).as(s"delta_$f"),
        (scaledAbs(f) > tau).as(s"changed_$f"))
    }
    picked.select(Seq(col(idCol).as("instance_id"),
      col("__trial").cast("long").as("cf_id"), col("__rnk").as("rank"),
      sqrt(col("__d2")).as("distance")) ++ deltaCols: _*)
  }

  /** DiCE-style importance from counterfactuals: per feature, the fraction
    * of counterfactual rows that changed it (A10). */
  def counterfactualImportance(cfs: DataFrame, features: Seq[String]): DataFrame = {
    val spark = cfs.sparkSession
    import spark.implicits._
    val aggs = features.map(f =>
      avg(col(s"changed_$f").cast("double")).as(f))
    val row = cfs.agg(aggs.head, aggs.tail: _*).head
    features.zipWithIndex.map { case (f, i) => (f, row.getDouble(i)) }
      .toDF("feature", "importance").orderBy($"importance".desc, $"feature")
  }

  /** X5: NDCG@k of an importance table against the set of actually-injected
    * columns (relevance 1). The table has one row per feature: it is
    * collected and scored by the rows overload. */
  def ndcgVsInjected(importance: DataFrame, injectedColumns: Set[String],
                     k: Int): Double =
    ndcgVsInjected(importance.select("feature", "importance").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq, injectedColumns, k)

  /** X5 on collected (feature, importance) rows: [[Metrics.ndcgAtKHost]],
    * ranked by importance then feature, relevance 1 for injected columns. */
  def ndcgVsInjected(importance: Seq[(String, Double)],
                     injectedColumns: Set[String], k: Int): Double =
    Metrics.ndcgAtKHost(importance.map { case (f, v) =>
      (f, v, if (injectedColumns(f)) 1.0 else 0.0) }, k)
}
