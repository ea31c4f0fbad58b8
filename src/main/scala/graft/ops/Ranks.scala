package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Scale-safe global ordering primitives.
  *
  * A bare `Window.orderBy(...)` (no partitionBy) funnels every row through
  * ONE task — correct, but the cluster idles while a single thread sorts
  * 100 TB. The equivalent distributed shape is a two-pass rank:
  *
  *   1. assign each row an order-aligned bucket: equi-depth boundaries on
  *      the leading order key (one in-plan `percentile_approx` aggregate,
  *      broadcast once), bucket = number of boundaries below the row's
  *      key — a PURE FUNCTION of row values and the one boundary set, so
  *      every consumer of the frame computes the identical bucket for a
  *      row no matter how the data is partitioned;
  *   2. rank locally within each bucket (`row_number` partitioned by
  *      bucket — balanced, parallel, one hash shuffle);
  *   3. add the cumulative row count of all lower buckets — a ≤`buckets`-row
  *      frame joined back by broadcast.
  *
  * An earlier variant derived the bucket from `spark_partition_id()` after
  * `repartitionByRange` — WRONG under reuse: each consumer branch gets its
  * own range exchange, each samples its own boundaries, and the offsets
  * branch can count under different boundaries than the rank branch
  * (observed as duplicated/shifted ranks under `coalesce(1)` writes).
  * Value-derived buckets over ONE broadcast boundary set cannot disagree,
  * and they also shuffle the data once instead of twice.
  *
  * Determinism contract: `orderCols` must be ascending and form a total
  * order (append a tiebreak); rows tied on every order column must be fully
  * identical (interchangeable). Building a ranked frame runs no Spark job:
  * the boundaries are computed inside the plan, once per execution.
  *
  * Call sites: 47 in 15 files of `src/main`, most in the query packs. A
  * frame that already carries its order's row number needs none:
  * `jobs.BatchJob` and `z1_run_batch_e2e` pass `Ingest.normalize`'s
  * `id + 1` to `Sequencer`'s given-rank path, so their split, windowed
  * detector and per-timestep XAI windows run no rank beyond normalize's.
  *
  * Skew: rows tied on the LEADING key always share a bucket (correctness
  * requires it), so a 100 TB frame whose leading key has massive tie runs
  * should rank on a finer leading key (e.g. add a coarse time bucket).
  */
object Ranks {

  /** Append a global 1-based `row_number() OVER (ORDER BY orderCols)` as
    * `out` (LongType) without a single-task global window. */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column], out: String,
                      numPartitions: Int = 0): DataFrame =
    ranked(df, orderCols, out, total = None, numPartitions)

  /** [[globalRowNumber]] that also appends the total row count as
    * `totalOut` — callers needing `N` (e.g. ratio splits) avoid a second
    * scan: the count falls out of the per-bucket offsets frame. */
  def globalRowNumberWithTotal(df: DataFrame, orderCols: Seq[Column],
                               out: String, totalOut: String,
                               numPartitions: Int = 0): DataFrame =
    ranked(df, orderCols, out, total = Some(totalOut), numPartitions)

  /** Order-preserving numeric proxy of the leading key, used ONLY for
    * bucketing (within-bucket ordering uses the real `orderCols`). Strings
    * map via their first 7 UTF-8 bytes (hex → base-10 → double): a monotone
    * non-strict mapping, so prefix collisions merely share a bucket — exact
    * ranks are unaffected, only balance degrades. Unsupported leading types
    * FAIL FAST: the old unconditional `cast("double")` turned a string key
    * into an all-null bucket column — i.e. a silent single-task rank, the
    * exact degradation this primitive exists to prevent. */
  private def bucketKey(head: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType   => head.cast("double")
      case BooleanType      => head.cast("int").cast("double")
      case TimestampType    => head.cast("double")
      case TimestampNTZType => head.cast("timestamp").cast("double")
      case DateType         => head.cast("timestamp").cast("double")
      case StringType       =>
        // rpad both pads short hex AND truncates past 14 digits (7 bytes);
        // 14 hex digits < 2^56, and the double rounding is monotone
        conv(rpad(hex(encode(head, "UTF-8")), 14, "0"), 16, 10).cast("double")
      case other => throw new IllegalArgumentException(
        s"Ranks: leading order key has unsupported type $other — " +
          "use a numeric/timestamp/date/boolean/string leading key " +
          "(or prepend a coarse numeric bucket)")
    }
  }

  /** Shared pass 1 of every global-order primitive here: append the
    * value-derived order-aligned bucket `__gr_b` (leading-key type probe,
    * equi-depth internal boundaries, monotone bucket expression).
    * Deterministic given the data; any monotone bucketing yields exact
    * ranks/sums — boundary quality only affects balance. Null keys fall in
    * bucket 0 and NaN keys above every boundary, matching their place in
    * the window order. ONE implementation on purpose: rank and cumsum
    * bucketing must never desynchronize.
    *
    * The boundaries are an in-plan subplan, not a driver-side probe: a
    * one-row `percentile_approx` aggregate over the non-null, non-NaN keys
    * (accuracy 1000, i.e. `approxQuantile`'s 0.001 relative error),
    * broadcast-crossed onto the rows. Building the frame runs no Spark
    * job. Every consumer branch (the rank window and the offsets
    * aggregate) reads the SAME broadcast: the final plan holds one
    * boundary `BroadcastExchange` and the other branch reads it as a
    * `ReusedExchange` (pinned in `RanksSpec`). Two independently computed
    * boundary sets could disagree — the `repartitionByRange` bug above.
    *
    * NOT checkpointed on purpose (optimization r12, measured): the input
    * lineage runs in the boundary aggregate and in the rank and offsets
    * branches, but the aggregate and the offsets branch are COLUMN-PRUNED
    * by Catalyst (key/value columns only), and execution reuses any
    * shuffle their pruned lineages share — an unconditional
    * localCheckpoint here materializes every column (fat gram/token arrays
    * included) and measured 10–30× SLOWER construction on the dedup family
    * (d13–d16: 50–108 s vs ≤ 4 s). Callers whose input lineage is
    * expensive and narrow checkpoint at the call site instead. */
  private def bucketed(df: DataFrame, orderCols: Seq[Column],
                       numPartitions: Int): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val leadType = df.select(orderCols.head.as("__gr_probe")).schema.head.dataType
    val keyed = df.withColumn("__gr_key", bucketKey(orderCols.head, leadType))
    val key = col("__gr_key")
    if (n <= 1) keyed.withColumn("__gr_b", lit(0)).drop("__gr_key")
    else {
      // NaN keys are nulled INSIDE the aggregate (which skips nulls), not
      // filtered: a Filter would be pushed into the input lineage and stop
      // the boundary subplan from reusing its shuffles. All-null input (or
      // no rows) → no boundaries → bucket 0.
      val bounds = keyed.agg(coalesce(array_distinct(percentile_approx(
          when(!isnan(key), key), lit((1 until n).map(_.toDouble / n).toArray),
          lit(1000))), lit(Array.empty[Double])).as("__gr_bounds"))
      keyed.crossJoin(broadcast(bounds))
        .withColumn("__gr_b", size(filter(col("__gr_bounds"), b => key > b)))
        .drop("__gr_key", "__gr_bounds")
    }
  }

  /** Append the INCLUSIVE prefix sum of `value` over the global
    * `orderCols` order as `out` — the same two-pass shape as the rank:
    * value-derived buckets, per-bucket window cumsum, plus broadcast
    * per-bucket offsets. Partition-invariance holds when `value` sums
    * exactly (integers / integer cents — the engine's money contract);
    * float values would re-associate across bucket boundaries. */
  def globalCumSum(df: DataFrame, orderCols: Seq[Column], value: Column,
                   out: String, numPartitions: Int = 0): DataFrame =
    globalCumSums(df, orderCols, Seq((value, out)), numPartitions)

  /** [[globalCumSum]] for SEVERAL values over the SAME global order in ONE
    * pass (optimization r12): one boundary subplan, one shuffle, one Window
    * operator and one broadcast offsets join compute any number of prefix
    * sums — callers that chained `globalCumSum` calls paid all of that per
    * value. Exactness is unchanged: each sum is the identical integer
    * arithmetic over the identical window order. */
  def globalCumSums(df: DataFrame, orderCols: Seq[Column],
                    values: Seq[(Column, String)],
                    numPartitions: Int = 0): DataFrame = {
    require(values.nonEmpty, "globalCumSums needs at least one (value, out)")
    val vNames = values.indices.map(i => s"__gr_v$i")
    val withV = values.zip(vNames).foldLeft(df) {
      case (acc, ((v, _), nm)) => acc.withColumn(nm, v)
    }
    val parted = bucketed(withV, orderCols, numPartitions)

    val offWin = Window.orderBy(col("__gr_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bAggs = vNames.map(nm => sum(col(nm)).as(s"__gr_bs_$nm"))
    val offsets = parted.groupBy(col("__gr_b"))
      .agg(bAggs.head, bAggs.tail: _*)
      .select((col("__gr_b").as("__gr_b2") +: vNames.map(nm =>
        coalesce(sum(col(s"__gr_bs_$nm")).over(offWin), lit(0L))
          .as(s"__gr_off_$nm"))): _*)

    val localWin = Window.partitionBy(col("__gr_b")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    values.zip(vNames).foldLeft(
      parted.join(broadcast(offsets), col("__gr_b") === col("__gr_b2"))) {
        case (acc, ((_, out), nm)) =>
          acc.withColumn(out, col(s"__gr_off_$nm") + sum(col(nm)).over(localWin))
      }
      .drop(vNames: _*)
      .drop(vNames.map(nm => s"__gr_off_$nm"): _*)
      .drop("__gr_b", "__gr_b2")
  }

  private def ranked(df: DataFrame, orderCols: Seq[Column], out: String,
                     total: Option[String], numPartitions: Int): DataFrame = {
    val parted = bucketed(df, orderCols, numPartitions)

    // tiny frame: one row per bucket → exclusive cumulative offsets (the
    // global window here runs over ≤ n rows, not the data)
    val offWin = Window.orderBy(col("__gr_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val allWin = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets0 = parted.groupBy(col("__gr_b"))
      .agg(count(lit(1)).as("__gr_cnt"))
      .withColumn("__gr_off", coalesce(sum(col("__gr_cnt")).over(offWin), lit(0L)))
    val offsets = total
      .map(tc => offsets0.withColumn(tc, sum(col("__gr_cnt")).over(allWin)))
      .getOrElse(offsets0)
      .withColumnRenamed("__gr_b", "__gr_b2")
      .drop("__gr_cnt")

    val localWin = Window.partitionBy(col("__gr_b")).orderBy(orderCols: _*)
    parted.withColumn("__gr_lrn", row_number().over(localWin))
      .join(broadcast(offsets), col("__gr_b") === col("__gr_b2"))
      .withColumn(out, col("__gr_off") + col("__gr_lrn"))
      .drop("__gr_b", "__gr_b2", "__gr_off", "__gr_lrn")
  }
}
