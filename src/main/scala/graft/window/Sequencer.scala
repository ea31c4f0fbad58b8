package graft.window

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Ordered / time-series operators (SURVEY §2.5).
  *
  * The reference materializes stride-1 sliding windows as 3-D NumPy arrays
  * (`Backend/utils.py:147-282`) — an O(N·L) copy on one host. Here windows are
  * declared over `Window.partitionBy(series).orderBy(ts)` frames so Spark
  * keeps them as streaming window aggregates: one shuffle on the series key,
  * then a single sorted pass per partition. Ungrouped (single-series) data
  * no longer falls back to a one-task global window: [[sequences]] and
  * [[flattenWindows]] with `seriesCol = None` block the total order into ~P
  * contiguous rank ranges and replicate each block's last L−1 rows into the
  * next block as context, so every lookback-L window completes inside one
  * partition (see [[Sequencer.blockedByRank]]).
  */
object Sequencer {

  /** Distributed total-order blocking for lookback-L windows on a frame
    * with NO series key: a [[graft.ops.Ranks]] two-pass rank assigns each
    * row its global position `__rn`, rows land in block `__blk` =
    * ⌊(rn−1)·P/N⌋, and any row whose following L−1 successors cross a block
    * boundary is replicated into those later blocks flagged `__ctx` = true.
    * Lookback windows partitioned by `__blk` (ordered by `__rn`) then see
    * exactly the rows an unpartitioned window would — consumers compute the
    * window, drop context rows, and drop the helper columns. Replication
    * overhead: (P−1)·(L−1) rows total. `orderCols` must form a total order
    * (same contract as the bare window this replaces).
    *
    * Output keeps `__rn` (global position), `__n` (total rows), `__blk`,
    * `__ctx` — callers drop what they don't need. Shared with
    * [[graft.ml.WindowZScoreDetector]], whose default (no-series) scoring
    * path partitions its rolling window by `__blk` the same way.
    *
    * Given-rank path: a caller that already holds the frame's 1-based
    * position in `orderCols` order and its row count passes them as
    * `rank = Some((position, total))`, and no [[graft.ops.Ranks]] call is
    * made (no boundary probe, no rank shuffle). The caller vouches that
    * `position` IS that order's row number: `jobs.BatchJob` passes
    * `id + 1`, `Ingest.normalize`'s dense rank. */
  private[graft] def blockedByRank(df: DataFrame, orderCols: Seq[Column],
                                   L: Int,
                                   rank: Option[(Column, Long)] = None): DataFrame = {
    val p = df.sparkSession.sessionState.conf.numShufflePartitions.toLong
    val ranked = rank match {
      case Some((rn, n)) => df.withColumn("__rn", rn).withColumn("__n", lit(n))
      case None => graft.ops.Ranks
        .globalRowNumberWithTotal(df, orderCols, "__rn", "__n")
    }
    val blk = expr(s"((__rn - 1) * $p) div __n")
    val ahead = least(expr(s"((__rn - 1 + ${L - 1}) * $p) div __n"),
      lit(p - 1))
    val own = ranked.withColumn("__blk", blk).withColumn("__ctx", lit(false))
    // explode of a null array emits nothing: only boundary rows replicate
    val ctx = ranked.withColumn("__blk0", blk)
      .withColumn("__blk",
        explode(when(ahead > col("__blk0"),
          sequence(col("__blk0") + 1, ahead))))
      .drop("__blk0")
      .withColumn("__ctx", lit(true))
    own.unionByName(ctx)
  }

  /** The job table's stable `id` as a time-order tiebreak, when `df` has
    * one: `Ingest.normalize` makes it unique, so `(ts, id)` is a total
    * order even where distinct rows share a timestamp. */
  private[graft] def idTiebreak(df: DataFrame): Seq[Column] =
    if (df.columns.contains("id")) Seq(col("id")) else Nil

  /** W1: per-series sliding sequences of length L as nested arrays,
    * emitted only when the full window exists (W6 warm-up: first L-1 rows of
    * each series produce no sequence). Pass `orderTiebreak` columns when the
    * time column has duplicates — window contents are otherwise
    * nondeterministic across partitionings. */
  def sequences(df: DataFrame, seriesCol: Option[String], tsCol: String,
                features: Seq[String], L: Int,
                orderTiebreak: Seq[Column] = Nil): DataFrame = seriesCol match {
    case Some(s) =>
      val w = Window.partitionBy(col(s))
        .orderBy(col(tsCol) +: orderTiebreak: _*)
        .rowsBetween(-(L - 1), Window.currentRow)
      df.withColumn("__seq", collect_list(array(features.map(col): _*)).over(w))
        .filter(size(col("__seq")) === L)
        .withColumnRenamed("__seq", "sequence")
    case None =>
      val b = blockedByRank(df, col(tsCol) +: orderTiebreak, L)
      val w = Window.partitionBy(col("__blk")).orderBy(col("__rn"))
        .rowsBetween(-(L - 1), Window.currentRow)
      b.withColumn("__seq", collect_list(array(features.map(col): _*)).over(w))
        .filter(!col("__ctx") && size(col("__seq")) === L)
        .withColumnRenamed("__seq", "sequence")
        .drop("__rn", "__n", "__blk", "__ctx")
  }

  /** W1-flat: the reference's flattened-window representation — one row per
    * complete window end with scalar columns `<f>_tm<j>` = feature f at lag
    * j (j = 0 most recent), the naming DiCE/LIME use for sequence features
    * (`Backend/XAI_methods/methods/DiceExplainer.py:83-88`, `f_t-j` with the
    * offset counted from the window start; we count lags from the end, same
    * cells). All L·F lag expressions share ONE window frame, so Spark
    * computes them in a single sorted pass per series partition — no array
    * materialization, unlike [[sequences]].
    *
    * `keepIncomplete = true` keeps the warm-up rows too (their lag cells
    * null) and adds a boolean `window_complete` column instead of
    * filtering — for detectors that must flag every input row
    * ([[graft.ml.WindowPcaDetector]]: warm-up rows score null/false).
    *
    * `rank`: the no-series path's precomputed (position, total) in
    * `tsCol +: orderTiebreak` order, as in [[blockedByRank]]. */
  def flattenWindows(df: DataFrame, seriesCol: Option[String], tsCol: String,
                     features: Seq[String], L: Int,
                     orderTiebreak: Seq[Column] = Nil,
                     keepIncomplete: Boolean = false,
                     rank: Option[(Column, Long)] = None): DataFrame = seriesCol match {
    case Some(s) =>
      val w = Window.partitionBy(col(s))
        .orderBy(col(tsCol) +: orderTiebreak: _*)
      val lagCols = for (f <- features; j <- 0 until L)
        yield lag(col(f), j).over(w).as(s"${f}_tm$j")
      val sel = df.select(df.columns.map(col) ++ lagCols :+
        row_number().over(w).as("__wpos"): _*)
      if (keepIncomplete)
        sel.withColumn("window_complete", col("__wpos") >= L).drop("__wpos")
      else
        sel.filter(col("__wpos") >= L) // W6 warm-up: incomplete windows emit nothing
          .drop("__wpos")
    case None =>
      val b = blockedByRank(df, col(tsCol) +: orderTiebreak, L, rank)
      val w = Window.partitionBy(col("__blk")).orderBy(col("__rn"))
      val lagCols = for (f <- features; j <- 0 until L)
        yield lag(col(f), j).over(w).as(s"${f}_tm$j")
      // __rn IS the global position: W6 warm-up needs no extra row_number
      val sel = b.select(df.columns.map(col) ++ Seq(col("__rn"), col("__ctx")) ++
          lagCols: _*)
        .filter(!col("__ctx"))
      if (keepIncomplete)
        sel.withColumn("window_complete", col("__rn") >= L).drop("__rn", "__ctx")
      else
        sel.filter(col("__rn") >= L).drop("__rn", "__ctx")
  }

  /** W1-lite: sliding aggregate (avg) over the last L rows per series —
    * the scale-friendly form used for windowed detectors (no array blowup). */
  def slidingAvg(df: DataFrame, seriesCol: String, orderCols: Seq[Column],
                 value: Column, L: Int): Column =
    avg(value).over(Window.partitionBy(col(seriesCol)).orderBy(orderCols: _*)
      .rowsBetween(-(L - 1), Window.currentRow))

  /** W3: temporal 85/15 split (`Backend/execute_calls.py:333-346`): first
    * ⌊r·N⌋ rows by time order are "train", rest "test". Adds `split`.
    * Rank and total both come from [[graft.ops.Ranks]]' range-partitioned
    * two-pass rank — no single-task global window, no driver-side count.
    * With a given `rank` (position, total), as in [[blockedByRank]], the
    * split is one narrow projection `position <= trainRows(total, r)`. */
  def temporalSplit(df: DataFrame, orderCols: Seq[Column], trainRatio: Double = 0.85,
                    rank: Option[(Column, Long)] = None): DataFrame = rank match {
    case Some((rn, n)) =>
      df.withColumn("split", when(rn <= trainRows(n, trainRatio), "train").otherwise("test"))
    case None =>
      graft.ops.Ranks.globalRowNumberWithTotal(df, orderCols, "__rn", "__n")
        .withColumn("split",
          when(col("__rn") <= floor(col("__n") * trainRatio), "train").otherwise("test"))
        .drop("__rn", "__n")
  }

  /** ⌊n·r⌋, the train-slice size of [[temporalSplit]]: the same double
    * product and floor as its in-plan `floor(__n * r)`. */
  def trainRows(n: Long, trainRatio: Double): Long = math.floor(n * trainRatio).toLong

  /** W5: balanced tail sampling (`Backend/execute_calls.py:145-331`): take the
    * most-recent ⌊n/2⌋ rows of each class; if a class cannot fill its quota
    * the other class absorbs the remainder up to its capacity. Returns the
    * selected rows. `labelCol` is 0/1. */
  def balancedTail(df: DataFrame, labelCol: String, orderDesc: Seq[Column], n: Long): DataFrame = {
    val counts = df.groupBy(col(labelCol).as("__lbl")).agg(count(lit(1)).as("__cnt"))
    val quotas = counts
      .withColumn("__c1", sum(when(col("__lbl") === 1, col("__cnt")).otherwise(0L)).over(Window.partitionBy()))
      .withColumn("__c0", sum(when(col("__lbl") === 0, col("__cnt")).otherwise(0L)).over(Window.partitionBy()))
      .withColumn("__tn", least(col("__c0"), lit(n) - least(col("__c1"), lit(n / 2))))
      .withColumn("__ta", least(col("__c1"), lit(n) - col("__tn")))
      .select(col("__lbl"), when(col("__lbl") === 1, col("__ta")).otherwise(col("__tn")).as("__quota"))
    val w = Window.partitionBy(col(labelCol)).orderBy(orderDesc: _*)
    df.withColumn("__rn", row_number().over(w))
      .join(broadcast(quotas), col(labelCol) === col("__lbl"))
      .filter(col("__rn") <= col("__quota"))
      .drop("__rn", "__lbl", "__quota")
  }
}
