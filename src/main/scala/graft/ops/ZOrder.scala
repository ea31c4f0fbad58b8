package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleave: the bit arithmetic behind multi-column
  * layouts (Delta/Iceberg OPTIMIZE ZORDER BY; public algorithm, Morton
  * 1966). Interleaving the bits of several columns' 0-based bucket ranks
  * gives one sort key under which every participating column keeps
  * locality, so file min/max statistics could prune on ANY of them.
  *
  * The engine exposes the interleave as a per-row projection: the
  * `graft_zorder(bits, rank0, rank1, ...)` SQL function
  * ([[graft.expressions.GraftFunctions]]) and the oracle-gated
  * `p13_zorder_curve` query. The caller supplies the bucket ranks.
  *
  * Reference capability: EXACT's TimescaleDB layout clusters on time only
  * (hypertable chunks, `Database/db_api.py`).
  */
object ZOrder {

  /** Interleave `bits` low bits of each (already 0-based, < 2^bits) bucket
    * rank column: column 0 owns the most-significant lane. Total bits =
    * cols·bits must stay ≤ 62. */
  def interleave(ranks: Seq[Column], bits: Int): Column = {
    require(ranks.nonEmpty && bits > 0 && ranks.size * bits <= 62,
      s"need 1+ columns and cols*bits <= 62, got ${ranks.size} x $bits")
    val k = ranks.size
    val terms = for {
      (r, c) <- ranks.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(
      shiftright(r.cast("long"), i).bitwiseAND(lit(1L)),
      i * k + (k - 1 - c))
    terms.reduce[Column](_ + _)
  }

  /** Host-side twin of [[interleave]] for specs/oracles. */
  def interleaveHost(ranks: Seq[Long], bits: Int): Long = {
    val k = ranks.size
    var z = 0L
    for ((r, c) <- ranks.zipWithIndex; i <- 0 until bits)
      z += ((r >> i) & 1L) << (i * k + (k - 1 - c))
    z
  }
}
