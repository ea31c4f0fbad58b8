package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash of a token array as one native pass (ROADMAP item 3: the
  * 16-bit variant collides heavily on vocabulary-dense corpora).
  *
  * Bit b (0..63) of a token's md5 = bit (7−b%8) of digest byte b/8 — i.e.
  * the full 128-bit digest's first 64 bits, matching the SQL twin's
  * hex-nibble decomposition. Each token votes ±1 per bit; the fingerprint
  * sets bit b iff the vote is positive. Per-row cost: one md5 per token +
  * 64 table-free bit probes. Codegen emits a static [[GraftHash]] call, so
  * the projection stays in one whole-stage-codegen span.
  */
case class Simhash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any =
    GraftHash.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.GraftHash.simhash64($c);")

  override protected def withNewChildInternal(newChild: Expression): Simhash64Expr =
    copy(child = newChild)
}

object Simhash64Expr {
  import org.apache.spark.sql.graftbridge

  def simhash64(tokens: Column): Column =
    graftbridge.toColumn(Simhash64Expr(graftbridge.toExpression(tokens)))

  /** DuckDB twin: identical bit decomposition via hex-nibble lookup.
    * `digests` is a SQL expression yielding the VARCHAR list of the
    * tokens' md5 hex digests, best computed once in an inner projection:
    * each of the 64 bit terms reads the list. */
  def simhash64Sql(digests: String): String = {
    val bits = (0 until 64).map { b =>
      val hexPos = b / 4 + 1          // 1-based hex char
      val nibbleBit = 3 - (b % 4)     // high-to-low within the nibble
      s"""(CASE WHEN list_sum(list_transform($digests, d ->
         |  CASE WHEN ((strpos('0123456789abcdef',
         |    substr(d, $hexPos, 1)) - 1) >> $nibbleBit) & 1 = 1
         |  THEN 1 ELSE -1 END)) > 0
         |  THEN ${if (b == 63) "(-9223372036854775807 - 1)"
                   else s"(CAST(1 AS BIGINT) << $b)"} ELSE 0 END)""".stripMargin
        .replaceAll("\n", " ")
    }
    bits.mkString("(", " | ", ")")
  }
}
