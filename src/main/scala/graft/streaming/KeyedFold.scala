package graft.streaming

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** A keyed, sorted, state-carrying fold: the whole definition of one
  * stateful streaming twin. Rows are grouped by `key`; each key's state
  * starts at `init`; within a micro-batch the key's rows are sorted by
  * `order` and `step(key, state, row, emit)` folds them one by one,
  * calling `emit` for each output row. `step` returns the next state, or
  * `None` to close the key: its remaining rows in that batch are dropped
  * and its state is removed, so a later batch starts it again from
  * `init`.
  *
  * Arrival contract (every twin's): ACROSS micro-batches a key's rows
  * must arrive in `order` (true for replayed or landing time series;
  * order the feed globally by the order key). WITHIN a batch delivery is
  * unordered and the fold sorts. Under that contract the emissions and
  * the state after any batch cut equal one fold over the whole stream,
  * as long as `step` never closes the key.
  *
  * Serializable-locals rule: `key`, `order` and `step` ship to the
  * executors, so a step reads its constants from locals copied before
  * the closure, never through a query object such as
  * [[graft.queries.Stats]] — aliasing the module would drag the whole
  * object through task serialization. */
private[streaming] final case class KeyedFold[K, I, S, O](
    key: I => K, init: S, order: Ordering[I],
    step: (K, S, I, O => Unit) => Option[S])

private[streaming] object KeyedFold {

  /** One key's micro-batch, Spark-free: from the carried state (`None`
    * = no state yet, or removed) to the next state and the emissions. */
  def foldBatch[K, I, S, O](f: KeyedFold[K, I, S, O], key: K,
                            carried: Option[S],
                            rows: Iterator[I]): (Option[S], Vector[O]) = {
    val out = Vector.newBuilder[O]
    val emit: O => Unit = out += _
    var st: Option[S] = Some(carried.getOrElse(f.init))
    val it = rows.toVector.sorted(f.order).iterator
    while (st.isDefined && it.hasNext) st = f.step(key, st.get, it.next(), emit)
    (st, out.result())
  }

  /** Run `f` over `input` as `flatMapGroupsWithState` (append, no
    * timeout). The typed input is the columns the encoder of `I` names,
    * each cast to its field type. */
  def keyedSortedFold[K: TypeTag, I <: Product : TypeTag, S: TypeTag,
                      O: TypeTag](input: DataFrame,
                                  f: KeyedFold[K, I, S, O]): Dataset[O] = {
    implicit def enc[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()
    input
      .select(enc[I].schema.fields.toIndexedSeq.map(c =>
        col(c.name).cast(nullableElements(c.dataType)).as(c.name)): _*)
      .as[I]
      .groupByKey(f.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout()) {
        (key: K, rows: Iterator[I], state: GroupState[S]) =>
          val (next, out) = foldBatch(f, key, state.getOption, rows)
          next.fold(state.remove())(state.update)
          out.iterator
      }
  }

  // An encoder's Seq[Double] field is array<double> without null
  // elements, which a cast from a nullable-element array refuses; the
  // encoder's deserializer, not the cast, owns the null check.
  private def nullableElements(t: DataType): DataType = t match {
    case a: ArrayType => a.copy(containsNull = true)
    case other => other
  }
}
