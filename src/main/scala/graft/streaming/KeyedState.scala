package graft.streaming

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, KeyValueGroupedDataset}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The ONE per-key state operator of `graft.streaming`: the port of the
  * reference's `sts_window` shape (per-key state appended in arrival
  * order, checkpointed between micro-batches — PAPER.md §1.2–1.3) that
  * every stateful module shares. A module declares, once:
  *
  *  - its key function;
  *  - its `OutputMode`;
  *  - its within-batch order, or `None` for an order-free body (a batch's
  *    rows for one key reach the body sorted by it — a stable sort, so
  *    equal rows keep their arrival order);
  *  - its update body, written over rows that arrive already ordered. The
  *    body must update its state before it returns.
  *
  * [[run]] is the plain stream; [[forgetting]] adds the in-band erasure
  * channel [[StreamingStateErasure]]'s legs use. Both go through the one
  * `flatMapGroupsWithState` call in `src/main` (StateErasureCoverageSpec
  * fails on another), so a per-batch lever — a compact state layout, a
  * different state API — lands here for every module at once.
  */
final class KeyedState[K: TypeTag, E: TypeTag, S: TypeTag, O: TypeTag] private (
    key: E => K, mode: OutputMode, order: Option[Ordering[E]],
    update: (K, Iterator[E], GroupState[S]) => Iterator[O]) {

  /** The plain stream: each key's rows of a batch, ordered, through the
    * update body. */
  def run(events: Dataset[E]): Dataset[O] = {
    val (ord, body) = (order, update)
    stateful(events.groupByKey(key)(ExpressionEncoder[K]())) { (k, rows, state) =>
      body(k, KeyedState.ordered(rows, ord), state)
    }
  }

  /** The stream plus forget signals, carried as `(key, None)` beside the
    * data's `(key, Some(row))`. A batch that holds a forget for key k
    * removes k's state and emits nothing for k: the forget wins its batch,
    * whatever the interleave of data and forgets (both arrive through one
    * union, and Spark gives no order between them). A duplicate forget
    * removes absent state, a no-op; a replayed batch re-applies the same
    * remove, committed with the batch. */
  def forgetting(events: Dataset[E], forgetKeys: Dataset[K]): Dataset[O] = {
    val (keyOf, ord, body) = (key, order, update)
    val signal = ExpressionEncoder[(K, Option[E])]()
    val signals = events.map(e => (keyOf(e), Option(e)))(signal)
      .union(forgetKeys.map(k => (k, Option.empty[E]))(signal))
    stateful(signals.groupByKey(_._1)(ExpressionEncoder[K]())) { (k, rows, state) =>
      val rs = rows.toArray
      if (rs.exists(_._2.isEmpty)) {
        if (state.exists) state.remove()
        Iterator.empty
      } else body(k, KeyedState.ordered(rs.iterator.map(_._2.get), ord), state)
    }
  }

  private def stateful[R](grouped: KeyValueGroupedDataset[K, R])(
      f: (K, Iterator[R], GroupState[S]) => Iterator[O]): Dataset[O] =
    grouped.flatMapGroupsWithState[S, O](mode, GroupStateTimeout.NoTimeout())(f)(
      ExpressionEncoder[S](), ExpressionEncoder[O]())
}

object KeyedState {

  def apply[K: TypeTag, E: TypeTag, S: TypeTag, O: TypeTag](
      key: E => K, mode: OutputMode, order: Option[Ordering[E]])(
      update: (K, Iterator[E], GroupState[S]) => Iterator[O]): KeyedState[K, E, S, O] =
    new KeyedState(key, mode, order, update)

  /** One materialization and an in-place stable sort; order-free rows
    * pass through unbuffered. */
  private def ordered[E](rows: Iterator[E], order: Option[Ordering[E]]): Iterator[E] =
    order.fold(rows)(ord => ArrayBuffer.from(rows).sortInPlace()(ord).iterator)
}
