package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one keyed-state loop of the streaming twins: the keyed state of
  * [[Streams]] runs through its two entry points, both in append mode,
  * except the calls `KeyedStateSpec`'s allowlist names with a reason.
  *
  * [[maintain]] keeps a summary that only ever absorbs what arrives (a
  * sketch, a counter table, an open SCD2 version), so it needs no
  * timeout: a key's state is written, and its rows emitted, only when
  * the batch changed it — the incremental-maintenance pattern of
  * "Incremental Based Framework for Efficient Top-K Similarity Search
  * in Interactive Data Analysis Sessions" (EDBT 2020).
  *
  * [[evicting]] keeps per-key state that is worth holding only for a
  * horizon of event time (an LSH bucket, a session, a funnel stage).
  * Spark starts every call with no timeout and writes the state back
  * with none unless the function sets one, so a call that keeps state
  * without re-arming it leaves the key unevictable; [[evicting]]
  * therefore sets the timeout from the kept state on every call.
  *
  * A state type must be encoder-visible (a plain type or a public case
  * class): the state serializer is codegen'd and cannot call private
  * accessors.
  */
object KeyedState {

  /** Folds each key's batch into its state, starting from `zero` for a
    * key with none. `fold(key, prior, rows)` returns the next state and
    * the rows it emits; both are dropped when the next state equals
    * the prior one, so a batch that changes nothing writes and emits
    * nothing.
    */
  def maintain[K, V, S: Encoder, U: Encoder](grouped: KeyValueGroupedDataset[K, V], zero: S)(
      fold: (K, S, Iterator[V]) => (S, Iterator[U])): Dataset[U] =
    grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (key: K, rows: Iterator[V], state: GroupState[S]) =>
        val prior = state.getOption.getOrElse(zero)
        val (next, out) = fold(key, prior, rows)
        if (next == prior) Iterator.empty
        else { state.update(next); out }
    }

  /** Folds each key's arrivals, sorted by `order`, into its state
    * (`None` for a key with none); `fold(key, prior, arrivals)` returns
    * the state to keep, `None` to drop the key, and the rows the
    * arrivals emit. A kept state's event-time timeout is set to
    * `expiry(state)` on every call. A state whose expiry is at or
    * behind the watermark is removed at once, and a timed-out one on
    * its timeout; either way `onExpiry(key, state)` emits its last rows
    * (a closed session). The input must carry a watermark.
    */
  def evicting[K, V, S: Encoder, U: Encoder](grouped: KeyValueGroupedDataset[K, V])(
      order: Ordering[V], expiry: S => Long)(
      fold: (K, Option[S], Seq[V]) => (Option[S], Iterator[U]),
      onExpiry: (K, S) => Iterator[U] = (_: K, _: S) => Iterator.empty): Dataset[U] =
    grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: K, rows: Iterator[V], state: GroupState[S]) =>
        def expire(s: S): Iterator[U] = { state.remove(); onExpiry(key, s) }
        if (state.hasTimedOut) expire(state.get)
        else {
          val (next, out) = fold(key, state.getOption, rows.toSeq.sorted(order))
          val last = next match {
            case Some(s) if expiry(s) > state.getCurrentWatermarkMs =>
              state.update(s)
              state.setTimeoutTimestamp(expiry(s))
              Iterator.empty
            case Some(s) => expire(s)
            case None => state.remove(); Iterator.empty
          }
          out ++ last
        }
    }
}
