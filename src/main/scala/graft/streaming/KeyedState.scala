package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed-state step of the idle-timer demos (s4, s8, s9, s17–s20): the
  * `KeyedBroadcastProcessFunction#processElement` shape of per-key
  * `ValueState` plus a cleanup timer, as `flatMapGroupsWithState` in append
  * mode with an event-time timeout. This object is the only code that knows
  * the timer protocol:
  *   - a key whose timer fired is removed and emits nothing;
  *   - otherwise `step(key, rows, prev, watermarkMs)` folds the key's rows
  *     of this micro-batch (never empty) into its state (`prev` is `None`
  *     for a new key) and returns `(next, output)`; `next` is stored, and
  *     the key's timer is set to `lastMs(next) + IdleMs`, where `lastMs` is
  *     the newest event time the state holds. A key idle for [[IdleMs]] of
  *     event time is evicted once the watermark passes that timestamp.
  * The event-time timeout needs a watermark on `rows`.
  */
object KeyedState {

  /** The idle horizon: one hour of event time. */
  val IdleMs: Long = 3600 * 1000L

  def fold[V, K: Encoder, S: Encoder, U: Encoder](rows: Dataset[V])(key: V => K)(lastMs: S => Long)(
      step: (K, Iterator[V], Option[S], Long) => (S, Iterator[U])): Dataset[U] =
    rows.groupByKey(key).flatMapGroupsWithState[S, U](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
      (k: K, it: Iterator[V], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val (next, out) = step(k, it, state.getOption, state.getCurrentWatermarkMs())
          state.update(next)
          state.setTimeoutTimestamp(lastMs(next) + IdleMs)
          out
        }
    }
}
