package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** The skeleton of every keyed stateful operator in graft (Spark's
  * `transformWithState`): one value of state per key, at most one
  * event-time timer per key, and one step function.
  *
  * For a key with input, the skeleton puts the key's rows in [[order]] (a
  * replay must not depend on arrival order), reads the state, runs
  * [[step]] and writes the new state back (`None` deletes it). An expired
  * timer runs the same step with no rows and `fired` set. A key's timer is
  * always [[timerOf]] its current state: the skeleton moves the timer when
  * the state moves it, so a superseded timer never fires. A step run by its
  * timer must delete the state or move the timer past the watermark.
  *
  * A `timed` processor runs in event time and evicts on the watermark of
  * its input (with none, its timers never fire); the others run with no
  * time mode. All of them need the RocksDB state store provider, because
  * Spark's HDFS provider has no column families: [[graft.GraftSession]] and
  * [[StateTuning]] set it. */
abstract class StepProcessor[K, V, S, O](state: Encoder[S], timed: Boolean = false)
    extends StatefulProcessor[K, V, O] {
  @transient private var value: ValueState[S] = _

  /** The order a key's rows are stepped in. */
  protected def order(rows: Seq[V]): Seq[V] = rows

  /** The event-time timer that state `s` wants, if any. */
  protected def timerOf(s: S): Option[Long] = None

  /** One step over a key's rows (none when `fired`): the key's new state
    * and the rows to emit. */
  protected def step(key: K, s: Option[S], rows: Seq[V], watermarkMs: Long,
                     fired: Boolean): (Option[S], IterableOnce[O])

  /** This processor over `grouped`. */
  def over(grouped: KeyValueGroupedDataset[K, V], mode: OutputMode = OutputMode.Append)(
      implicit out: Encoder[O]): Dataset[O] =
    grouped.transformWithState(this, if (timed) TimeMode.EventTime() else TimeMode.None(), mode)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    value = getHandle.getValueState[S]("state", state, TTLConfig.NONE)

  override def handleInputRows(key: K, rows: Iterator[V], timers: TimerValues): Iterator[O] =
    run(key, order(rows.toSeq), timers, fired = false)

  override def handleExpiredTimer(key: K, timers: TimerValues,
                                  expired: ExpiredTimerInfo): Iterator[O] =
    run(key, Nil, timers, fired = true)

  private def run(key: K, rows: Seq[V], timers: TimerValues, fired: Boolean): Iterator[O] = {
    val before = Option(value.get()) // one read: exists() is itself a get
    val (after, out) = step(key, before, rows, timers.getCurrentWatermarkInMs(), fired)
    if (after != before) after.fold(value.clear())(value.update)
    val (was, now) = (before.flatMap(timerOf), after.flatMap(timerOf))
    if (was != now) {
      if (!fired) was.foreach(getHandle.deleteTimer) // Spark deletes a fired one
      now.foreach(getHandle.registerTimer)
    }
    out.iterator
  }
}

object StepProcessor {
  /** The state store provider every [[StepProcessor]] needs. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
