package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Point-access view of a [[KeyedFold]]'s per-key `MapState[E, Long]`:
  * `get` (0 when absent) and `put`, and deliberately no iteration — a
  * step reads and writes only the entries its micro-batch touches, so
  * its cost is O(batch) lookups against the RocksDB store, never
  * O(state) (the reason the MapState twins exist instead of a map
  * carried in a flatMapGroupsWithState value). Seen-sets store 1.
  */
final class Tally[E] private[streaming] (m: MapState[E, Long]) {
  def get(e: E): Long = if (m.containsKey(e)) m.getValue(e) else 0L
  def put(e: E, n: Long): Unit = m.updateValue(e, n)
}

/** The one untimed transformWithState processor the continual-ingest
  * twins share: per key, one `ValueState[S]` plus one [[Tally]], folded
  * by a caller-supplied per-batch `step(key, state, rows, tally) =>
  * (state', outputs)`.
  *
  *  - `step` runs once per key per micro-batch with that key's rows.
  *    Any in-batch ordering (funnel, disorder or cohort order) is the
  *    step's own job: the rows arrive in no defined order.
  *  - The state a step sees is the stored value when one `exists()`,
  *    else `zero(key)` — never `Option(get())`, which reads an absent
  *    primitive state as 0 only through unboxing of null.
  *  - `outputs` are materialized before the processor returns, so any
  *    tally writes a lazy collection would defer have all happened.
  *  - The state is written only when it changed; a fold that needs
  *    only the tally keeps a constant state that is never written, and
  *    one that needs no tally never touches it, so the unused variable
  *    stays empty in the store.
  *
  * Steps are functions on the `*Jobs` objects and capture no
  * SparkSession or DataFrame, so the processor serializes to executors.
  */
class KeyedFold[K, V, S, E, O](
    zero: K => S,
    step: (K, S, Iterator[V], Tally[E]) => (S, Seq[O]),
    stateEnc: Encoder[S],
    tallyEnc: Encoder[E]) extends StatefulProcessor[K, V, O] {
  @transient private var state: ValueState[S] = _
  @transient private var tally: Tally[E] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    state = getHandle.getValueState[S]("state", stateEnc, TTLConfig.NONE)
    tally = new Tally(getHandle.getMapState[E, Long]("tally", tallyEnc,
      Encoders.scalaLong, TTLConfig.NONE))
  }

  override def handleInputRows(
      key: K,
      rows: Iterator[V],
      timerValues: TimerValues): Iterator[O] = {
    val prev = if (state.exists()) state.get() else zero(key)
    val (next, outputs) = step(key, prev, rows, tally)
    val emitted = outputs.toVector
    if (next != prev) state.update(next)
    emitted.iterator
  }
}

object KeyedFold {
  /** `ds.groupByKey(key)` folded by one [[KeyedFold]] — untimed,
    * Update mode (each batch's outputs are that batch's new rows).
    */
  def foldByKey[V, K: Encoder, S: Encoder, E: Encoder, O: Encoder](
      ds: Dataset[V])(key: V => K)(
      zero: K => S,
      step: (K, S, Iterator[V], Tally[E]) => (S, Seq[O])): Dataset[O] =
    ds.groupByKey(key).transformWithState(
      new KeyedFold(zero, step, implicitly[Encoder[S]],
        implicitly[Encoder[E]]),
      TimeMode.None(), OutputMode.Update())

  /** Mark `e` in a seen-set tally; true when it was not seen before. */
  def firstSeen[E](seen: Tally[E], e: E): Boolean = {
    val fresh = seen.get(e) == 0L
    if (fresh) seen.put(e, 1L)
    fresh
  }

  /** Add each key's occurrences in `keys` to its tally count; returns
    * the post-batch count of every touched key, in first-touch order.
    */
  def countInto[E](tally: Tally[E], keys: Iterator[E]): Vector[(E, Long)] = {
    val touched = scala.collection.mutable.LinkedHashMap.empty[E, Long]
    keys.foreach(k => touched(k) = touched.getOrElse(k, tally.get(k)) + 1)
    touched.foreach { case (k, n) => tally.put(k, n) }
    touched.toVector
  }
}
