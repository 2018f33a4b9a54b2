package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import EventsStream.Event

/** The one watermark step under [[EventsStream]]'s stateful twins, and
  * the two folds most of them run inside it. A twin supplies only its
  * domain rule; when a bucket closes, when state is dropped, when the
  * timer fires and what batch mode means are decided here.
  *
  * A step sees the watermark in epoch micros: the query's event-time
  * watermark in streaming mode, `Long.MaxValue` in batch mode (all input
  * is present, so everything closes). Spark drops an input row as late
  * when its ts is at or below the watermark of an earlier trigger
  * (`WatermarkSupport`'s predicate is `<=`), so once a step has seen
  * watermark `wm` no later trigger brings a row with ts <= wm; each
  * fold's close rule says how close to that bound it goes. */
object EventState {

  val HourUs = 3600000000L

  /** What a step returns: the rows it emits, the state it keeps, and
    * the event time (micros) at which it wants to run again. */
  type Out[S, O] = (Seq[O], S, Option[Long])

  /** Full-precision epoch micros of a Timestamp — `getTime` truncates
    * to millis, and a sub-millisecond boundary would then compare
    * differently from the batch queries' micros arithmetic. */
  def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** The Timestamp of epoch micros `us`, exact to the micro. */
  def timestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def hourOf(us: Long): Long = Math.floorDiv(us, HourUs) * HourUs

  /** Groups `events` by `key` and runs `f` once per key and trigger
    * over the key's new events and its state (`init` when it has none).
    * The state is dropped when `f` returns `init` and kept otherwise.
    * A fire time asks for an event-time timeout: Spark then calls `f`
    * again, with no events, once the watermark passes it. */
  def step[K: TypeTag, S: TypeTag, O: Encoder](events: Dataset[Event],
      watermarkDelay: String, key: Event => K, init: S)(
      f: (K, Seq[Event], S, Long) => Out[S, O]): Dataset[O] = {
    // decided at plan time: batch execution has no watermark to read
    val streaming = events.isStreaming
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(key)(ExpressionEncoder[K]())
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: K, batch: Iterator[Event], state: GroupState[S]) =>
          val wmUs = if (streaming) state.getCurrentWatermarkMs() * 1000L else Long.MaxValue
          val (outs, next, fire) = f(k, batch.toList, state.getOption.getOrElse(init), wmUs)
          if (next == init) { if (state.exists) state.remove() }
          else state.update(next)
          // round the micros fire time up to millis, strictly past the watermark
          if (streaming) fire.foreach(us => state.setTimeoutTimestamp(
            math.max(Math.floorDiv(us + 999L, 1000L), wmUs / 1000L + 1)))
          outs.iterator
      }(ExpressionEncoder[S](), implicitly[Encoder[O]])
  }

  /** Per-hour buckets: the new events are summarized per epoch hour and
    * merged into the open buckets (`open` before new), and a bucket
    * closes once `hr + 1h <= wm` — no admissible row can land in it
    * anymore. Closed buckets fold into the carry in hour order, so any
    * replay order emits the same rows. Fires at the earliest open
    * hour's end. */
  def hours[B, C, O](st: (List[(Long, B)], C), batch: Seq[Event], wmUs: Long)(
      bucket: Seq[Event] => B, merge: (B, B) => B)(
      close: (C, Long, B) => (C, Option[O])): Out[(List[(Long, B)], C), O] = {
    val incoming = batch.groupBy(e => hourOf(micros(e.ts))).view.mapValues(bucket)
    val (closed, open) = (st._1 ++ incoming).groupMapReduce(_._1)(_._2)(merge)
      .toList.sortBy(_._1).partition { case (hr, _) => hr + HourUs <= wmUs }
    val (carry, outs) = fold(st._2, closed) { case (c, (hr, b)) => close(c, hr, b) }
    (outs, (open, carry), open.headOption.map(_._1 + HourUs))
  }

  /** Events in exact (ts, event_id) order: the held events and the new
    * ones are sorted, and an event is processed once `ts < wm`, folding
    * into the carry. An event at exactly the watermark stays held: that
    * is conservative, as no later row can precede it. Fires when the
    * earliest held event becomes processable. */
  def ordered[C, O](st: (List[Event], C), batch: Seq[Event], wmUs: Long)(
      f: (C, Event) => (C, IterableOnce[O])): Out[(List[Event], C), O] = {
    val (ready, held) = (st._1 ++ batch).sortBy(e => (micros(e.ts), e.event_id))
      .partition(e => micros(e.ts) < wmUs)
    val (carry, outs) = fold(st._2, ready)(f)
    (outs, (held, carry), held.headOption.map(e => micros(e.ts) + 1))
  }

  private def fold[A, C, O](c0: C, xs: Seq[A])(
      f: (C, A) => (C, IterableOnce[O])): (C, Seq[O]) =
    xs.foldLeft((c0, Vector.empty[O])) { case ((c, acc), x) =>
      val (c1, o) = f(c, x)
      (c1, acc ++ o)
    }
}
