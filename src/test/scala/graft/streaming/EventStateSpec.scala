package graft.streaming

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import EventState.{HourUs, hours, ordered, timestamp}
import EventsStream.Event

/** [[EventState.hours]] and [[EventState.ordered]], the folds the
  * stateful event twins run inside their step, on plain event lists. */
class EventStateSpec extends AnyFunSuite {

  private val H0 = 1700000000L / 3600 * 3600 * 1000000L // an epoch hour, micros

  private def ev(id: Long, us: Long): Event = Event(id, timestamp(us), 1L, "t", 0.0)

  /** `hours` with each bucket the list of its event ids, the carry the
    * list of closed hours in fold order, and one (hour, ids) row per
    * closed hour. */
  private def byHour(open: List[(Long, List[Long])], batch: Seq[Event], wmUs: Long) =
    hours((open, List.empty[Long]), batch, wmUs)(_.map(_.event_id).toList, _ ++ _) {
      (seen, hr, ids) => (seen :+ hr, Some(hr -> ids))
    }

  test("hours: closed hours are emitted in hour order whatever the input order") {
    val events = for (h <- 1 to 4; i <- 0 until 3) yield ev(h * 10L + i, H0 + h * HourUs + i * 1000L)
    val rnd = new Random(7)
    for (_ <- 1 to 20) {
      val (outs, (open, seen), fire) = byHour(List(H0 -> List(1L), (H0 + HourUs) -> List(2L)),
        rnd.shuffle(events), H0 + 6 * HourUs)
      val hrs = (0 to 4).map(H0 + _ * HourUs)
      assert(outs.map(_._1) == hrs)
      assert(seen == hrs.toList)
      // a bucket holds the open bucket's ids before the new ones
      assert(outs(0)._2 == List(1L))
      assert(outs(1)._2.head == 2L)
      assert(outs.map(_._2.filter(_ >= 10).sorted) ==
        Seq(Nil) ++ (1 to 4).map(h => (0 until 3).map(h * 10L + _).toList))
      assert(open.isEmpty && fire.isEmpty)
    }
  }

  test("hours: a bucket closes exactly when the watermark reaches its hour end") {
    val e = ev(1L, H0 + 17L)
    val (before, (open, _), fire) = byHour(Nil, Seq(e), H0 + HourUs - 1)
    assert(before.isEmpty)
    assert(open == List(H0 -> List(1L)))
    assert(fire.contains(H0 + HourUs))
    val (at, (left, seen), none) = byHour(open, Nil, H0 + HourUs)
    assert(at == Seq(H0 -> List(1L)))
    assert(left.isEmpty && seen == List(H0) && none.isEmpty)
  }

  test("hours: the fire time is the earliest open hour's end") {
    val (outs, (open, _), fire) = byHour(List((H0 + 3 * HourUs) -> List(9L)),
      Seq(ev(1L, H0 + 5 * HourUs + 1), ev(2L, H0 + 2 * HourUs + 2), ev(3L, H0 + 1)),
      H0 + 2 * HourUs)
    assert(outs == Seq(H0 -> List(3L)))
    assert(open.map(_._1) == List(2, 3, 5).map(H0 + _ * HourUs))
    assert(fire.contains(H0 + 3 * HourUs))
  }

  /** `ordered` with the carry the processed event ids, one id row per
    * processed event. */
  private def inOrder(held: List[Event], batch: Seq[Event], wmUs: Long) =
    ordered((held, List.empty[Long]), batch, wmUs) { (seen, e) => (seen :+ e.event_id, Some(e.event_id)) }

  test("ordered: events strictly below the watermark, in (ts, event_id) order") {
    // ids 1-6 in (ts, id) order, with ties on ts broken by event_id
    val events = Seq(ev(1L, H0), ev(2L, H0 + 5), ev(3L, H0 + 5), ev(4L, H0 + 9),
      ev(5L, H0 + 10), ev(6L, H0 + 10))
    val rnd = new Random(11)
    for (_ <- 1 to 20) {
      val (held0, batch) = rnd.shuffle(events).splitAt(2)
      val (outs, (held, seen), fire) = inOrder(held0.toList, batch, H0 + 10)
      assert(outs == Seq(1L, 2L, 3L, 4L) && seen == List(1L, 2L, 3L, 4L))
      // the events at exactly the watermark stay held, in order
      assert(held.map(_.event_id) == List(5L, 6L))
      assert(fire.contains(H0 + 11))
    }
  }

  test("batch mode (wm = Long.MaxValue) closes everything") {
    val events = Seq(ev(2L, H0 + 3 * HourUs), ev(1L, H0 + 7), ev(3L, H0 + 40 * HourUs))
    val (hOuts, (open, _), hFire) =
      byHour(List((H0 + HourUs) -> List(9L)), events, Long.MaxValue)
    assert(hOuts.map(_._1) == Seq(0, 1, 3, 40).map(H0 + _ * HourUs))
    assert(open.isEmpty && hFire.isEmpty)
    val (oOuts, (held, _), oFire) = inOrder(List(ev(4L, H0 + 50 * HourUs)), events, Long.MaxValue)
    assert(oOuts == Seq(1L, 2L, 3L, 4L))
    assert(held.isEmpty && oFire.isEmpty)
  }
}
