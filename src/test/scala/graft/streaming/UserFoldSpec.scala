package graft.streaming

import graft.streaming.Streaming.{Buffered, FunnelState, SEvent, foldGroup, funnelStep}
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** [[Streaming.foldGroup]], one group call of the per-user event-order
  * fold behind the grouped-state stream operators, driven without a
  * stream: which events are ripe, the fold order, what stays buffered and
  * the event-time timeout the group asks for. */
class UserFoldSpec extends AnyFunSuite {
  private def ev(id: Long, t: Long, tpe: String = "x") =
    SEvent(id, new Timestamp(t), 1L, tpe, 0.0)

  // records the fold order in the state and emits each event_id
  private val trace: (Seq[Long], SEvent) => (Seq[Long], Option[Long]) =
    (s, e) => (s :+ e.event_id, Some(e.event_id))
  private val never = (_: Seq[Long]) => false
  private val empty = Buffered(Seq.empty[Long], Seq.empty[SEvent])

  test("an event at exactly t == watermark is ripe; one just above stays pending") {
    val (next, out, timeout) =
      foldGroup(empty, Seq(ev(1, 1000), ev(2, 1001)), Some(1000L))(trace, never)
    assert(out === Seq(1L))
    assert(next.s === Seq(1L) && next.buf.map(_.event_id) === Seq(2L))
    assert(timeout === Some(1001L))
  }

  test("ties on ts fold in event_id order, across the buffer and the incoming slice") {
    val st = Buffered(Seq.empty[Long], Seq(ev(7, 500), ev(3, 900)))
    val (next, out, timeout) =
      foldGroup(st, Seq(ev(5, 500), ev(1, 900), ev(2, 100)), Some(1000L))(trace, never)
    assert(out === Seq(2L, 5L, 7L, 1L, 3L))
    assert(next.s === out && next.buf.isEmpty && timeout.isEmpty)
  }

  test("the timeout is the minimum pending t, and none once nothing is pending") {
    val (n1, out1, t1) = foldGroup(empty,
      Seq(ev(1, 3000), ev(2, 2000), ev(3, 2500), ev(4, 10)), Some(1000L))(trace, never)
    assert(out1 === Seq(4L))
    assert(t1 === Some(2000L) && n1.buf.map(_.event_id).toSet === Set(1L, 2L, 3L))
    // a timeout call (no input) whose watermark passes the whole buffer
    val (n2, out2, t2) = foldGroup(n1, Seq.empty, Some(3000L))(trace, never)
    assert(out2 === Seq(2L, 3L, 1L))
    assert(n2.s === Seq(4L, 2L, 3L, 1L) && n2.buf.isEmpty && t2.isEmpty)
  }

  test("without a watermark every incoming event folds, in order, and nothing is buffered") {
    val (next, out, timeout) =
      foldGroup(empty, Seq(ev(2, 5000), ev(1, 5000), ev(3, 1)), None)(trace, never)
    assert(out === Seq(3L, 1L, 2L) && next.buf.isEmpty && timeout.isEmpty)
  }

  test("a completed funnel chain drops its pending stragglers and its buffer stays empty") {
    val steps = Array("signup", "view")
    val step = funnelStep(steps) _
    val done = (s: FunnelState) => s.stepIdx >= steps.length
    val st0 = Buffered(FunnelState(0, Long.MinValue), Seq.empty[SEvent])
    val (st1, out1, to1) = foldGroup(st0,
      Seq(ev(1, 100, "signup"), ev(2, 200, "view"), ev(3, 5000, "view")), Some(1000L))(step, done)
    assert(out1.map(p => (p.step_idx, p.step)) === Seq((1, "signup"), (2, "view")))
    assert(st1.s === FunnelState(2, 200L) && st1.buf.isEmpty && to1.isEmpty)
    // a later straggler above the watermark is not kept either
    val (st2, out2, to2) = foldGroup(st1, Seq(ev(4, 9000, "signup")), Some(2000L))(step, done)
    assert(out2.isEmpty && st2.buf.isEmpty && to2.isEmpty)
    // while the chain is incomplete the same straggler stays pending
    val (st3, _, to3) = foldGroup(st0, Seq(ev(5, 9000, "signup")), Some(2000L))(step, done)
    assert(st3.buf.map(_.event_id) === Seq(5L) && to3 === Some(9000L))
  }
}
