package pipebench

import org.scalatest.funsuite.AnyFunSuite

class AlertBookSpec extends AnyFunSuite {
  private val ms = 1000000L

  /** Ten-second windows with a ten-second watermark; event (event time
    * ms, created at ms).
    */
  private def book(events: (Long, Long)*): AlertBook = {
    val b = new AlertBook(10000L, 10000L)
    events.foreach { case (e, c) => b.record(e, c * ms) }
    b
  }

  test("a window is closable at the first event at or past end + watermark") {
    val b = book((0L, 100L), (5000L, 200L), (15000L, 300L), (19999L, 400L),
      (20000L, 500L), (31000L, 600L))
    assert(b.closableAt(0L).contains(500 * ms)) // needs ts >= 20000
    assert(b.closableAt(10000L).contains(600 * ms)) // needs ts >= 30000
    assert(b.closableAt(20000L).isEmpty) // needs ts >= 40000
  }

  test("alert latency runs from closable to visible, and skips open windows") {
    val b = book((0L, 100L), (19999L, 400L), (20000L, 500L), (31000L, 600L))
    val lat = b.latenciesMs(Seq(
      0L -> 1500 * ms, // window [0, 10 s): closable at 500 ms
      0L -> 700 * ms, // a second alert of the same window
      10000L -> 2600 * ms, // closable at 600 ms
      20000L -> 9999 * ms)) // never closable in this sequence
    assert(lat == Seq(1000.0, 200.0, 2000.0))
  }

  test("events sharing a time keep the first creation instant") {
    val b = book((0L, 1L), (20000L, 7L), (20000L, 9L))
    assert(b.closableAt(0L).contains(7 * ms))
  }

  test("windows closed before the last event are told apart from those it closes") {
    // the last event (a sentinel far ahead) closes every window still open
    val b = book((0L, 1L), (20000L, 2L), (30000L, 3L), (90000L, 4L))
    val closedEarly = Seq(0L, 10000L, 20000L).flatMap(b.closableAt).filter(_ < b.lastCreatedNanos)
    assert(closedEarly == Seq(2 * ms, 3 * ms))
  }

  test("event times may not go backwards") {
    val b = book((1000L, 1L))
    intercept[IllegalArgumentException](b.record(999L, 2L))
  }
}
