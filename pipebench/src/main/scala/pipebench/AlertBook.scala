package pipebench

import scala.collection.mutable.ArrayBuffer

/** Alert-latency bookkeeping for the open-loop fraud stream.
  *
  * The generator appends every event it emits, in emission order, with
  * its event time and the wall instant it was created; event times never
  * decrease. A window `[start, end)` becomes closable at the creation
  * instant of the first event whose event time is at or past
  * `end + watermark`: from then on the stream has seen enough to close
  * it. An alert's latency runs from that instant to the instant its item
  * first appears in the KV store, so it counts queue wait, trigger wait,
  * batch time and sink time, and leaves out the window length and the
  * watermark delay.
  */
final class AlertBook(windowMs: Long, watermarkMs: Long) {
  private val eventMs = ArrayBuffer.empty[Long]
  private val createdNanos = ArrayBuffer.empty[Long]

  def size: Int = eventMs.length

  /** Creation instant of the last recorded event. */
  def lastCreatedNanos: Long = createdNanos.last

  def record(eventTimeMs: Long, createdAtNanos: Long): Unit = {
    require(eventMs.isEmpty || eventTimeMs >= eventMs.last,
      "event times must not decrease")
    eventMs += eventTimeMs
    createdNanos += createdAtNanos
  }

  /** Creation instant of the first event at or past `windowStartMs +
    * window + watermark`; None while no such event exists.
    */
  def closableAt(windowStartMs: Long): Option[Long] = {
    val bound = windowStartMs + windowMs + watermarkMs
    var lo = 0
    var hi = eventMs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (eventMs(mid) < bound) lo = mid + 1 else hi = mid
    }
    if (lo < eventMs.length) Some(createdNanos(lo)) else None
  }

  /** Latency in ms of each alert, keyed by window start (ms) and paired
    * with the instant the alert became visible. Alerts whose window is
    * not closable yet are skipped.
    */
  def latenciesMs(visible: Iterable[(Long, Long)]): Seq[Double] =
    visible.toSeq.flatMap { case (windowStartMs, seenNanos) =>
      closableAt(windowStartMs).map(c => (seenNanos - c) / 1e6)
    }
}
