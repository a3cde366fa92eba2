package pipebench

import scala.collection.mutable

/** Nested timing spans on one thread. A span's self time is its wall
  * time minus the wall time of the spans opened directly inside it, so
  * the self times of a tree add up to the root's wall time.
  */
final class Tracer(clock: () => Long = () => System.nanoTime()) {
  private final class Frame(val name: String, val start: Long) {
    var childNanos = 0L
  }

  private val open = mutable.Stack.empty[Frame]
  private val selfNanos = mutable.LinkedHashMap.empty[String, Long]

  def span[T](name: String)(body: => T): T = {
    val f = new Frame(name, clock())
    open.push(f)
    try body
    finally {
      open.pop()
      val total = clock() - f.start
      selfNanos(name) = selfNanos.getOrElse(name, 0L) + (total - f.childNanos)
      open.headOption.foreach(_.childNanos += total)
    }
  }

  /** Summed self seconds per span name. */
  def selfTimes: Map[String, Double] = selfNanos.view.mapValues(_ / 1e9).toMap
}
