package pipebench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Everything one run measures. Workloads record into it; [[Main]]
  * turns it into the result lines.
  */
final class Results {
  val unitWall = ArrayBuffer.empty[Double]
  val unitCpu = ArrayBuffer.empty[Double]
  val tracedWall = ArrayBuffer.empty[Double]
  val untracedWall = ArrayBuffer.empty[Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** One operation: counted as attempted, and as failed unless `ok`. */
  def op(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.length < 20) failures += what.take(300)
    }
  }

  /** Runs `body` as one operation; a throw is a failed operation. */
  def guard(what: String)(body: => Boolean): Unit = {
    val ok = try body catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        op(ok = false, s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        return
    }
    op(ok, s"$what: wrong result")
  }

  /** Times one repetition of the workload's unit of work (wall and
    * process CPU seconds).
    */
  def timedUnit[T](traced: Boolean)(body: => T): T = {
    val c0 = HostLoad.processCpuNanos()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    unitWall += wall
    unitCpu += (HostLoad.processCpuNanos() - c0) / 1e9
    (if (traced) tracedWall else untracedWall) += wall
    r
  }

  /** Per-layer values measured once per traced unit are reported as
    * their median over the traced units.
    */
  private val layerSamples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def layerSample(name: String, v: Double): Unit =
    layerSamples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  def foldLayerSamples(): Unit =
    layerSamples.foreach { case (k, xs) => layer(k) = Stats.median(xs.toSeq) }
}
