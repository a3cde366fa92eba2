package pipebench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One set-up's live state: [[warmUp]] runs once after the last
  * set-up, then the timed phase calls [[unit]] repeatedly, then
  * [[after]] runs the workload's checks and untimed phases.
  */
trait Session {
  def warmUp(traced: Boolean): Unit
  /** One repetition of the workload's unit of work. `engine` is set on
    * traced repetitions.
    */
  def unit(res: Results, engine: Option[Engine]): Unit
  def after(res: Results, traced: Boolean): Unit = ()
}

trait Workload {
  /** Spark task slots; together with the workload's own client threads
    * they stay within the box's 4 cores.
    */
  def slots: Int
  /** Repetitions of the unit of work the timed phase runs at least. */
  def minUnits: Int
  /** Generates the inputs from the seed into `dir`. */
  def prepare(spark: SparkSession, seed: Long, dir: File): Session
}

/** Runs one workload:
  * `pipebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints a detail line (sample counts, tail percentiles, host load),
  * then the result line `{"correct", "attempted", "failed", "metrics"}`
  * last.
  */
object Main {
  val SetUps = 3

  def workloads(benchDir: File): Map[String, Workload] = Map(
    "card_pipeline" -> CardPipeline,
    "curation" -> new Curation(new File(benchDir, "golden/curation.tsv")))

  def session(slots: Int, dir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    graft.plans.TopKPerKey.ensureRegistered(spark)
    spark
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"pipebench ${(System.nanoTime() - t0) / 1e9}%8.2f s  $msg")

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val benchDir = new File(a.getOrElse("bench", "pipebench"))
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = new File(a("work")).getAbsoluteFile
    val wl = workloads(benchDir).getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val res = new Results

    // set-up = session start + input generation, repeated (median
    // reported), then one warm-up on the last set-up's session
    var live: (SparkSession, Session) = null
    val prepareS = (1 to SetUps).map { i =>
      if (live != null) {
        live._1.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val dir = new File(work, s"setup$i")
      deleteTree(dir)
      dir.mkdirs()
      val t0 = System.nanoTime()
      val spark = session(wl.slots, dir)
      live = (spark, wl.prepare(spark, seed, dir))
      log(s"set-up $i done")
      (System.nanoTime() - t0) / 1e9
    }
    val (spark, state) = live
    val w0 = System.nanoTime()
    state.warmUp(traced)
    val warmUpS = (System.nanoTime() - w0) / 1e9
    log("warm-up done")

    val host0 = HostLoad.sample()
    val deadline = host0.wallNanos + (seconds * 1e9).toLong
    // traced runs alternate traced and untraced units, so they need one
    // more to have both
    val minUnits = wl.minUnits + (if (traced && wl.minUnits % 2 == 1) 1 else 0)
    var i = 0
    while (i < minUnits || System.nanoTime() < deadline) {
      val engine = if (traced && i % 2 == 0) Some(new Engine(spark).attach()) else None
      state.unit(res, engine)
      engine.foreach { e =>
        e.detach()
        e.summary.foreach { case (k, v) => res.layerSample(k, v) }
      }
      i += 1
    }
    val host1 = HostLoad.sample()
    log(s"timed phase done: $i units")
    state.after(res, traced)

    // heap retained at the end of the timed phase: full GCs with pauses
    // between them, so Spark's cleaner can drop what the first GC freed
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    if (traced) {
      res.foldLayerSamples()
      if (res.tracedWall.nonEmpty && res.untracedWall.nonEmpty)
        res.layer("trace.overhead_pct") =
          (Stats.median(res.tracedWall.toSeq) / Stats.median(res.untracedWall.toSeq) - 1) * 100
    }

    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (Stats.median(prepareS) + warmUpS),
      "job_s" -> Stats.median(res.unitWall.toSeq),
      "cpu_s" -> Stats.median(res.unitCpu.toSeq),
      "heap_used_mb" -> heapMb)
    val units = if (traced) Metrics.PerLayer else Metrics.EndToEnd
    val values: String => Double =
      if (traced) k => res.layer.getOrElse(k, 0.0) else k => e2e(k)
    val metrics = mutable.LinkedHashMap.empty[String, Any]
    units.foreach { case (k, u) =>
      val v = Some(values(k)).filterNot(x => x.isNaN || x.isInfinite)
      if (v.isEmpty) res.op(ok = false, s"$k is not a finite number")
      metrics(k) = mutable.LinkedHashMap("value" -> v, "unit" -> u)
    }

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "prepare_s_samples" -> prepareS, "warm_up_s" -> warmUpS,
      "units" -> res.unitWall.length,
      "job_s_samples" -> res.unitWall.toSeq,
      "cpu_s_samples" -> res.unitCpu.toSeq,
      "host" -> HostLoad.between(host0, host1),
      "end_to_end" -> e2e,
      "failures" -> res.failures.toSeq) ++ res.info
    if (traced) detail("per_layer") = res.layer
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    println("pipebench-detail " + json.writeValueAsString(detail))
    println(json.writeValueAsString(mutable.LinkedHashMap(
      "correct" -> (res.failed == 0), "attempted" -> res.attempted,
      "failed" -> res.failed, "metrics" -> metrics)))
    System.out.flush()
    spark.stop()
  }
}
