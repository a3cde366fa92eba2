package graft
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.graft.bridge
import graft.queries.Query
object Bench {

  /** True when a per-key group limit runs map-side of a shuffle: a
    * partial `WindowGroupLimit` in the stage that feeds an `Exchange`,
    * so the shuffle carries at most k rows per key per map task. Takes
    * an executed plan before it runs (AQE's initial plan).
    */
  def groupLimitBeforeExchange(plan: SparkPlan): Boolean = {
    def mapSide(p: SparkPlan): Iterator[SparkPlan] = Iterator(p) ++
      p.children.iterator.filterNot(_.isInstanceOf[Exchange]).flatMap(mapSide)
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    root.collect { case e: ShuffleExchangeExec => e }.exists { e =>
      mapSide(e.child).exists {
        case w: WindowGroupLimitExec => w.mode == Partial
        case _ => false
      }
    }
  }

  /** The `topk_rewrite_fires` check, a regression canary for the window
    * top-k queries: an events `row_number <= 3` per user must still cap
    * rows per key before the shuffle, or those queries shuffle every row.
    */
  def topkLimitFires(spark: SparkSession, sfDir: String): Boolean = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc)
    groupLimitBeforeExchange(graft.model.Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .queryExecution.executedPlan)
  }

  // millisecond precision: full-double repr overflowed the harness'
  // stdout tail-capture window (15 entries truncated)
  private def ms(v: Double): Double = math.round(v * 1000) / 1000.0

  /** Profiles each timed query from listener-bus events alone: `begin`
    * runs the query under a job group of its own, and the listener files
    * that group's jobs (AQE's stage jobs inherit it), their stages and
    * tasks, and the group's SQL executions under the run's tally. The
    * tallies are read after `detach` drains the bus once, at the end of
    * all passes, so nothing waits on the bus between timed queries.
    */
  private final class Profiler(spark: SparkSession) extends SparkListener {
    private final class Tally {
      var jobs, stages, tasks = 0
      var oneTaskStageMs, shuffleRead, shuffleWrite, spill = 0L
      val taskMs = mutable.ArrayBuffer.empty[Long]
      var planMs: Option[Long] = None
    }
    private val sc = spark.sparkContext
    // `begin` adds a group's tally on the main thread; the listener-bus
    // thread alone fills the tallies and the two maps below
    private val byGroup = new ConcurrentHashMap[String, Tally]
    private val byStage = mutable.Map.empty[Int, Tally]
    private val byExecution = mutable.Map.empty[Long, Tally]
    private def tally(group: Option[String]): Option[Tally] =
      group.flatMap(g => Option(byGroup.get(g)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      tally(bridge.jobGroup(e)).foreach { t =>
        t.jobs += 1
        e.stageIds.foreach(byStage(_) = t)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      byStage.get(e.stageInfo.stageId).foreach { t =>
        val i = e.stageInfo
        t.stages += 1
        t.tasks += i.numTasks
        if (i.numTasks == 1) t.oneTaskStageMs +=
          (for (s <- i.submissionTime; c <- i.completionTime) yield c - s)
            .getOrElse(0L)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      byStage.get(e.stageId).foreach { t =>
        Option(e.taskMetrics).foreach { m =>
          t.taskMs += m.executorRunTime
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.diskBytesSpilled
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        tally(s.jobGroupId).foreach(byExecution(s.executionId) = _)
      // the body's own actions end before the timed count starts, so the
      // group's last count is the timed one
      case s: SparkListenerSQLExecutionEnd =>
        for (t <- byExecution.remove(s.executionId);
             p <- bridge.planningMs(s, "count")) t.planMs = Some(p)
      case _ =>
    }

    def attach(): Unit = sc.addSparkListener(this)

    /** Waits for the bus to deliver every event so far, then stops
      * listening; the tallies are complete after this.
      */
    def detach(): Unit = {
      bridge.drainListenerBus(sc)
      sc.removeSparkListener(this)
    }

    /** Starts a query run under a fresh job group; returns the group. */
    def begin(name: String): String = {
      val group = s"bench-${UUID.randomUUID()}"
      byGroup.put(group, new Tally)
      sc.setJobGroup(group, name)
      group
    }

    def end(): Unit = sc.clearJobGroup()

    /** A detached run's layers as a JSON object. `construct_s` (the body
      * builds its frame, eager driver jobs included) plus `exec_s` (its
      * `.count()`) is the timed wall; `plan_s` is the part of `exec_s`
      * that the count's analysis, optimization and planning took. Stage
      * and task figures cover the stages that ran (a reused stage is
      * skipped); task times are executor run times.
      */
    def profile(group: String, constructS: Double, execS: Double): String = {
      val t = byGroup.get(group)
      val taskMs = t.taskMs.sorted
      Seq("construct_s" -> ms(constructS),
        "plan_s" -> t.planMs.fold("null")(p => ms(p / 1000.0).toString),
        "exec_s" -> ms(execS), "jobs" -> t.jobs, "stages" -> t.stages,
        "tasks" -> t.tasks, "one_task_stage_s" -> ms(t.oneTaskStageMs / 1000.0),
        "shuffle_read_bytes" -> t.shuffleRead,
        "shuffle_write_bytes" -> t.shuffleWrite, "spill_bytes" -> t.spill,
        "task_ms_max" -> taskMs.lastOption.getOrElse(0L),
        "task_ms_median" -> (if (taskMs.isEmpty) 0L else taskMs(taskMs.size / 2)))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // median-of-N timing: one cold pass then repeats over a warm cache;
    // the median filters page-cache/JIT/GC noise a single pass can't
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json")
    val spark = Session()
    val (full, compact) = run(spark, sfDir,
      selected(sys.env.get("SPARK_GRAFT_BENCH_ONLY")), runs, outFile)
    // ORDER MATTERS. A graded run's harness keeps only the last ~2000 chars of
    // stdout and parses the final JSON line it finds there. The full
    // JSON (per-query times and profiles, ~55 KB) can only grow, so it
    // goes FIRST (and to the file); the ~450-byte compact summary must be
    // the FINAL line. (History: r9's null parse was sbt's trailing `[success]`
    // noise — fixed in build.sbt — while r10/r11's was the oversized
    // full-map line overflowing the tail window.)
    println(full)
    println(compact)
    spark.stop()
  }

  /** The registry queries `SPARK_GRAFT_BENCH_ONLY` selects: a
    * dev-loop filter of comma-separated name substrings, NEVER set for
    * a graded run (that is the full registry), only by hand
    * while iterating on one query's plan. Unset or empty selects all.
    */
  private[graft] def selected(only: Option[String]): Seq[Query] = {
    val pats = only.filter(_.nonEmpty).map(_.split(',').toSeq)
    SparkEntry.records.filter(q => pats.forall(_.exists(q.name.contains)))
  }

  /** Times `queries` (sorted by name) over `runs` passes and profiles
    * each timed run. Writes the full JSON to `outFile` and returns it
    * with the compact summary line.
    */
  private[graft] def run(spark: SparkSession, sfDir: String,
      queries: Seq[Query], runs: Int, outFile: String): (String, String) = {
    val cpus = Session.cpus
    // warm the session (JVM/codegen/file-index) so per-query numbers
    // measure the query, not first-action startup
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // Contention canary: a fixed CPU + 32-partition-shuffle probe whose
    // idle-box cost is recorded in BASELINE.md. Query timings can't
    // distinguish "code got slower" from "box was busy"; this probe can —
    // it exercises zero graft code, so any inflation here is machine load.
    // Median-of-3 before the run (back-compat `calibration_sec`), PLUS
    // one sample after each registry pass: hypervisor-neighbor load can
    // shift mid-run (two same-HEAD round-12 runs differed 12% at an
    // identical pre-run canary), so the emitted `calibration_samples`
    // band shows whether ambient held steady across the measurement.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(8000000L)
        .selectExpr("id % 10007 as k", "id as v")
        .groupBy("k").sum("v")
        .selectExpr("sum(`sum(v)`)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calibrationSec = List.fill(3)(calibrate()).sorted.apply(1)
    val calibSamples = collection.mutable.ListBuffer(calibrationSec)
    val ordered = queries.sortBy(_.name)
    val names = ordered.map(_.name)
    // each timed run's wall, and its profile once the profiler detaches
    val times = mutable.Map.empty[String, List[(Double, () => String)]]
    // a broken query must be VISIBLE in the bench json, not a fast -1
    val errors = collection.mutable.Map.empty[String, String]
    // IN-PASS canary sampling (r18 verdict #1): the between-pass
    // samples above cannot see a load burst that starts and ends
    // WITHIN one registry pass — the r18 driver capture ran queries
    // 1.55× slower at a canary_mean ≈ the idle r17 run because the
    // inflation sat between the samples. One canary every
    // `inPassEvery` queries (default 25 → ~8 samples over 201
    // queries, ~6 s/pass overhead, not counted in query times) makes
    // an in-pass burst visible in the emitted band.
    val inPassEvery = sys.env.getOrElse("SPARK_GRAFT_CANARY_EVERY", "25").toInt
    val passTotals = collection.mutable.ListBuffer.empty[Double]
    val inPassCanaries =
      collection.mutable.ListBuffer.empty[List[Double]]
    val profiler = new Profiler(spark)
    profiler.attach()
    for (_ <- 1 to runs) {
      var passSec = 0.0
      val passSamples = collection.mutable.ListBuffer.empty[Double]
      for ((q, qi) <- ordered.zipWithIndex) {
        val name = q.name
        val group = profiler.begin(name)
        val t0 = System.nanoTime()
        try {
          val frame = q.body(spark, sfDir)
          val t1 = System.nanoTime()
          frame.count()
          val t2 = System.nanoTime()
          val sec = (t2 - t0) / 1e9
          times(name) = (sec, () => profiler.profile(group, (t1 - t0) / 1e9,
            (t2 - t1) / 1e9)) :: times.getOrElse(name, Nil)
          passSec += sec
        } catch {
          case e: Throwable =>
            // raw message; proper JSON escaping happens at emission (jsonString)
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        } finally profiler.end()
        if (inPassEvery > 0 && (qi + 1) % inPassEvery == 0 &&
            qi + 1 < names.size)
          passSamples += calibrate()
      }
      passTotals += passSec
      inPassCanaries += passSamples.toList
      calibSamples += calibrate() // ambient drift, one sample per pass
    }
    profiler.detach()
    // the median run's wall, with that run's profile
    def median(xs: List[(Double, () => String)]): (Double, () => String) = {
      val s = xs.sortBy(_._1)
      s(s.length / 2)
    }
    val topkFires = topkLimitFires(spark, sfDir)
    // one escape path for EVERY string field (keys, error messages, and
    // env-provided paths like sfDir/outFile alike): Verify's JSON escaper
    import Verify.jsonString
    val med = names.filter(times.contains).map(n => n -> median(times(n)))
    val qs = med.map { case (k, (v, _)) => jsonString(k) + ":" + ms(v) }
      .mkString("{", ",", "}")
    val profiles = med.map { case (k, (_, p)) => jsonString(k) + ":" + p() }
      .mkString("{", ",", "}")
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonString(k) + ":" + jsonString(v) }
      .mkString("{", ",", "}")
    val total = ms(med.map(_._2._1).sum)
    val calibArr = calibSamples.map(ms).mkString("[", ",", "]")
    // Canary-normalized total (r12 verdict: USE the calibration_samples
    // instrumentation, don't just emit it). Four same-night same-HEAD
    // r12 totals spanned 149.7-175.4 s (±12%) at identical pre-run
    // canaries because hypervisor-neighbor load shifted mid-run; the
    // canary band measures exactly that ambient. `value` stays the raw
    // graded number; `value_canary_norm` = value × (idle-anchor canary
    // / this run's canary mean) is the cross-round comparator — a run
    // on a 20%-loaded box normalizes DOWN to what the idle box would
    // have recorded. The 0.567 constant is the recorded idle-box canary
    // anchor (BASELINE.md round-11 capture, confirmed 0.570 in r12).
    val canaryIdleRef = 0.567
    val canaryMean = calibSamples.sum / calibSamples.size
    val totalNorm = ms(total * canaryIdleRef / canaryMean)
    // Per-pass ambient view (r18 verdict #1): pass p's canary mean is
    // its in-pass samples plus the sample taken right after it
    // (calibSamples(p+1); calibSamples(0) is the pre-run median).
    // `canary_mean_all` folds the in-pass samples into the normalizer —
    // the cross-round comparator that the r18 blind spot motivated —
    // while `canary_mean` keeps the old between-pass definition for
    // back-compat with prior rounds' captures.
    val passCanaryMeans = passTotals.indices.map { p =>
      val s = inPassCanaries(p) :+ calibSamples(p + 1)
      s.sum / s.size
    }
    val allSamples = calibSamples.toList ++ inPassCanaries.flatten
    val canaryMeanAll = allSamples.sum / allSamples.size
    val totalNormAll = ms(total * canaryIdleRef / canaryMeanAll)
    // instability flag + re-run rule (BASELINE.md protocol): a capture
    // whose canary band spans >1.3× within one run measured a MOVING
    // ambient — one cold re-run is warranted before the number stands.
    // The r18 driver capture (samples 0.748→1.01, ratio 1.35) trips
    // this; the same-HEAD clean re-run does not.
    val ambientUnstable =
      allSamples.nonEmpty && allSamples.max / allSamples.min > 1.3
    val rerunRecommended = ambientUnstable ||
      sys.env.get("SPARK_GRAFT_BENCH_PREV_NORM").exists { p =>
        totalNormAll > 1.12 * p.toDouble
      }
    // the session config, recorded so baseline_table.py renders what
    // actually ran instead of assuming the default
    val config = s"local[$cpus], shuffle=$cpus, UTC"
    val passArr = passTotals.map(ms).mkString("[", ",", "]")
    val passNormArr = passTotals.indices
      .map(p => ms(passTotals(p) * canaryIdleRef / passCanaryMeans(p)))
      .mkString("[", ",", "]")
    val passCanArr = passCanaryMeans.map(ms).mkString("[", ",", "]")
    val inPassArr = inPassCanaries
      .map(_.map(ms).mkString("[", ",", "]")).mkString("[", ",", "]")
    val ambientJson =
      s""""pass_totals":$passArr,"pass_totals_norm":$passNormArr,"pass_canary_means":$passCanArr,"inpass_canaries":$inPassArr,"canary_mean_all":${ms(canaryMeanAll)},"value_canary_norm_all":$totalNormAll,"ambient_unstable":$ambientUnstable,"rerun_recommended":$rerunRecommended"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"runs":$runs,"topk_rewrite_fires":$topkFires,"calibration_sec":${ms(calibrationSec)},"calibration_samples":$calibArr,"canary_mean":${ms(canaryMean)},"canary_idle_ref":$canaryIdleRef,"value_canary_norm":$totalNorm,$ambientJson,"sf":${jsonString(sfDir)},"config":${jsonString(config)},"profile":$profiles}"""
    // The full per-query line also persists to a file, resolved to an
    // ABSOLUTE path so running outside the repo root can't silently
    // misplace it (r9 ADVICE); a failed write warns instead of vanishing.
    val outPath = new java.io.File(outFile).getAbsolutePath
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARN: could not write $outPath: $e" +
        " — full-json stdout line below is the only copy")
    }
    // errors is {} on a healthy run; if a pathological run pushes the
    // compact line past the tail window, ship a count + pointer instead
    val compactErrs =
      if (errs.length <= 1200) errs
      else s"""{"_truncated":${jsonString(s"${errors.size} errors, see full_json")}}"""
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","n":${med.size},"errors":$compactErrs,"error_count":${errors.size},"runs":$runs,"topk_rewrite_fires":$topkFires,"calibration_sec":${ms(calibrationSec)},"calibration_samples":$calibArr,"canary_mean":${ms(canaryMean)},"value_canary_norm":$totalNorm,"pass_totals_norm":$passNormArr,"canary_mean_all":${ms(canaryMeanAll)},"value_canary_norm_all":$totalNormAll,"ambient_unstable":$ambientUnstable,"rerun_recommended":$rerunRecommended,"sf":${jsonString(sfDir)},"full_json":${jsonString(outPath)}}"""
    (full, compact)
  }
}
