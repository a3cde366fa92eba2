package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // median-of-N timing: one cold pass then repeats over a warm cache;
    // the median filters page-cache/JIT/GC noise a single pass can't
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Session()
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
    // dev-loop filter: comma-separated name substrings; NEVER set by the
    // driver (full registry is the graded run), only by hand while
    // iterating on one query's plan
    val only: String => Boolean = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(p) if p.nonEmpty =>
        val pats = p.split(',').toSeq; name => pats.exists(name.contains)
      case _ => _ => true
    }
    val names = SparkEntry.queries.keys.toSeq.filter(only).sorted
    val times = collection.mutable.Map.empty[String, List[Double]]
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
    for (_ <- 1 to runs) {
      var passSec = 0.0
      val passSamples = collection.mutable.ListBuffer.empty[Double]
      for ((name, qi) <- names.zipWithIndex) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          times(name) = sec :: times.getOrElse(name, Nil)
          passSec += sec
        } catch {
          case e: Throwable =>
            // raw message; proper JSON escaping happens at emission (jsonString)
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        if (inPassEvery > 0 && (qi + 1) % inPassEvery == 0 &&
            qi + 1 < names.size)
          passSamples += calibrate()
      }
      passTotals += passSec
      inPassCanaries += passSamples.toList
      calibSamples += calibrate() // ambient drift, one sample per pass
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2)
    }
    val topkFires = topkLimitFires(spark, sfDir)
    // millisecond precision: full-double repr overflowed the harness'
    // stdout tail-capture window last round (15 entries truncated)
    def ms(v: Double): Double = math.round(v * 1000) / 1000.0
    // one escape path for EVERY string field (keys, error messages, and
    // env-provided paths like sfDir/outFile alike): Verify's JSON escaper
    import Verify.jsonString
    val med = names.filter(times.contains).map(n => n -> median(times(n)))
    val qs = med.map { case (k, v) => jsonString(k) + ":" + ms(v) }
      .mkString("{", ",", "}")
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonString(k) + ":" + jsonString(v) }
      .mkString("{", ",", "}")
    val total = ms(med.map(_._2).sum)
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
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"runs":$runs,"topk_rewrite_fires":$topkFires,"calibration_sec":${ms(calibrationSec)},"calibration_samples":$calibArr,"canary_mean":${ms(canaryMean)},"canary_idle_ref":$canaryIdleRef,"value_canary_norm":$totalNorm,$ambientJson,"sf":${jsonString(sfDir)},"config":${jsonString(config)}}"""
    // The full per-query line also persists to a file, resolved to an
    // ABSOLUTE path so running outside the repo root can't silently
    // misplace it (r9 ADVICE); a failed write warns instead of vanishing.
    val outFile = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json")
    ).getAbsolutePath
    try {
      val p = java.nio.file.Paths.get(outFile)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARN: could not write $outFile: $e" +
        " — full-json stdout line below is the only copy")
    }
    // ORDER MATTERS. The driver captures only the last ~2000 chars of
    // stdout and parses the final JSON line it finds there. The full
    // per-query map is ~6 KB and can only grow, so it goes FIRST (and to
    // the file above); the ~300-byte compact summary must be the FINAL
    // line. (History: r9's null parse was sbt's trailing `[success]`
    // noise — fixed in build.sbt — while r10/r11's was the oversized
    // full-map line overflowing the tail window.)
    println(full)
    // errors is {} on a healthy run; if a pathological run pushes the
    // compact line past the tail window, ship a count + pointer instead
    val compactErrs =
      if (errs.length <= 1200) errs
      else s"""{"_truncated":${jsonString(s"${errors.size} errors, see full_json")}}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${med.size},"errors":$compactErrs,"error_count":${errors.size},"runs":$runs,"topk_rewrite_fires":$topkFires,"calibration_sec":${ms(calibrationSec)},"calibration_samples":$calibArr,"canary_mean":${ms(canaryMean)},"value_canary_norm":$totalNorm,"pass_totals_norm":$passNormArr,"canary_mean_all":${ms(canaryMeanAll)},"value_canary_norm_all":$totalNormAll,"ambient_unstable":$ambientUnstable,"rerun_recommended":$rerunRecommended,"sf":${jsonString(sfDir)},"full_json":${jsonString(outFile)}}""")
    spark.stop()
  }
}
