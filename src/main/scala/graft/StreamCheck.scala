package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Driver-runnable streaming evidence (sbt-free). Twelve parity
  * checks, each printing ONE JSON line:
  *
  *  - `fraud` (§2.9 T1-T5/T7/T10): the windowed-agg fraud plan with
  *    `Trigger.AvailableNow`, stream == batch parity against the batch
  *    twin, then a rerun on the same checkpoint proving the bookmark
  *    (second pass processes 0 rows).
  *  - `stateful` (§2.9 T8 surface): `flatMapGroupsWithState` running-
  *    spend alerts over the same file stream, parity vs the window-
  *    predicate batch twin.
  *  - `streamjoin` (§2.9 T11-adjacent): watermarked stream-stream
  *    interval join (views ⋈ purchases within 1 h per user), parity vs
  *    the identical batch join.
  *  - `outerjoin`: the LEFT OUTER form of that join — matched rows and
  *    watermark-due null rows vs the batch inner and anti joins.
  *  - `session`: session windows vs the batch sessionization.
  *  - `dedup`: `dropDuplicatesWithinWatermark` key set vs batch
  *    `distinct`.
  *  - `staticjoin`: stream-static broadcast enrichment vs the batch
  *    join.
  *  - `drift`: per-window PSI against a static baseline.
  *  - `quality`: in-flight classifier scoring vs batch scoring.
  *  - `cms`: per-window Count-Min sketch bytes vs the batch sketch.
  *  - `latedrop`: rows behind the watermark dropped, in-state rows
  *    merged, on a synthetic three-file source.
  *  - `winnow`: in-flight winnowing fingerprints matched against a
  *    static corpus index.
  *
  * `--check=bench` is a throughput mode, not one of the twelve (see
  * `checkBench`).
  *
  * Usage: `runMain graft.StreamCheck [sfDir]
  * [--check=fraud|stateful|streamjoin|outerjoin|session|dedup|staticjoin|drift|quality|cms|latedrop|winnow|all]`
  * (defaults: sf0.01, all). Exit 1 if any selected check fails.
  */
object StreamCheck {

  private def js(d: Double): Double = math.rint(d * 1000) / 1000

  def main(args: Array[String]): Unit = {
    val sfDir = args.find(!_.startsWith("--")).getOrElse("/root/testdata/sf0.01")
    val mode = args.find(_.startsWith("--check="))
      .map(_.stripPrefix("--check=")).getOrElse("all")
    val spark = Session("spark.sql.legacy.parquet.nanosAsLong" -> "true")

    val checks: Seq[(String, () => Boolean)] = Seq(
      "fraud" -> (() => checkFraud(spark, sfDir)),
      "stateful" -> (() => checkStateful(spark, sfDir)),
      "streamjoin" -> (() => checkStreamJoin(spark, sfDir)),
      "outerjoin" -> (() => checkOuterJoin(spark, sfDir)),
      "session" -> (() => checkSession(spark, sfDir)),
      "dedup" -> (() => checkDedup(spark, sfDir)),
      "staticjoin" -> (() => checkStaticJoin(spark, sfDir)),
      "drift" -> (() => checkDrift(spark, sfDir)),
      "quality" -> (() => checkQuality(spark, sfDir)),
      "cms" -> (() => checkCms(spark, sfDir)),
      "latedrop" -> (() => checkLateDrop(spark, sfDir)),
      "winnow" -> (() => checkWinnowScreen(spark, sfDir)))
    // `bench` is a THROUGHPUT mode, not a parity check: it re-runs the
    // three stateful plan families over a sliced replay source and
    // reports rows/sec + per-micro-batch latency. Excluded from `all`
    // so the 12-check parity battery stays the cross-round comparator.
    if (mode == "bench") {
      val ok = checkBench(spark, sfDir)
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    val selected = checks.filter { case (n, _) => mode == "all" || mode == n }
    require(selected.nonEmpty, s"unknown --check=$mode")
    val ok = selected.map { case (_, f) => f() }.forall(identity)
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** File-stream over the harness events parquet, `ts` normalized to
    * µs TimestampType whatever the on-disk type (same adaptation as
    * the batch loader).
    */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.StreamingFraud.eventsStream(spark, sfDir, "events.parquet")

  /** Run a streaming DF to parquet via foreachBatch+AvailableNow (memory
    * sink can't recover checkpoints; b.count() forces every partition so
    * stateful commits validate), returning rows processed this run.
    */
  private def runToParquet(df: DataFrame, ckpt: String, outDir: String): Long = {
    val processed = new java.util.concurrent.atomic.AtomicLong
    val q = df.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        processed.addAndGet(b.count())
        b.write.mode("append").parquet(outDir)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    processed.get()
  }

  /** Parity report: stream output (parquet at outDir) vs batch twin. */
  private def parityLine(check: String, sfDir: String, outDir: String,
                         batch: DataFrame, extraJson: String, sec: Double,
                         extraOk: Boolean,
                         distinctStream: Boolean = false): Boolean = {
    val spark = batch.sparkSession
    // distinctStream = the check's contract is a KEY-SET compare: a
    // multi-batch source may legitimately re-emit a key after state
    // eviction (watermark passed), so collapse the stream output to its
    // key set before the multiset exceptAll
    val raw = spark.read.parquet(outDir)
    val stream = if (distinctStream) raw.distinct() else raw
    val streamRows = stream.count()
    val missing = batch.exceptAll(stream).count() // in batch, not stream
    val extra = stream.exceptAll(batch).count()   // in stream, not batch
    val parity = streamRows > 0 && missing == 0 && extra == 0
    println(
      s"""{"check":"$check","sf":"$sfDir","rows":$streamRows,""" +
      s""""parity":$parity,"missing_vs_batch":$missing,"extra_vs_batch":$extra,""" +
      extraJson + s""""sec":${js(sec)}}""")
    parity && extraOk
  }

  private def checkFraud(spark: SparkSession, sfDir: String): Boolean = {
    val windowSec = graft.queries.ReferenceQueries.WindowSec
    val threshold = graft.queries.ReferenceQueries.Threshold
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    def plan() = graft.streaming.StreamingFraud
      .fraudStream(eventsStream(spark, sfDir), windowSec, threshold)
    val t0 = System.nanoTime()
    runToParquet(plan(), ckpt, outDir)
    // bookmark rerun: same checkpoint, no new files → processes nothing
    val rerun = runToParquet(plan(), ckpt, outDir)
    val batch = graft.stream.Fraud.windowSum(
      graft.model.Tables.events(spark, sfDir), windowSec, threshold)
    parityLine("streaming_fraud", sfDir, outDir, batch,
      s""""rerun_processed":$rerun,"bookmark_ok":${rerun == 0L},""",
      (System.nanoTime() - t0) / 1e9, extraOk = rerun == 0L)
  }

  /** flatMapGroupsWithState spend alerts: stream over the events file,
    * batch twin = running-sum window predicate (the oracle-checked
    * `stateful_spend_alert` plan). AvailableNow delivers the whole file
    * ordered within the batch by the operator's own (ts, event_id) sort,
    * so the alert set must match the batch twin exactly.
    */
  private def checkStateful(spark: SparkSession, sfDir: String): Boolean = {
    val threshold = 200.0
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val t0 = System.nanoTime()
    val alerts = graft.streaming.StatefulSpend.streamingSpendAlerts(
      graft.streaming.StatefulSpend.asTxns(eventsStream(spark, sfDir)),
      threshold).toDF()
    runToParquet(alerts, ckpt, outDir)
    val batch = graft.streaming.StatefulSpend.batchSpendAlerts(
      graft.model.Tables.events(spark, sfDir), threshold)
    parityLine("streaming_stateful_spend", sfDir, outDir, batch, "",
      (System.nanoTime() - t0) / 1e9, extraOk = true)
  }

  /** Streaming session windows: dynamic-gap state merging (sessions
    * extend/merge as events arrive, close at watermark), vs the
    * oracle-checked batch `window_session_sum` plan — same 5-minute
    * gap, same aggregates. AvailableNow delivers the whole file, the
    * final watermark sweep closes every session, so the emitted set
    * must equal the batch sessionization exactly.
    */
  private def checkSession(spark: SparkSession, sfDir: String): Boolean = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val t0 = System.nanoTime()
    val stream = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("n_events"), col("total_value"))
    runToParquet(stream, ckpt, outDir)
    // append mode emits a session only once the watermark passes its
    // end; the final watermark is max(ts) - 10 s, so sessions ending
    // inside that last horizon are STILL OPEN in state — correctly
    // unemitted. Parity therefore runs over the closeable set, with the
    // open remainder counted (must be tiny: only sessions whose last
    // event sits within gap+delay of the corpus max).
    val ev = graft.model.Tables.events(spark, sfDir)
    val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val batch = SparkEntry.queries("window_session_sum")(spark, sfDir)
    val closeable = batch.where(col("session_end") <= maxTs - 10)
    val total = batch.count()
    val open = total - closeable.count()
    // only sessions whose last event sits within gap+delay of the
    // corpus max can be open — a fixed cap breaks at larger sf (the
    // horizon holds ~10× the sessions at sf0.1), so bound the FRACTION
    parityLine("streaming_session_window", sfDir, outDir, closeable,
      s""""open_sessions":$open,""",
      (System.nanoTime() - t0) / 1e9,
      extraOk = open <= math.max(5L, total / 1000))
  }

  /** Streaming dedup: `dropDuplicatesWithinWatermark` over a
    * duplicate-prone message key (same user, same event type, same
    * rounded amount — the producer-retry shape). State is keyed by the
    * fingerprint and bounded by the watermark, the property that makes
    * exactly-once-per-key viable on an unbounded stream. Which PHYSICAL
    * row survives depends on arrival order, so parity compares the KEY
    * SET: stream output == batch `distinct` — dedup complete (no key
    * missing) and never over-dropping (no key lost).
    *
    * The source is REBUILT as three event-time-sliced files streamed
    * with `maxFilesPerTrigger=1`, so three real micro-batches run:
    * a fingerprint recurring in a later slice sits far past the 10 s
    * watermark, its state is already evicted, and the key legitimately
    * RE-EMITS — the multiset and the key set genuinely differ
    * (`reemitted_keys` must be > 0 or the check fails), which is
    * exactly the scenario the KEY-SET contract exists for. A
    * single-file single-batch source would pass even under a multiset
    * compare and prove nothing.
    */
  private def checkDedup(spark: SparkSession, sfDir: String): Boolean = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sc_src")
    val t0 = System.nanoTime()
    val ev = graft.model.Tables.events(spark, sfDir)
    val bounds = ev.agg(min(unix_timestamp(col("ts"))),
      max(unix_timestamp(col("ts")))).head()
    val (tMin, tMax) = (bounds.getLong(0), bounds.getLong(1))
    val nFiles = 3
    (0 until nFiles).foreach { i =>
      val lo = tMin + (tMax - tMin + 1) * i / nFiles
      val hi = tMin + (tMax - tMin + 1) * (i + 1) / nFiles
      val tmp = java.nio.file.Files.createTempDirectory("graft_sc_slice").toString
      ev.where(unix_timestamp(col("ts")) >= lo &&
          unix_timestamp(col("ts")) < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = srcDir.resolve(f"slice$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      // strictly increasing mtimes pin the micro-batch order to the
      // event-time order (FileStreamSource takes oldest files first)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    def keyed(df: DataFrame) = df.select(col("ts"),
      concat_ws(":", col("user_id"), col("event_type"),
        round(col("value"), 0).cast("long")).as("fp"))
    val stream = keyed(spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("fp")
      .select("fp")
    runToParquet(stream, ckpt, outDir)
    val raw = spark.read.parquet(outDir)
    val reemitted = raw.count() - raw.distinct().count()
    val batch = keyed(ev).select("fp").distinct()
    parityLine("streaming_dedup", sfDir, outDir, batch,
      s""""src_files":$nFiles,"reemitted_keys":$reemitted,""",
      (System.nanoTime() - t0) / 1e9, extraOk = reemitted > 0,
      distinctStream = true)
  }

  /** Stream-static broadcast join — the production dim-enrichment
    * shape: the streaming fact joined to a bounded dimension (events ⋈
    * customer on user_id = c_custkey), dim broadcast per micro-batch,
    * NO state and no watermark (the static side is bounded, so nothing
    * buffers). Parity: the identical batch join. At 100 TB the stream's
    * partitioning is untouched — the dim ships to the executors, the
    * fact never shuffles.
    */
  private def checkStaticJoin(spark: SparkSession, sfDir: String): Boolean = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val t0 = System.nanoTime()
    val dim = graft.model.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    def enrich(events: DataFrame) = events
      .select(col("event_id"), col("user_id"), col("event_type"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"),
        col("event_type"), col("c_mktsegment"))
    runToParquet(enrich(eventsStream(spark, sfDir)), ckpt, outDir)
    val batch = enrich(graft.model.Tables.events(spark, sfDir))
    parityLine("streaming_static_join", sfDir, outDir, batch, "",
      (System.nanoTime() - t0) / 1e9, extraOk = true)
  }

  /** Streaming drift monitor (the per-window form of
    * [[graft.etl.Drift.psiByBucket]]): each 10-second event-time window
    * scores the PSI of its `value` histogram against a STATIC baseline
    * distribution — the data-quality monitor an ingest stream runs so a
    * shifted source alarms within one window, not at the next batch
    * audit. ONE windowed aggregation builds the 10-bucket histogram as
    * conditional counts (a second stateful agg for the PSI sum would
    * hit the multiple-stateful-operator restrictions); the PSI is then
    * a stateless per-row expression over those counts, with the
    * baseline proportions as driver model state (10 longs — the
    * k-means-centroids precedent). Batch twin = identical expressions
    * over a batch groupBy; every per-window PSI must match exactly
    * (per-row scalar arithmetic, no cross-row float sums).
    */
  private def checkDrift(spark: SparkSession, sfDir: String): Boolean = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val t0 = System.nanoTime()
    val nB = 10
    def bucket = least(floor(col("value") / 20), lit(nB - 1)).cast("int")
    // static baseline: the batch table's global bucket counts
    val base = graft.model.Tables.events(spark, sfDir)
      .groupBy(bucket.as("b")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val baseTotal = base.values.sum
    def p0(b: Int): Double = (base.getOrElse(b, 0L) + 1).toDouble / (baseTotal + nB)
    def hist(df: DataFrame) = {
      val cs = (0 until nB).map(b =>
        sum(when(bucket === b, 1L).otherwise(0L)).as(s"c$b"))
      df.groupBy(window(col("ts"), "10 seconds")).agg(cs.head, cs.tail: _*)
    }
    def psi(df: DataFrame) = {
      val total = (0 until nB).map(b => col(s"c$b")).reduce(_ + _)
      val terms = (0 until nB).map { b =>
        val pn = (col(s"c$b") + 1) / (total + lit(nB))
        (pn - lit(p0(b))) * log(pn / lit(p0(b)))
      }
      df.select(col("window.end").as("wend"),
        round(terms.reduce(_ + _), 6).as("psi"))
    }
    runToParquet(
      psi(hist(eventsStream(spark, sfDir).withWatermark("ts", "10 seconds"))),
      ckpt, outDir)
    // append mode emits a window once the watermark (max ts - 10 s)
    // passes its end, so the final window is correctly still open —
    // parity runs over the closeable set, open remainder counted
    val ev = graft.model.Tables.events(spark, sfDir)
    val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val batch = psi(hist(ev))
    val closeable = batch.where(unix_timestamp(col("wend")) <= maxTs - 10)
    val open = batch.count() - closeable.count()
    // the max over zero closed windows aggregates to NULL (tiny sf /
    // short event span) — read it as an Option so the check reports a
    // clean parity failure instead of an NPE
    val maxRow = spark.read.parquet(outDir).agg(max(col("psi"))).head()
    val maxPsi = if (maxRow.isNullAt(0)) None else Some(maxRow.getDouble(0))
    parityLine("streaming_drift", sfDir, outDir, closeable,
      s""""buckets":$nB,"open_windows":$open,""" +
        s""""max_window_psi":${maxPsi.map(js(_).toString).getOrElse("null")},""",
      (System.nanoTime() - t0) / 1e9,
      extraOk = maxPsi.exists(!_.isNaN) && open <= 2)
  }

  /** Streaming quality gate: the trained classifier's map-only scoring
    * running INSIDE a stream — the offline-train / online-serve split a
    * real curation pipeline ships. The model is sample-trained in batch
    * ([[graft.text.QualityClassifier]]), then its 256 weights enter the
    * streaming projection as broadcast literals: NO state, no
    * watermark, the stream's partitioning untouched — each arriving
    * document is scored and gated in-flight. Parity: the identical
    * batch scoring must match EXACTLY (per-row scalar arithmetic, no
    * cross-row float sums to reorder).
    */
  private def checkQuality(spark: SparkSession, sfDir: String): Boolean = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val t0 = System.nanoTime()
    val docs = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text")
    val (w, b) = graft.text.QualityClassifier.train(docs, "text",
      col("lang") === "en", numBuckets = 256, iters = 3,
      sampleMod = graft.text.QualityClassifier.sampleModFor(docs.count(), 250))
    val schema = spark.read
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir).schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .select("doc_id", "text")
    val scored = graft.text.QualityClassifier.score(
      stream, "doc_id", "text", w, b, numBuckets = 256, threshold = 0.5)
    runToParquet(scored, ckpt, outDir)
    val batch = graft.text.QualityClassifier.score(
      docs, "doc_id", "text", w, b, numBuckets = 256, threshold = 0.5)
    parityLine("streaming_quality_gate", sfDir, outDir, batch, "",
      (System.nanoTime() - t0) / 1e9, extraOk = true)
  }

  /** Streaming near-dup screen: winnowing fingerprints computed
    * IN-FLIGHT on arriving documents (the map-only array-HOF
    * formulation of [[graft.text.TextAnalysis.winnowFingerprints]] is
    * stream-legal — zero shuffles, zero state; the windowed twin would
    * be rejected by Structured Streaming outright) and matched against
    * a STATIC fingerprint index of the existing corpus via a broadcast
    * stream-static join — the online "is this incoming doc an excerpt
    * of something we already have" gate, the streaming face of the
    * batch `text_winnow_neardups` query. Parity: the identical batch
    * screen must produce exactly the same (doc, pos, fp) match rows.
    */
  private def checkWinnowScreen(spark: SparkSession,
                                sfDir: String): Boolean = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val t0 = System.nanoTime()
    val docs = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    // static index: fingerprints of the standing corpus (¾ slice),
    // hot fingerprints df-capped exactly as in the batch pairing
    val idx = {
      val sel = graft.text.TextAnalysis.winnowFingerprints(
          docs.where(col("doc_id") % 4 =!= 0), "doc_id", "text", 3, 4)
        .select(col("fp")).groupBy("fp").agg(count(lit(1)).as("df"))
      sel.where(col("df") <= 20).select("fp")
    }
    def screen(in: DataFrame) =
      graft.text.TextAnalysis.winnowFingerprints(
          in.where(col("doc_id") % 4 === 0), "doc_id", "text", 3, 4)
        .join(broadcast(idx), "fp")
        .select(col("doc_id"), col("pos"), col("fp"))
    val schema = spark.read
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir).schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .select("doc_id", "text")
    runToParquet(screen(stream), ckpt, outDir)
    parityLine("streaming_winnow_screen", sfDir, outDir, screen(docs), "",
      (System.nanoTime() - t0) / 1e9, extraOk = true)
  }

  /** Streaming heavy-hitter sketching: ONE Count-Min sketch per
    * event-time window over the user_id stream — online frequency
    * monitoring with bounded state (the grid is (eps, confidence)-
    * sized, not cardinality-sized). Parity is the STRONGEST form: the
    * emitted sketch BYTES must equal the batch window's sketch
    * byte-for-byte (CMS cells merge by exact integer addition, so
    * stream micro-batching cannot perturb them — the same argument
    * that makes `corpus_heavyhitters_cms` partition-invariant),
    * compared as md5 per closed window.
    */
  private def checkCms(spark: SparkSession, sfDir: String): Boolean = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val t0 = System.nanoTime()
    def sk(df: DataFrame) =
      df.groupBy(window(col("ts"), "10 seconds"))
        // eps 0.01 → a 200×5 grid (~8 KB/window): per-window error
        // bound 1% of window mass, state bounded at windows × 8 KB
        .agg(expr("count_min_sketch(CAST(user_id AS STRING), " +
          "CAST(0.01 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)").as("__sk"))
        .select(col("window.end").as("wend"), md5(col("__sk")).as("sketch_md5"))
    runToParquet(
      sk(eventsStream(spark, sfDir).withWatermark("ts", "10 seconds")),
      ckpt, outDir)
    val ev = graft.model.Tables.events(spark, sfDir)
    val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val batch = sk(ev)
    val closeable = batch.where(unix_timestamp(col("wend")) <= maxTs - 10)
    val open = batch.count() - closeable.count()
    parityLine("streaming_cms_heavyhitters", sfDir, outDir, closeable,
      s""""open_windows":$open,""",
      (System.nanoTime() - t0) / 1e9, extraOk = open <= 2)
  }

  /** §2.9 LATE-DATA DROP accounting — the watermark semantics none of
    * the parity checks isolates: a row arriving AFTER its window's
    * state was evicted must be dropped, while an old-but-in-state row
    * must still merge. Fully synthetic three-file source (controlled
    * event times, mtime-pinned batch order, `maxFilesPerTrigger=1`):
    *
    *   file 0: minutes 1-9, one row each
    *   file 1: minutes 10-14 on time → batch-2 planning watermark 12.5m
    *           (batch-1's was 7.5m — Spark's late filter lags one batch)
    *   file 2: minutes 15-19 on time; minute-2/3 stragglers (window
    *           ends 3m/4m, BELOW even the lagged 7.5m watermark and
    *           already state-evicted → DROPPED); a minute-13 straggler
    *           (window end 14m, above even the un-lagged 12.5m
    *           watermark → state alive → MERGES to count 2); and a
    *           minute-30 "closer" that pushes the final watermark past
    *           every kept window (append mode flushes them all; the
    *           closer's own window stays open)
    *
    * The expected table is computed DRIVER-SIDE from the watermark
    * contract (19 windows, minute 13 at count 2). Every straggler is
    * placed so the lagged (previous-batch) and un-lagged watermark
    * rules AGREE on its fate — the check pins the drop/merge contract,
    * not the lag flavor; `extraOk` additionally requires that the
    * naive no-drop aggregation DIFFERS (the check cannot pass
    * vacuously).
    */
  private def checkLateDrop(spark: SparkSession, sfDir: String): Boolean = {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sc_src")
    val t0 = System.nanoTime()
    val base = 1700000000L - (1700000000L % 60) // window-aligned epoch sec
    def m(min: Long, sec: Long = 30L): Long = base + min * 60 + sec
    val files = Seq(
      (1L to 9L).map(m(_)),
      (10L to 14L).map(m(_)),
      (15L to 19L).map(m(_)) ++ Seq(m(2), m(3), m(13, 45), m(30)))
    files.zipWithIndex.foreach { case (secs, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_sc_slice").toString
      secs.toDF("sec").select(col("sec").cast("timestamp").as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = srcDir.resolve(f"slice$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .withWatermark("ts", "120 seconds")
      .groupBy(window(col("ts"), "60 seconds"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.end")).as("wend"), col("cnt"))
    runToParquet(stream, ckpt, outDir)
    val predicted = (1L to 19L)
      .map(min => (base + (min + 1) * 60, if (min == 13) 2L else 1L))
      .toDF("wend", "cnt")
    val naive = files.flatten.toDF("sec")
      .groupBy((col("sec") - col("sec") % 60).as("wstart"))
      .agg(count(lit(1)).as("cnt"))
      .select((col("wstart") + 60).as("wend"), col("cnt"))
    val naiveDiffers = naive.exceptAll(predicted).count() > 0
    parityLine("streaming_late_drop", sfDir, outDir, predicted,
      s""""late_dropped":2,"late_merged":1,"open_windows":1,""" +
        s""""naive_differs":$naiveDiffers,""",
      (System.nanoTime() - t0) / 1e9, extraOk = naiveDiffers)
  }

  /** Inputs of the view ⋈ purchase interval join that `streamjoin`,
    * `outerjoin` and the `bench` join family share: views and purchases
    * of one events frame (stream or batch), and the join predicate —
    * same user, purchase within 1 h after the view.
    */
  private def views(df: DataFrame): DataFrame =
    df.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("vts"),
        col("event_id").as("view_id"))

  private def buys(df: DataFrame): DataFrame =
    df.where(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("bts"),
        col("event_id").as("buy_id"), col("value").as("amount"))

  private val viewBuyCond =
    "v_user = b_user AND bts >= vts AND bts <= vts + interval 1 hour"

  /** Watermarked stream-stream interval join: purchases within 1 h of a
    * view by the same user, both sides file streams over the same events
    * parquet. Batch twin = the identical join predicate in batch mode
    * (AvailableNow delivers everything before the final watermark sweep,
    * so no in-window match can be dropped). Each side buffers only rows
    * younger than watermark + interval — the state bound that makes the
    * join viable on unbounded streams.
    */
  private def checkStreamJoin(spark: SparkSession, sfDir: String): Boolean = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val t0 = System.nanoTime()
    val joined = views(eventsStream(spark, sfDir)).withWatermark("vts", "10 seconds")
      .join(buys(eventsStream(spark, sfDir)).withWatermark("bts", "10 seconds"),
        expr(viewBuyCond))
      .select(col("v_user").as("user_id"), col("view_id"), col("buy_id"),
        col("amount"))
    runToParquet(joined, ckpt, outDir)
    val ev = graft.model.Tables.events(spark, sfDir)
    val batch = views(ev).join(buys(ev), expr(viewBuyCond))
      .select(col("v_user").as("user_id"), col("view_id"), col("buy_id"),
        col("amount"))
    parityLine("streaming_stream_join", sfDir, outDir, batch, "",
      (System.nanoTime() - t0) / 1e9, extraOk = true)
  }

  /** LEFT OUTER stream-stream interval join — the watermark-driven
    * null-emission semantics the inner-join check can't see. An
    * unmatched view emits its null-extended row only when the
    * watermark proves no matching purchase can still arrive
    * (wm > vts + 1h); with `AvailableNow` the final no-data batch
    * advances the watermark to max(ts) − 10 s and flushes evictable
    * state, but views in the last-hour tail legitimately stay in
    * state unemitted. The contract therefore splits:
    *
    *  - matched rows == the batch inner join, exactly (multiset);
    *  - every unmatched view with `vts + 1h < max(ts) − 10s` (its
    *    eviction PROVABLY due) must appear null-extended, and there
    *    must be > 0 of them (the semantics actually fired);
    *  - every null-extended row must correspond to a view the batch
    *    left-anti join also finds unmatched (no spurious nulls) —
    *    tail views may be absent, never wrong.
    */
  private def checkOuterJoin(spark: SparkSession, sfDir: String): Boolean = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
    val t0 = System.nanoTime()
    val joined = views(eventsStream(spark, sfDir)).withWatermark("vts", "10 seconds")
      .join(buys(eventsStream(spark, sfDir)).withWatermark("bts", "10 seconds"),
        expr(viewBuyCond), "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"), col("vts"),
        col("buy_id"), col("amount"))
    runToParquet(joined, ckpt, outDir)

    val ev = graft.model.Tables.events(spark, sfDir)
    val inner = views(ev).join(buys(ev), expr(viewBuyCond))
      .select(col("v_user").as("user_id"), col("view_id"), col("vts"),
        col("buy_id"), col("amount"))
    val anti = views(ev).join(buys(ev), expr(viewBuyCond), "left_anti")
      .select(col("v_user").as("user_id"), col("view_id"), col("vts"))
    // the global watermark is the MIN of the two sides' watermarks
    // (each side: its own max event time − 10 s)
    val maxV = views(ev).agg(max(col("vts"))).head.getTimestamp(0)
    val maxB = buys(ev).agg(max(col("bts"))).head.getTimestamp(0)
    val wmBase = if (maxV.before(maxB)) maxV else maxB
    val certain = anti.where(
      col("vts") + expr("interval 1 hour") < lit(wmBase) - expr("interval 10 seconds"))

    val out = spark.read.parquet(outDir)
    val sInner = out.where(col("buy_id").isNotNull)
    val sNull = out.where(col("buy_id").isNull)
      .select("user_id", "view_id", "vts")
    val innerMissing = inner.exceptAll(sInner).count()
    val innerExtra = sInner.exceptAll(inner).count()
    val nullMissing = certain.exceptAll(sNull).count()
    val nullExtra = sNull.exceptAll(anti).count()
    val (nInner, nNull, nCertain) = (sInner.count(), sNull.count(), certain.count())
    val parity = nInner > 0 && nNull > 0 && innerMissing == 0 &&
      innerExtra == 0 && nullMissing == 0 && nullExtra == 0
    println(
      s"""{"check":"streaming_outer_join","sf":"$sfDir","rows":${nInner + nNull},""" +
      s""""parity":$parity,"missing_vs_batch":${innerMissing + nullMissing},""" +
      s""""extra_vs_batch":${innerExtra + nullExtra},"matched_rows":$nInner,""" +
      s""""null_rows":$nNull,"certain_nulls":$nCertain,""" +
      s""""sec":${js((System.nanoTime() - t0) / 1e9)}}""")
    parity
  }

  /** Streaming THROUGHPUT bench (VERDICT r16 #4): the parity battery
    * proves stream == batch but records no performance. This mode
    * replays the events table through the file source and reports, per
    * plan family, wall seconds, input rows/sec, micro-batch count, and
    * per-micro-batch trigger latency (mean/max ms, from the engine's
    * own `StreamingQueryProgress`). Two source shapes per family:
    *
    *  - `bulk`: whole table in one `AvailableNow` batch — peak
    *    sustained rows/sec through the plan (the backlog-catchup bound);
    *  - `replay16`: the table range-partitioned on `ts` into 16 files,
    *    mtime-ordered, `maxFilesPerTrigger=1` — 16 real watermark-
    *    advancing micro-batches (the Kinesis-shard replay shape), so
    *    the per-batch latency numbers include state store commit +
    *    checkpoint overhead per trigger, which is what dominates a
    *    small-batch production stream.
    *
    * Convention: run COLD (fresh JVM per invocation, BASELINE.md
    * anchor convention); sink is the checkpointed foreachBatch parquet
    * sink (the production sink shape), not the memory sink.
    */
  private def checkBench(spark: SparkSession, sfDir: String): Boolean = {
    val windowSec = graft.queries.ReferenceQueries.WindowSec
    val threshold = graft.queries.ReferenceQueries.Threshold
    val ev = graft.model.Tables.events(spark, sfDir)
    val nIn = ev.count()
    // replay source: range-partitioned on ts so part-file lexical order
    // == time order; mtimes pinned ascending so the file source's
    // modification-time ordering replays the corpus chronologically
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sc_bsrc").toString
    ev.repartitionByRange(16, col("ts")).write.mode("overwrite").parquet(srcDir)
    val parts = new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1700000000000L + i * 60000L) }

    def bench(name: String, plan: DataFrame => DataFrame,
              maxFiles: Option[Int]): Boolean = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sc_ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft_sc_out").toString
      val t0 = System.nanoTime()
      val q = plan(eventsStream0(spark, srcDir, maxFiles))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val outRows = spark.read.parquet(outDir).count()
      // data-carrying triggers only (AvailableNow appends an empty
      // watermark-flush batch; its latency isn't input throughput)
      val prog = q.recentProgress.filter(_.numInputRows > 0)
      val ms = prog.map(_.durationMs.get("triggerExecution").toLong)
      val mean = if (ms.nonEmpty) ms.sum / ms.length else 0L
      println(
        s"""{"check":"streaming_bench_$name","sf":"$sfDir","rows_in":$nIn,""" +
        s""""rows_out":$outRows,"batches":${ms.length},"sec":${js(sec)},""" +
        s""""rows_per_sec":${js(nIn / sec)},"batch_ms_mean":$mean,""" +
        s""""batch_ms_max":${if (ms.nonEmpty) ms.max else 0L}}""")
      outRows > 0
    }

    def statefulPlan(df: DataFrame): DataFrame =
      graft.streaming.StatefulSpend.streamingSpendAlerts(
        graft.streaming.StatefulSpend.asTxns(df), 200.0).toDF()
    def fraudPlan(df: DataFrame): DataFrame =
      graft.streaming.StreamingFraud.fraudStream(df, windowSec, threshold)

    // the join's second leg opens its own stream: for the replay16
    // shape both sides pace at 1 file/trigger together.
    def joinPlanPaced(maxFiles: Option[Int])(df: DataFrame): DataFrame = {
      views(df).withWatermark("vts", "10 seconds")
        .join(buys(eventsStream0(spark, srcDir, maxFiles))
          .withWatermark("bts", "10 seconds"),
          expr(viewBuyCond))
        .select(col("v_user").as("user_id"), col("view_id"), col("buy_id"),
          col("amount"))
    }

    Seq(
      bench("fraud_bulk", fraudPlan, None),
      bench("fraud_replay16", fraudPlan, Some(1)),
      bench("stateful_bulk", statefulPlan, None),
      bench("stateful_replay16", statefulPlan, Some(1)),
      bench("join_bulk", joinPlanPaced(None), None),
      bench("join_replay16", joinPlanPaced(Some(1)), Some(1))).forall(identity)
  }

  /** Replay-source reader over the bench slice dir. */
  private def eventsStream0(spark: SparkSession, dir: String,
                            maxFiles: Option[Int]): DataFrame =
    graft.streaming.StreamingFraud.eventsStream(spark, dir, "*.parquet",
      maxFiles)
}
