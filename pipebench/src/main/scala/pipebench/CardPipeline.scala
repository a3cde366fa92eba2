package pipebench

import java.io.File
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.Writers
import graft.gen.TransactionGen
import graft.serve.Serving
import graft.serve.Serving.{KvClients, KvStore}
import graft.stream.Fraud
import graft.streaming.StreamingFraud

/** A KV store that remembers when each item first became visible. */
final class TimedKv extends KvStore {
  val firstSeen = new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  override def put(pk: String, sk: String, attrs: Map[String, String]): Unit = {
    super.put(pk, sk, attrs)
    firstSeen.putIfAbsent((pk, sk), System.nanoTime())
  }
}

/** The card pipeline, realtime and historical paths over the same
  * generated `TransactionGen` wire events.
  *
  * One event sequence feeds every phase. The open loop (traced runs,
  * after the timed phase) releases it at a fixed rate into the stage
  * mapping → `StreamingFraud.fraudStream` → `Serving.upsertPartitions`
  * into a KV store, while one lookup thread calls `KvStore.query` on a
  * fixed schedule. The unit of work drains the same events, stored as
  * parquet files, through the same streaming plan with
  * `Trigger.AvailableNow`, then runs the historical ETL on them
  * (`TransactionGen.stage` → parquet partitioned by `estado` →
  * `TransactionGen.spec` written). In traced runs a single-client loop
  * of `Serving.pointLookup` over the written stage table follows each
  * pass, outside the unit's timing.
  *
  * Event time runs `Dilation` times faster than the wall clock, so the
  * paper's 10 s window and 10 s watermark close a window every
  * 10 / `Dilation` s of wall time. Event i is stamped with its scheduled
  * time, so the inputs are a function of the seed alone. The rate, card
  * pool and length are derived in the README ("Open-loop traffic").
  */
object CardPipeline extends Workload {
  val slots = 2 // + the generator and the lookup thread = 4 threads
  val minUnits = 5
  val Rate = 3000 // events per wall second
  val OpenSeconds = 15
  val Events: Int = Rate * OpenSeconds
  val Dilation = 30
  val WindowSec = 10
  val WatermarkSec = 10
  val Threshold = 5000.0
  val Cards = 500 // 2 events per card per window on average
  val KvLookupRate = 100 // KvStore.query calls per wall second
  val TriggerMs = 100L
  val TickNanos = 20000000L // the generator releases events every 20 ms
  val BacklogFiles = 8
  val FilesPerTrigger = 2
  val PointLookupsPerUnit = 10
  val WarmUpPasses = 1
  val WarmUpOpenSeconds = 1
  /** Windows the open loop must close at distinct instants before its
    * sentinel event, so that the alert figures span many batches.
    */
  val MinClosedWindows = 20
  val EpochMs = 1704067200000L
  val EventStepMs: Long = 1000L * Dilation / Rate

  private val IsoMs = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS").withZone(ZoneOffset.UTC)

  type Items = Map[(String, String), Map[String, String]]

  /** The wire fields the fraud plan reads, after the stage mapping. */
  def events(wire: DataFrame): DataFrame =
    TransactionGen.stage(wire).select(
      col("numero_cartao").as("user_id"),
      to_timestamp(col("horario_transacao")).as("ts"),
      col("valor").as("value"))

  /** The items a replay of `wire` through the batch fraud operator
    * writes into a fresh store.
    */
  def replay(wire: DataFrame): Items = {
    val store = new KvStore
    Serving.upsertBatch(store, "user_id", "window_start")(
      Fraud.windowSum(events(wire), WindowSec, Threshold), 0L)
    store.entries
  }

  def prepare(spark: SparkSession, seed: Long, dir: File): Session = {
    val templates = TransactionGen.transactions(spark, Events, seed).collect()
    val schema = templates.head.schema
    val rnd = new Random(seed)
    val pool = templates.take(Cards).map(_.getAs[String]("numero_cartao"))
    val cardIdx = schema.fieldIndex("numero_cartao")
    val timeIdx = schema.fieldIndex("horario_transacao")
    val valorIdx = schema.fieldIndex("valor")
    def event(t: Row, eventMs: Long, card: String, valor: Option[Double] = None): Row = {
      val v = t.toSeq.toArray
      v(cardIdx) = card
      v(timeIdx) = IsoMs.format(Instant.ofEpochMilli(eventMs))
      valor.foreach(x => v(valorIdx) = x)
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(v, schema)
    }
    // a last event far past every window closes them all; its value is
    // below the threshold, so it never alerts itself
    val events = (0 until Events).map(i =>
      event(templates(i), EpochMs + i * EventStepMs, pool(rnd.nextInt(Cards)))) :+
      event(templates(0), EpochMs + Events * EventStepMs + 3000L * (WindowSec + WatermarkSec),
        pool(0), Some(1.0))

    // backlog files, one per contiguous slice of the events (one write
    // job), ordered by modification time as the file source reads them
    val backlogDir = new File(dir, "backlog")
    backlogDir.mkdirs()
    val tmp = new File(dir, "backlog-tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(events, BacklogFiles), schema)
      .write.parquet(tmp.getPath)
    tmp.listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex.foreach {
      case (part, i) =>
        val dst = new File(backlogDir, f"chunk-$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 1000L)
    }
    Main.deleteTree(tmp)
    new PipelineSession(spark, dir, schema, events, pool, backlogDir, seed)
  }

  final class PipelineSession(spark: SparkSession, dir: File, schema: StructType,
                              wire: IndexedSeq[Row], pool: Array[String], backlogDir: File,
                              seed: Long) extends Session {
    private var queries = 0
    private val upsertMs = ArrayBuffer.empty[Double]
    private val stagePath = new File(dir, "stage").getPath
    private val specPath = new File(dir, "spec").getPath
    private val lookupRnd = new Random(seed + 1)
    private val pointLookupMs = ArrayBuffer.empty[Double]

    // the checks' expected values, computed on first use, outside the
    // set-up and the units' timing
    private lazy val expected: Items = replay(spark.read.schema(schema).parquet(backlogDir.getPath))
    private lazy val byCard: Map[String, IndexedSeq[(String, Double)]] = {
      val c = schema.fieldIndex("numero_cartao")
      val t = schema.fieldIndex("horario_transacao")
      val v = schema.fieldIndex("valor")
      wire.groupBy(_.getString(c)).map { case (k, rs) =>
        k -> rs.map(r => (r.getString(t), r.getDouble(v))).sorted }
    }

    private def start(source: DataFrame, clientId: String, trigger: Trigger,
                      engine: Option[Engine]): StreamingQuery = {
      queries += 1
      StreamingFraud.fraudStream(events(source), WindowSec, Threshold, s"$WatermarkSec seconds")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", new File(dir, s"checkpoint-$queries").getPath)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          Serving.upsertPartitions(clientId, "user_id", "window_start")(batch, id)
          upsertMs.synchronized(upsertMs += (System.nanoTime() - t0) / 1e6)
          engine.foreach(_.addPlan(batch.queryExecution.executedPlan))
        }
        .start()
    }

    /** Drain, then ETL: one pass over the events in `from`. */
    private def pass(from: File, engine: Option[Engine], tracer: Tracer): KvStore = {
      val kv = new KvStore
      val id = KvClients.register(kv)
      try tracer.span("drain") {
        val source = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", FilesPerTrigger).parquet(from.getPath)
        start(source, id, Trigger.AvailableNow(), engine).awaitTermination()
      } finally KvClients.unregister(id)
      tracer.span("stage") {
        Writers.partitionedParquet(TransactionGen.stage(spark.read.parquet(from.getPath)),
          stagePath, Seq("estado"))
      }
      tracer.span("spec") {
        Writers.partitionedParquet(TransactionGen.spec(spark.read.parquet(stagePath)),
          specPath, Seq("estado"))
      }
      kv
    }

    private def parkUntil(t: Long): Unit = {
      var now = System.nanoTime()
      while (now < t) { LockSupport.parkNanos(t - now); now = System.nanoTime() }
    }

    /** Open loop: the generator and the lookup thread run on fixed
      * schedules for `seconds`; then the sentinel event closes every
      * window, the stream catches up and stops.
      */
    private def openLoop(seconds: Int, res: Option[Results]): Unit = {
      val n = math.min(Events, Rate * seconds)
      val events = wire.take(n) :+ wire.last
      val kv = new TimedKv
      val id = KvClients.register(kv)
      val book = new AlertBook(WindowSec * 1000L, WatermarkSec * 1000L)
      implicit val enc: Encoder[Row] = Encoders.row(schema)
      val mem = MemoryStream[Row](spark, slots)
      upsertMs.clear()
      val q = start(mem.toDF(), id, Trigger.ProcessingTime(TriggerMs), None)
      val fromDue = ArrayBuffer.empty[Double]
      val service = ArrayBuffer.empty[Double]
      val sizeAt = ArrayBuffer.empty[Int]
      var lookupFails = 0
      var lateMaxNanos = 0L
      val t0 = System.nanoTime()
      val gen = new Thread(() => {
        // events are released in ticks; each tick carries the events
        // scheduled up to its instant, the sentinel comes last
        var emitted = 0
        var tick = 1L
        while (emitted < events.length) {
          val at = t0 + tick * TickNanos
          parkUntil(at)
          val now = System.nanoTime()
          lateMaxNanos = math.max(lateMaxNanos, now - at)
          val due = if (emitted >= n) events.length
            else math.min(n, ((at - t0) * Rate / 1000000000L).toInt)
          if (due > emitted) {
            (emitted until due).foreach(i => book.record(eventMs(events(i)), now))
            mem.addData(events.slice(emitted, due))
            emitted = due
          }
          tick += 1
        }
      }, "pipebench-generator")
      val kvRnd = new Random(seed + 7)
      val nLookups = KvLookupRate * seconds
      val client = new Thread(() => {
        (0 until nLookups).foreach { j =>
          val due = t0 + j * 1000000000L / KvLookupRate
          parkUntil(due)
          val card = pool(kvRnd.nextInt(pool.length))
          sizeAt += kv.size
          val s = System.nanoTime()
          val items = kv.query(card)
          val e = System.nanoTime()
          fromDue += (e - due) / 1e6
          service += (e - s) / 1e6
          val keys = items.map(_._1)
          if (!(items.forall(_._2.get("user_id").contains(card)) && keys == keys.sorted)) lookupFails += 1
        }
      }, "pipebench-lookup")
      gen.start(); client.start()
      gen.join(); client.join()
      val want = if (n == Events) expected else Map.empty: Items
      // catch up: every alert of the replay visible, or give up after 30 s
      val giveUp = System.nanoTime() + 30000000000L
      q.processAllAvailable()
      while (kv.size < want.size && System.nanoTime() < giveUp) Thread.sleep(20)
      q.stop()
      KvClients.unregister(id)
      res.foreach { r =>
        (1 to nLookups).foreach(i => r.op(i > lookupFails, "KvStore.query returned a wrong item"))
        r.guard("open-loop alerts equal the Fraud.windowSum replay")(kv.entries == want)
        val seen = kv.firstSeen.asScala.toSeq.map { case ((_, sk), t) => (sk.toLong * 1000L, t.longValue) }
        // windows closed by a regular event, not by the sentinel
        val closed = seen.map(_._1).distinct.flatMap(book.closableAt).filter(_ < book.lastCreatedNanos)
        r.info("streaming.alert_windows_closed") = closed.length
        r.op(closed.length >= MinClosedWindows,
          s"open loop closed ${closed.length} windows before its sentinel, fewer than $MinClosedWindows")
        latency(r, "streaming.alert", book.latenciesMs(seen))
        latency(r, "serve.kv_lookup", fromDue.toSeq)
        r.layer("gen.late_ms_max") = lateMaxNanos / 1e6
        r.layer("serve.kv_items_end") = kv.size.toDouble
        r.layer("serve.kv_query_ms") = Stats.median(service.toSeq)
        // the store grows during the loop: service time by store size,
        // per quarter of the lookups, shows the full-map scan's cost
        r.info("serve.kv_query_by_size") = sizeAt.zip(service).grouped((nLookups + 3) / 4).map { g =>
          Map("items_median" -> Stats.median(g.map(_._1.toDouble).toSeq),
            "query_ms_median" -> Stats.median(g.map(_._2).toSeq))
        }.toSeq
        progressMetrics(q.recentProgress.toSeq, r)
        r.layer("serve.upsert_ms") = Stats.median(upsertMs.toSeq)
      }
    }

    private def eventMs(r: Row): Long =
      Instant.from(IsoMs.parse(r.getAs[String]("horario_transacao"))).toEpochMilli

    /** `<prefix>_p50_ms` and `<prefix>_tail_ms`, with the tail's
      * percentile and sample count in the detail line. Too few samples
      * for a tail is a failed operation.
      */
    private def latency(r: Results, prefix: String, xs: Seq[Double]): Unit = {
      r.info(s"${prefix}_n") = xs.length
      if (xs.nonEmpty) r.layer(s"${prefix}_p50_ms") = Stats.median(xs)
      tail(r, s"${prefix}_tail_ms", xs)
    }

    private def tail(r: Results, name: String, xs: Seq[Double]): Unit = {
      val t = Stats.tail(xs)
      r.op(t.nonEmpty, s"$name: ${xs.length} samples, too few for a tail")
      t.foreach { t =>
        r.layer(name) = t.value
        r.info(name.replace("_ms", "")) =
          Map("percentile" -> t.percentile, "n" -> t.n, "beyond" -> t.beyond)
      }
    }

    private def progressMetrics(ps: Seq[StreamingQueryProgress], r: Results): Unit = {
      def d(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      // batches that ran, not the idle polls between them
      val ran = ps.filter(_.durationMs.containsKey("addBatch"))
      val batchMs = ran.map(d(_, "triggerExecution"))
      r.layer("streaming.batches") = ran.length.toDouble
      r.layer("streaming.batch_ms_p50") = Stats.median(batchMs)
      tail(r, "streaming.batch_ms_tail", batchMs)
      r.layer("streaming.planning_ms") = Stats.median(ran.map(d(_, "queryPlanning")))
      r.layer("streaming.commit_ms") = Stats.median(ran.map(p => d(p, "walCommit") + d(p, "commitOffsets")))
      r.layer("streaming.addbatch_ms") = Stats.median(ran.map(d(_, "addBatch")))
      val ops = ran.flatMap(_.stateOperators.headOption)
      r.layer("streaming.state_rows_max") = ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
      r.layer("streaming.state_mem_mb_max") = ops.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0)
      r.layer("streaming.late_rows_dropped") = ops.map(_.numRowsDroppedByWatermark.toDouble).sum
      r.layer("streaming.backlog_max") = ran.map(_.numInputRows.toDouble).maxOption.getOrElse(0.0)
    }

    private def pointLookups(res: Results, traced: Boolean): Unit = {
      val stageTable = spark.read.parquet(stagePath)
      val plans = ArrayBuffer.empty[Double]
      val execs = ArrayBuffer.empty[Double]
      val ratios = ArrayBuffer.empty[Double]
      (1 to PointLookupsPerUnit).foreach { _ =>
        val card = pool(lookupRnd.nextInt(pool.length))
        res.guard(s"pointLookup($card)") {
          val t0 = System.nanoTime()
          val df = Serving.pointLookup(stageTable, "numero_cartao", card.toLong, "horario_transacao")
            .select("horario_transacao", "valor")
          if (traced) df.queryExecution.executedPlan
          val t1 = System.nanoTime()
          val rows = df.collect()
          val t2 = System.nanoTime()
          pointLookupMs += (t2 - t0) / 1e6
          if (traced) {
            plans += (t1 - t0) / 1e6
            execs += (t2 - t1) / 1e6
            ratios += PlanNodes.sourceRows(df.queryExecution.executedPlan).toDouble / math.max(1, rows.length)
          }
          rows.map(r => (r.getString(0), r.getDouble(1))).toSeq.sorted == byCard.getOrElse(card, Nil)
        }
      }
      if (traced) {
        res.layerSample("serve.lookup_plan_ms", Stats.median(plans.toSeq))
        res.layerSample("serve.lookup_exec_ms", Stats.median(execs.toSeq))
        res.layerSample("serve.scan_rows_per_result", Stats.median(ratios.toSeq))
      }
    }

    /** Traced runs also run the open loop and the point lookups. */
    private var traced = false

    def warmUp(traced: Boolean): Unit = {
      this.traced = traced
      if (traced) openLoop(WarmUpOpenSeconds, None)
      (1 to WarmUpPasses).foreach(_ => pass(backlogDir, None, new Tracer))
      if (traced) pointLookups(new Results, traced = false)
      pointLookupMs.clear()
    }

    def unit(res: Results, engine: Option[Engine]): Unit = {
      val tracer = new Tracer
      val kv = res.timedUnit(engine.isDefined)(pass(backlogDir, engine, tracer))
      res.guard("drained alerts equal the Fraud.windowSum replay")(kv.entries == expected)
      if (traced) pointLookups(res, engine.isDefined)
      if (engine.isDefined) {
        val t = tracer.selfTimes
        res.layerSample("streaming.drain_eps", wire.length / t("drain"))
        res.layerSample("etl.stage_s", t("stage"))
        res.layerSample("etl.spec_s", t("spec"))
        val parts = Seq(stagePath, specPath).flatMap(p => files(new File(p)))
          .filter(_.getName.startsWith("part-"))
        res.layerSample("etl.files_written", parts.length.toDouble)
        res.layerSample("etl.write_mb", parts.map(_.length).sum / 1048576.0)
      }
    }

    private def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)

    /** The written spec rows equal a recomputation from the wire rows
      * that does not go through the etl code.
      */
    override def after(res: Results, traced: Boolean): Unit = {
      if (traced) {
        openLoop(OpenSeconds, Some(res))
        latency(res, "serve.lookup", pointLookupMs.toSeq)
      }
      res.guard("spec equals a recomputation from the wire rows") {
        val recomputed = spark.read.parquet(backlogDir.getPath).groupBy(
            col("bandeira"), col("numero_cartao"), col("exp"), col("tipo_cartao"),
            col("cor_cartao"), col("tipo_transacao"),
            col("localizacao.cidade").as("cidade"),
            col("localizacao.lat").cast("double").as("latitude"),
            col("localizacao.lng").cast("double").as("longitude"),
            col("localizacao.estado").as("estado"))
          .agg(sum("valor").as("sum_valor"))
        val written = spark.read.parquet(specPath).select(recomputed.columns.map(col).toIndexedSeq: _*)
        Curation.digest(written) == Curation.digest(recomputed)
      }
    }
  }
}
