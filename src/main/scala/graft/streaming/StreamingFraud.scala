package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming form of the reference's flagship query
  * (SURVEY.md §2.9, `flink_app/app.py:70-83`): event-time tumbling
  * window + watermark + grouped sum + HAVING, in append mode.
  *
  * Semantics parity with the Flink original:
  *  - T1 event time: `ts` column.
  *  - T2 watermark: bounded out-of-orderness (10 s in the reference).
  *  - T3 tumbling window: `window(ts, ...)`.
  *  - T4 late data dropped once the watermark passes the window end
  *    (no allowed-lateness — Flink default).
  *  - T5 append output mode: a window emits exactly once, on watermark
  *    close.
  *  - T10 incremental batch (Glue bookmarks): `Trigger.AvailableNow` over
  *    a file source processes exactly the files not yet seen by the
  *    checkpoint.
  *
  * At scale the state store holds one entry per open (key, window); the
  * watermark bounds state size — exactly Flink's keyed-window state
  * model, with the shuffle on the grouping key playing the keyed-exchange
  * role.
  */
object StreamingFraud {

  /** Schema for reading `events` as a stream when `ts` is stored as
    * long nanos (TIMESTAMP(NANOS) parquet, which Spark only reads via
    * the nanosAsLong legacy conf — see [[graft.model.Tables]]). Test
    * fixtures that write raw-nanos files use this; driver data may
    * instead carry plain µs timestamps — [[eventsStream]] adapts.
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming events reader with on-disk-schema adaptation: a file
    * stream needs an explicit schema, so peek at the parquet footers
    * with a one-off batch read (metadata only — no data scan), then
    * open the stream with that exact physical schema and normalize
    * `ts` to µs TimestampType ([[graft.model.Tables.normalizeTs]]).
    * Handles both INT64-nanos and TIMESTAMP(µs) events data.
    */
  def eventsStream(spark: SparkSession, dir: String, glob: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // empty-at-start source: the footer peek can't infer a schema, so
    // fall back to the raw-nanos fixture schema (the shape every test
    // writer produces) instead of failing the stream start. The peek
    // also pins the ts physical type from the files present at start —
    // the source directory must stay type-stable for the stream's life.
    val onDisk =
      try spark.read.option("pathGlobFilter", glob).parquet(dir).schema
      catch {
        case _: org.apache.spark.sql.AnalysisException => eventsRawSchema
      }
    val reader = spark.readStream.schema(onDisk).option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.model.Tables.normalizeTs(reader.parquet(dir))
  }

  /** The streaming plan over any streaming DataFrame with
    * (user_id, ts: timestamp, value): [[graft.stream.Fraud.windowSum]]
    * over the watermarked events.
    */
  def fraudStream(events: DataFrame, windowSec: Int, threshold: Double,
                  watermark: String = "10 seconds"): DataFrame =
    graft.stream.Fraud.windowSum(events.withWatermark("ts", watermark),
      windowSec, threshold)

  /** File-source streaming run with `Trigger.AvailableNow` (the job-
    * bookmark analog, T10): processes all currently-available input then
    * stops; a rerun with the same checkpoint processes only new files.
    * Results land in an in-memory table `queryName`.
    */
  def runFileStreamOnce(spark: SparkSession, sfDir: String, queryName: String,
                        windowSec: Int, threshold: Double,
                        checkpoint: String): StreamingQuery = {
    // the streaming file source wants a directory; the harness lays the
    // tables out as single files, so glob-filter the directory down to
    // the events table
    val raw = eventsStream(spark, sfDir, "events.parquet")
    val q = fraudStream(raw, windowSec, threshold)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q
  }

  /** T9 processing-time buffering: the Firehose 900 s / 128 MB buffer
    * maps to `Trigger.ProcessingTime(interval)` (time axis) +
    * `maxFilesPerTrigger` (size axis) — micro-batches are paced by wall
    * clock and bounded per trigger, instead of the run-to-completion
    * `AvailableNow`. The query keeps running until stopped (use
    * `processAllAvailable()` + `stop()` in tests).
    */
  def runFileStreamMicroBatch(spark: SparkSession, dir: String,
                              queryName: String, windowSec: Int,
                              threshold: Double, checkpoint: String,
                              intervalMs: Long = 500L,
                              maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val raw = eventsStream(spark, dir, "*.parquet", Some(maxFilesPerTrigger))
    fraudStream(raw, windowSec, threshold)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()
  }

  /** T6 start-position toggle, the Kinesis LATEST / TRIM_HORIZON analog
    * for a file-replay source. TRIM_HORIZON is the default behavior
    * (a fresh checkpoint replays the whole backlog). LATEST = call this
    * first: an `AvailableNow` pass of the SAME stateful plan (checkpoint
    * state must be plan-compatible) consumes every currently-visible
    * file and DISCARDS its output, so a query started afterward on the
    * same checkpoint emits only results from data that arrives later.
    * One nuance vs a true skip: a window still open at the position
    * (not yet passed by the watermark) emits on the first
    * post-position watermark advance — append-mode semantics.
    */
  def primeCheckpointAtLatest(spark: SparkSession, dir: String,
                              checkpoint: String, windowSec: Int,
                              threshold: Double): Unit = {
    val raw = eventsStream(spark, dir, "*.parquet")
    val q = fraudStream(raw, windowSec, threshold)
      .writeStream.outputMode("append")
      // discard backlog output; count() forces every partition so the
      // state store commits (a true no-op would fail commit validation)
      .foreachBatch((b: DataFrame, _: Long) => { b.count(); () })
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
