package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.etl.{Aggregation, EventsStage, Mapping}
import graft.serve.Serving
import graft.stream.Fraud

/** Reference-parity queries (SURVEY.md §2) over the harness tables,
  * each with a DuckDB oracle twin. Names and aliases are kept identical
  * between the Spark plan and the SQL so the driver's column-sorted hash
  * compare lines up.
  */
object ReferenceQueries {

  /** Fraud thresholds chosen so sf0.001 already yields rows (driver
    * smoke-checks rows > 0): 10s window sums > 150 → 40 rows at sf0.001.
    */
  val WindowSec = 10
  val Threshold = 150.0

  // BOUNDARY-SAFETY NOTE (the r13 .xx5 money-rounding class): the
  // fraud and wire-spec sums below keep the reference's
  // round(sum(value), 2) spelling deliberately. Their groups are
  // BOUNDED by construction — (user, 30s window) holds at most a few
  // dozen events and the 10-dim wire rollup a handful of
  // transactions at any corpus scale — so the float sum of n 2dp
  // values sits within n·ulp ≪ half a cent of the exact 2dp total
  // and round(·, 2) recovers it exactly in any accumulation order.
  // The class only escapes when per-group n grows with the corpus
  // (event_type / per-customer / grand-total groups — those are
  // migrated to exact integer cents) or when the rounded value has
  // >2dp precision (products, divisions — migrated in r13).
  val all: Seq[Query] = Seq(
    // A1 + P4 + P5 + T1-T5: tumbling window grouped sum with HAVING
    Query("fraud_window_sum", (s, dir) =>
      Fraud.windowSum(Tables.events(s, dir), WindowSec, Threshold),
      s"""SELECT user_id,
         |  CAST(floor(epoch(ts)/$WindowSec)*$WindowSec AS BIGINT) AS window_start,
         |  CAST(floor(epoch(ts)/$WindowSec)*$WindowSec + $WindowSec AS BIGINT) AS window_end,
         |  round(sum(value), 2) AS total_value
         |FROM events GROUP BY 1, 2, 3
         |HAVING round(sum(value), 2) > $Threshold""".stripMargin),

    // literal grouping parity with flink_app/app.py:78 (includes unique id)
    Query("fraud_literal_parity", (s, dir) =>
      Fraud.literalParity(Tables.events(s, dir), WindowSec, Threshold),
      s"""SELECT user_id, event_id, round(sum(value), 2) AS value,
         |  CAST(floor(epoch(ts)/$WindowSec)*$WindowSec + $WindowSec AS BIGINT) AS window_end
         |FROM events GROUP BY user_id, event_id, floor(epoch(ts)/$WindowSec)
         |HAVING round(sum(value), 2) > $Threshold""".stripMargin),

    // P1 + P2 + P8 + S8: JSON extract → cast/rename → unnest → partition col
    Query("etl_stage_mapping", (s, dir) =>
      EventsStage.stage(Tables.events(s, dir)),
      """SELECT event_id, user_id, event_type,
        |  CAST(value AS DOUBLE) AS amount,
        |  CAST(json_extract(props, '$.k') AS INTEGER) AS k,
        |  CAST(CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS INTEGER) AS k_bucket,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
        |FROM events""".stripMargin),

    // P3 + A2 + A3: PII drop then multi-dim grouped sum
    Query("spec_pii_agg", (s, dir) => {
      val li = Mapping.dropFields(Tables.lineitem(s, dir), "l_partkey", "l_suppkey")
      Aggregation.sparkAggregate(li,
        Seq("l_returnflag", "l_linestatus", "l_linenumber"),
        Seq(Aggregation.AggSpec("l_quantity", "sum", Some("sum_qty_raw"))))
        .select(col("l_returnflag"), col("l_linestatus"), col("l_linenumber"),
          round(col("sum_qty_raw"), 2).as("sum_qty"))
    },
      """SELECT l_returnflag, l_linestatus, l_linenumber,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY 1, 2, 3""".stripMargin),

    // A2 empty-groups fallback → global aggregate (spec.py:17-21)
    Query("agg_global_fallback", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      Aggregation.sparkAggregate(li, Seq.empty, Seq(
        Aggregation.AggSpec("l_quantity", "sum", Some("sum_qty_raw")),
        Aggregation.AggSpec("l_orderkey", "count", Some("n")),
        Aggregation.AggSpec("l_extendedprice", "max", Some("max_price"))))
        .select(round(col("sum_qty_raw"), 2).as("sum_qty"), col("n"), col("max_price"))
    },
      """SELECT round(sum(l_quantity), 2) AS sum_qty,
        |  count(l_orderkey) AS n,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin),

    // P6 + §2.6: point lookup in sort-key order
    Query("serve_point_lookup", (s, dir) =>
      Serving.pointLookup(
        Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"),
        "user_id", 7L, "event_id"),
      "SELECT event_id, user_id, event_type, value FROM events WHERE user_id = 7 ORDER BY event_id"),

    // P7: full scan (identity projection)
    Query("serve_scan", (s, dir) =>
      Serving.scanAll(Tables.events(s, dir).select("event_id", "user_id", "event_type", "value")),
      "SELECT event_id, user_id, event_type, value FROM events"),

    // F6 + S10: TTL stamping (30 days past event time)
    Query("serve_ttl_stamp", (s, dir) =>
      Serving.withTtl(Tables.events(s, dir), "ts").select("event_id", "ttl"),
      s"SELECT event_id, CAST(floor(epoch(ts)) + ${Serving.TtlSeconds} AS BIGINT) AS ttl FROM events"),

    // custom keyed state (flatMapGroupsWithState analog): first upward
    // crossing of a lifetime-spend threshold per user. This is the batch
    // twin of StatefulSpend.streamingSpendAlerts; the spec asserts
    // stream == batch on ordered replay.
    Query("stateful_spend_alert", (s, dir) =>
      graft.streaming.StatefulSpend.batchSpendAlerts(
        Tables.events(s, dir), threshold = 200.0),
      """WITH r AS (
        |  SELECT user_id, ts, value,
        |    sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM events)
        |SELECT user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS alert_epoch,
        |  round(running, 2) AS total_at_alert
        |FROM r WHERE running >= 200.0 AND running - value < 200.0""".stripMargin),

    // T10: incremental-batch bookmark analog — a high-watermark predicate
    // selecting only records newer than the last processed point
    Query("incremental_high_watermark", (s, dir) =>
      Tables.eventsAfter(s, dir, 1705276800L) // 2024-01-15
        .select(col("event_id"), col("user_id"), col("value"),
          unix_timestamp(col("ts")).as("ts_epoch")),
      """SELECT event_id, user_id, value,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
        |FROM events WHERE ts > to_timestamp(1705276800)""".stripMargin),

    // S11 + F9-F11 + P1-P3 + A3: the reference's own wire→stage→spec
    // pipeline end-to-end on generated transactions (deterministic seed;
    // row count scales with the harness dir so bench covers it). The
    // WIRE table is materialized to parquet (the raw-zone landing it
    // models anyway), so the stage+spec half is fully DuckDB-checkable —
    // the generator draws themselves are covered by TransactionGenSpec.
    Query("pipeline_wire_to_spec", (s, dir) => {
      val n = if (dir.contains("0.1")) 100000L else 10000L
      val wirePath = OracleAux.dir(dir, "wire")
      graft.gen.TransactionGen.transactions(s, n)
        .write.mode("overwrite").parquet(wirePath)
      graft.gen.TransactionGen.spec(
        graft.gen.TransactionGen.stage(s.read.parquet(wirePath)))
        .withColumn("sum_valor", round(col("sum_valor"), 2))
    },
      // stage+spec over the materialized wire table (struct unnest, string
      // →double casts, PII-free 10-dim rollup). The wire landing is the
      // query's own storage: it reads the file the last Verify run of the
      // query wrote at this sfDir
      s"""SELECT w.bandeira, w.numero_cartao, w.exp, w.tipo_cartao,
        |  w.cor_cartao, w.tipo_transacao,
        |  w.localizacao.cidade AS cidade,
        |  CAST(w.localizacao.lat AS DOUBLE) AS latitude,
        |  CAST(w.localizacao.lng AS DOUBLE) AS longitude,
        |  w.localizacao.estado AS estado,
        |  round(sum(CAST(w.valor AS DOUBLE)), 2) AS sum_valor
        |FROM read_parquet('${OracleAux.sqlDir("wire")}/*.parquet') w
        |GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10""".stripMargin),

    // S3/crawler analog (historical.py:216,323-337 + stage.py:20-22):
    // raw-zone gzip NDJSON landed by the firehose writer, read BACK with
    // schema inference (no user-supplied schema — the crawler's job),
    // then stage-mapped: casts, partition-column derivation, date
    // derivation. ts travels as epoch micros so neither engine's
    // timestamp inference is in play.
    Query("raw_json_to_stage", (s, dir) => {
      val rawPath = OracleAux.dir(dir, "raw_events_json")
      graft.etl.Writers.gzipJson(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("value"), unix_micros(col("ts")).as("ts_us")),
        rawPath)
      val inferred = s.read.json(rawPath) // schema inference = crawler
      inferred.select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 2).as("value_2dp"),
        (col("user_id") % 16).cast("integer").as("k_bucket"),
        to_date(timestamp_micros(col("ts_us"))).as("event_date"))
    },
      s"""SELECT event_id, user_id, event_type,
        |  round(value, 2) AS value_2dp,
        |  CAST(user_id % 16 AS INTEGER) AS k_bucket,
        |  CAST(make_timestamp(ts_us) AS DATE) AS event_date
        |FROM read_json_auto('${OracleAux.sqlDir("raw_events_json")}/*.json.gz')""".stripMargin),

    // S3/crawler nested-struct inference (historical.py:236-243 landed a
    // nested `localizacao` object; stage.py:38-41 read it back through
    // the crawler's inferred schema): land DOUBLY-nested JSON objects,
    // infer the struct tree on read (no user schema), then project
    // dotted paths out of the INFERRED tree. DuckDB's read_json_auto
    // infers the same nesting for the twin.
    Query("raw_json_nested_infer", (s, dir) => {
      val rawPath = OracleAux.dir(dir, "raw_events_nested_json")
      graft.etl.Writers.gzipJson(
        Tables.events(s, dir).select(
          col("event_id"),
          struct(
            col("user_id"),
            struct((col("user_id") % 27).as("region"),
              concat(lit("c"), col("user_id") % 100).as("city")).as("geo"))
            .as("who"),
          col("value")),
        rawPath)
      val inferred = s.read.json(rawPath) // nested inference = crawler
      inferred.select(col("event_id"),
        col("who.user_id").as("user_id"),
        col("who.geo.region").as("region"),
        col("who.geo.city").as("city"),
        round(col("value"), 2).as("value_2dp"))
    },
      s"""SELECT event_id,
        |  who.user_id AS user_id,
        |  who.geo.region AS region,
        |  who.geo.city AS city,
        |  round(value, 2) AS value_2dp
        |FROM read_json_auto('${OracleAux.sqlDir("raw_events_nested_json")}/*.json.gz')""".stripMargin),

    // schema evolution across raw-zone generations (the crawler problem
    // one deploy later): generation 1 landed without `event_type`,
    // generation 2 added it; mergeSchema reads both under one schema
    // (missing column → NULL) — DuckDB twin via union_by_name
    Query("raw_schema_evolution", (s, dir) => {
      val g1 = OracleAux.dir(dir, "schema_evo_g1")
      val g2 = OracleAux.dir(dir, "schema_evo_g2")
      val e = Tables.events(s, dir)
      e.where(col("user_id") % 2 === 0)
        .select("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(g1)
      e.where(col("user_id") % 2 =!= 0)
        .select("event_id", "user_id", "value", "event_type")
        .write.mode("overwrite").parquet(g2)
      s.read.option("mergeSchema", "true").parquet(g1, g2)
        .groupBy(coalesce(col("event_type"), lit("__pre_schema")).as("event_type"))
        // per-type groups grow with the corpus → money in exact cents
        // (see BreadthQueries.moneySum: the r13 .xx5-boundary class)
        .agg(count(lit(1)).as("n"),
          BreadthQueries.moneySum(col("value")).as("sum_value"))
    },
      s"""SELECT coalesce(event_type, '__pre_schema') AS event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_value
        |FROM read_parquet(
        |  ['${OracleAux.sqlDir("schema_evo_g1")}/*.parquet',
        |   '${OracleAux.sqlDir("schema_evo_g2")}/*.parquet'],
        |  union_by_name = true)
        |GROUP BY 1""".stripMargin),

    // columnar-format breadth: same rows through an ORC round-trip must
    // aggregate identically to the parquet source (lossless fidelity —
    // the oracle computes from the original table)
    Query("format_orc_roundtrip", (s, dir) => {
      val p = OracleAux.dir(dir, "orc_events")
      Tables.events(s, dir).select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").orc(p)
      s.read.orc(p).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          BreadthQueries.moneySum(col("value")).as("sum_value"),
          min(col("event_id")).as("min_event_id"),
          max(col("user_id")).as("max_user_id"))
    },
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_value,
        |  min(event_id) AS min_event_id, max(user_id) AS max_user_id
        |FROM events GROUP BY 1""".stripMargin),

    // text-format breadth: Spark-written CSV read back by BOTH engines
    // (DuckDB parses the same files) — cross-engine escaping/typing
    Query("format_csv_roundtrip", (s, dir) => {
      val p = OracleAux.dir(dir, "csv_events")
      Tables.events(s, dir).select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").option("header", "true").csv(p)
      s.read.option("header", "true")
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .csv(p)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          BreadthQueries.moneySum(col("value")).as("sum_value"))
    },
      s"""SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_value
        |FROM read_csv('${OracleAux.sqlDir("csv_events")}/*.csv',
        |  header = true,
        |  columns = {'event_id': 'BIGINT', 'user_id': 'BIGINT',
        |             'event_type': 'VARCHAR', 'value': 'DOUBLE'})
        |GROUP BY 1""".stripMargin),

    // CDC apply with tombstones: latest change per key wins (seq desc),
    // op='D' deletes the row, 'U' updates the balance — the ordered-
    // upsert semantics every lakehouse MERGE pipeline implements.
    // Changes are derived deterministically from orders (key=o_custkey,
    // seq=o_orderkey, op from o_orderstatus: P→D, else U→o_totalprice)
    Query("etl_cdc_apply", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderkey").desc)
      val latest = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          when(col("o_orderstatus") === "P", lit("D")).otherwise(lit("U")).as("op"),
          col("o_totalprice"))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      val c = Tables.customer(s, dir)
      c.join(latest, c("c_custkey") === latest("o_custkey"), "left")
        .where(col("op").isNull || col("op") =!= "D")
        .select(col("c_custkey"), col("c_name"),
          round(when(col("op") === "U", col("o_totalprice"))
            .otherwise(col("c_acctbal")), 2).as("final_bal"))
    },
      """WITH latest AS (
        |  SELECT o_custkey,
        |    CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice
        |  FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1
        |)
        |SELECT c_custkey, c_name,
        |  round(CASE WHEN latest.op = 'U' THEN latest.o_totalprice
        |    ELSE c_acctbal END, 2) AS final_bal
        |FROM customer LEFT JOIN latest ON c_custkey = o_custkey
        |WHERE latest.op IS NULL OR latest.op <> 'D'""".stripMargin)
  )
}
