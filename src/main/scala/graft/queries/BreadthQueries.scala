package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.model.Tables

/** Capability-breadth queries (SURVEY.md §7.3 M4). The reference itself
  * has no joins/sorts/set-ops/window-functions (§2.3/2.5-2.7) — these
  * demonstrate the full relational surface a user of the engine gets,
  * each with a DuckDB oracle.
  *
  * Scale notes, per query, live on the records. Common rules:
  *  - dimension tables (region/nation/supplier) are broadcast — at
  *    100 TB the fact side streams, no shuffle of the big side for the
  *    dim join;
  *  - fact-fact joins shuffle on the join key (sort-merge w/ AQE);
  *  - fp-sensitive sums of *products* run in decimal and cast to double
  *    at the end, so Spark and the oracle agree bitwise regardless of
  *    accumulation order (sums of raw 2dp columns just round to 2dp).
  */
object BreadthQueries {

  private def dec(c: String) = col(c).cast(DecimalType(18, 2))

  /** Order-independent money sum for a 2dp double column: exact integer
    * cents summed as decimal(38,0), ONE double conversion at the end.
    * `round(sum(double), 2)` has a MEASURED cross-engine escape at
    * decade scale (r13 sf1.0 sweep: a sum landing one ulp from a .xx5
    * boundary rounds differently depending on accumulation order, which
    * partition layout controls). This spelling is exact and
    * order-independent in both engines; map-side partial sums of
    * integers keep the shuffle shape of a plain hash agg. DuckDB twin:
    * `CAST(sum(CAST(round(c * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0`
    * (DuckDB widens sum(BIGINT) to HUGEINT — also exact).
    */
  private[queries] def moneySum(c: Column): Column =
    sum(round(c * 100, 0).cast("long").cast(DecimalType(38, 0)))
      .cast("double") / 100.0

  /** One SQL text for join_lateral_topk_per_nation, run verbatim on
    * BOTH engines — top-3 customers by balance per nation via a
    * correlated LATERAL subquery with ORDER BY + LIMIT.
    */
  private def lateralTopkSql(nation: String, customer: String): String =
    s"""SELECT n_name, c.c_custkey, round(c.c_acctbal, 2) AS c_acctbal
      |FROM $nation, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM $customer
      |  WHERE c_nationkey = n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
      |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin

  /** One SQL text for agg_stats_battery, parameterized only by table
    * name, run verbatim on BOTH Spark and DuckDB: exact DECIMAL(38,0)
    * cents-scaled moment sums, then the closed-form stddev/var/corr/
    * covar arithmetic in one fixed order of IEEE double ops.
    */
  def statsBatterySql(table: String): String =
    s"""WITH m AS (
       |  SELECT l_returnflag,
       |    CAST(count(*) AS DECIMAL(38,0)) AS n,
       |    sum(CAST(round(l_extendedprice*100) AS DECIMAL(38,0))) AS sp,
       |    sum(CAST(round(l_extendedprice*100) AS DECIMAL(38,0)) * CAST(round(l_extendedprice*100) AS DECIMAL(38,0))) AS spp,
       |    sum(CAST(round(l_quantity*100) AS DECIMAL(38,0))) AS sq,
       |    sum(CAST(round(l_quantity*100) AS DECIMAL(38,0)) * CAST(round(l_quantity*100) AS DECIMAL(38,0))) AS sqq,
       |    sum(CAST(round(l_quantity*100) AS DECIMAL(38,0)) * CAST(round(l_extendedprice*100) AS DECIMAL(38,0))) AS sqp,
       |    sum(CAST(round(l_discount*100) AS DECIMAL(38,0))) AS sd,
       |    sum(CAST(round(l_tax*100) AS DECIMAL(38,0))) AS st,
       |    sum(CAST(round(l_discount*100) AS DECIMAL(38,0)) * CAST(round(l_tax*100) AS DECIMAL(38,0))) AS sdt
       |  FROM $table GROUP BY 1)
       |SELECT l_returnflag,
       |  round(sqrt(CAST(n*spp - sp*sp AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)) / 100, 4) + 0.0 AS sd_price,
       |  round(CAST(n*sqq - sq*sq AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) / 10000, 4) + 0.0 AS var_qty,
       |  round(CAST(n*sqp - sq*sp AS DOUBLE) / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE)) * sqrt(CAST(n*spp - sp*sp AS DOUBLE))), 6) + 0.0 AS corr_qty_price,
       |  round(CAST(n*sdt - sd*st AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) / 10000, 6) + 0.0 AS covar_disc_tax
       |FROM m""".stripMargin

  /** Z-score anomaly scoring (the fraud-shaped analytic the reference's
    * domain implies): per-type mean/stddev from exact DECIMAL(38,0)
    * cents-scaled moments, z computed in ONE fixed order of IEEE double
    * ops, rounded BEFORE the |z|>3 cutoff — same SQL text verbatim on
    * both engines (the [[statsBatterySql]] parity pattern). Scale
    * shape: pass 1 is a map-side-combined 5-row aggregate; pass 2 joins
    * those 5 rows back (auto-broadcast) — two scans, no wide shuffle.
    */
  def zscoreSql(table: String): String =
    s"""WITH m AS (
       |  SELECT event_type,
       |    CAST(count(*) AS DECIMAL(38,0)) AS n,
       |    sum(CAST(round(value*100) AS DECIMAL(38,0))) AS sv,
       |    sum(CAST(round(value*100) AS DECIMAL(38,0)) * CAST(round(value*100) AS DECIMAL(38,0))) AS svv
       |  FROM $table GROUP BY 1),
       |z AS (
       |  SELECT e.event_id, e.event_type, e.value,
       |    round((CAST(round(e.value*100) AS DOUBLE)
       |        - CAST(m.sv AS DOUBLE) / CAST(m.n AS DOUBLE))
       |      / sqrt(CAST(m.n*m.svv - m.sv*m.sv AS DOUBLE) / CAST(m.n*(m.n-1) AS DOUBLE)),
       |      4) + 0.0 AS zscore
       |  FROM $table e JOIN m USING (event_type))
       |SELECT event_id, event_type, value, zscore
       |FROM z WHERE abs(zscore) > 3""".stripMargin

  val all: Seq[Query] = Seq(
    // anomaly scoring: |z| > 3 events vs their type's distribution
    Query("fraud_zscore_outliers", (s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_v")
      s.sql(zscoreSql("events_v"))
    },
      zscoreSql("events")),

    // broadcast join chain: fact(customer) ⋈ dim(nation) ⋈ dim(region)
    Query("join_broadcast_dims", (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(col("c_custkey")).as("n_customers"),
          moneySum(col("c_acctbal")).as("total_acctbal"))
    },
      """SELECT r_name, n_name, count(c_custkey) AS n_customers,
        |  CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin),

    // shuffle (sort-merge) join on the two biggest tables + grouped agg:
    // revenue per order status/priority. Decimal arithmetic for the
    // product sum; AQE picks SMJ or SHJ — the shuffle is on o_orderkey.
    Query("join_fact_fact_revenue", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          (sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 2)) - dec("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin),

    // bucketed co-located fact-fact join: both sides land as external
    // bucketed tables (8 buckets on the join key), so the join + the
    // per-key half of the aggregation run with NO exchange — the
    // pre-paid-shuffle pattern for a 100 TB fact table joined on the
    // same key by many jobs. hint("merge") keeps the demonstration
    // honest at harness scale (orders would broadcast at sf0.01);
    // exchange-freedom is asserted in PlanAuditSpec
    Query("join_bucketed_colocated", (s, dir) => {
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.etl.Bucketing.writeBucketed(
        Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
        s"graft_bkt_lineitem_$sfx", OracleAux.dir(dir, "bkt_lineitem"),
        "l_orderkey", 8)
      graft.etl.Bucketing.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_orderpriority"),
        s"graft_bkt_orders_$sfx", OracleAux.dir(dir, "bkt_orders"),
        "o_orderkey", 8)
      val li = s.table(s"graft_bkt_lineitem_$sfx")
      val o = s.table(s"graft_bkt_orders_$sfx")
      li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          (sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 2)) - dec("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },
      // reads the bucketed tables' own parquet files: same values as the
      // source tables, but proves the bucketed write round-trips
      s"""SELECT o_orderstatus, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM read_parquet('${OracleAux.sqlDir("bkt_lineitem")}/*.parquet') li
        |JOIN read_parquet('${OracleAux.sqlDir("bkt_orders")}/*.parquet') o
        |  ON li.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2""".stripMargin),

    // Z-order layout: re-cluster events on (user_id, value) so per-file
    // min/max stats prune a 2-d box predicate on BOTH dimensions — the
    // single-sort layout prunes only its leading column (measured:
    // LayoutSpec's files-overlapping proxy, 4/16 vs 16/16 files). Ranks
    // are quantile-boundary model state (skew-proof); layout never
    // changes results, so the oracle is the same box filter on the
    // ORIGINAL table
    Query("layout_zorder_prune", (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "value")
      val path = OracleAux.dir(dir, "zorder_events")
      graft.etl.Layout.writeZOrdered(ev, path, "user_id", "value",
        numFiles = 16)
      s.read.parquet(path)
        .where(col("user_id").between(100, 119) &&
          col("value").between(40.0, 60.0))
    },
      // layout changes WHERE the rows live, never WHICH rows match: the
      // oracle runs the same box filter on the original table
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id BETWEEN 100 AND 119
        |  AND value BETWEEN 40.0 AND 60.0""".stripMargin),

    // left-semi: customers that have at least one order (EXISTS)
    Query("join_semi_customers_with_orders", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    // left-anti: customers with no high-value order (NOT EXISTS); the
    // filter on the right side is pushed below the join, shrinking the
    // build side before the anti probe
    Query("join_anti_customers_without_orders", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).where(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin),

    // top-k: global sort + limit; Spark runs TakeOrderedAndProject —
    // per-partition top-k then a k-row driver merge, no full sort at scale
    Query("topk_orders", (s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),

    // set ops over aligned projections
    Query("set_union_nations", (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      val sp = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
      c.union(sp).distinct()
    },
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey AS nationkey FROM supplier)""".stripMargin),

    Query("set_intersect_nations", (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      val sp = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
      c.intersect(sp)
    },
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    Query("set_except_nations", (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      val sp = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
      c.except(sp)
    },
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    // analytic window: each customer's single most expensive order
    // (row_number with deterministic tie-break)
    Query("window_top_order_per_customer", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin),

    // analytic window: running sum + lag over an ordered per-user frame.
    // The running total accumulates exact integer cents (a windowed sum
    // of longs), not doubles: engines disagree on windowed-double
    // association (streaming accumulator vs segment tree), so a prefix
    // sum one ulp from a .xx5 boundary would round differently
    Query("window_running_user_value", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("running_value",
          sum(round(col("value") * 100, 0).cast("long"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double") / 100.0)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("rank_in_user", row_number().over(w))
    },
      """SELECT user_id, event_id, value,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / 100.0 AS running_value,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS INTEGER) AS rank_in_user
        |FROM events""".stripMargin),

    // ranking-function battery: every rank flavor in one Window pass
    // (single shuffle + sort serves all six functions)
    Query("window_rank_battery", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        // percent_rank/cume_dist are int/int ratios with small per-
        // partition denominators — boundary-exact round-6 (r16 sweep);
        // the (value desc, event_id) order is tie-free, so cume_dist
        // equals row_number/n. The count shares w's partition+order
        // (full frame) so it merges into the SAME WindowExec — no
        // second window pass
        .withColumn("__n", count(lit(1)).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("prnk", when(col("__n") === 1, lit(0.0)).otherwise(
          graft.text.TextAnalysis.exactRound6Ratio(
            col("rnk").cast("long") - 1, col("__n") - 1)))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("best_value", first(col("value")).over(w))
        .withColumn("cume", graft.text.TextAnalysis.exactRound6Ratio(
          row_number().over(w).cast("long"), col("__n")))
        .drop("__n")
    },
      """SELECT user_id, event_id, value,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob);
        |  -- tie-free order, so cume_dist = row_number/n
        |  CASE WHEN count(*) OVER wp = 1 THEN 0.0
        |    ELSE CAST((2 * CAST(rank() OVER w - 1 AS HUGEINT) * 1000000
        |               + (count(*) OVER wp - 1))
        |              // (2 * (count(*) OVER wp - 1)) AS DOUBLE)
        |      / 1000000.0 + 0.0 END AS prnk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  first_value(value) OVER w AS best_value,
        |  CAST((2 * CAST(row_number() OVER w AS HUGEINT) * 1000000
        |        + count(*) OVER wp)
        |       // (2 * count(*) OVER wp) AS DOUBLE)
        |    / 1000000.0 + 0.0 AS cume
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC),
        |  wp AS (PARTITION BY user_id)""".stripMargin),

    // scalar-function battery (F4-F9 analogs): dates, strings, math,
    // conditionals — one Project, fully codegen'd
    Query("scalar_battery", (s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        unix_timestamp(col("o_orderdate")).as("o_epoch"),
        upper(col("o_orderstatus")).as("status_upper"),
        concat(col("o_orderpriority"), lit(":"), col("o_orderstatus")).as("prio_tag"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        length(col("o_orderpriority")).as("prio_len"),
        round(col("o_totalprice"), 0).as("price_round0"),
        floor(col("o_totalprice")).as("price_floor"),
        ceil(col("o_totalprice")).as("price_ceil"),
        abs(col("o_totalprice") - lit(1000.0)).as("price_abs_dev"),
        when(col("o_totalprice") > 100000, lit("high"))
          .when(col("o_totalprice") > 10000, lit("mid"))
          .otherwise(lit("low")).as("price_band")),
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  CAST(day(o_orderdate) AS INTEGER) AS o_day,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_epoch,
        |  upper(o_orderstatus) AS status_upper,
        |  o_orderpriority || ':' || o_orderstatus AS prio_tag,
        |  substring(o_orderpriority, 1, 1) AS prio_code,
        |  CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
        |  round(o_totalprice, 0) AS price_round0,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
        |  abs(o_totalprice - 1000.0) AS price_abs_dev,
        |  CASE WHEN o_totalprice > 100000 THEN 'high'
        |       WHEN o_totalprice > 10000 THEN 'mid'
        |       ELSE 'low' END AS price_band
        |FROM orders""".stripMargin),

    // calendar arithmetic beyond scalar_battery's extracts: truncation,
    // month-end, interval shift, day deltas — all map-only, all feeding
    // partition pruning / window bucketing at scale
    Query("scalar_datetime_battery", (s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_start"),
        quarter(col("o_orderdate")).as("qtr"),
        unix_timestamp(last_day(col("o_orderdate"))).as("month_end_day"),
        unix_timestamp(col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus30"),
        datediff(lit("1998-12-31").cast("date"),
          col("o_orderdate").cast("date")).as("days_to_eoy98")),
      """SELECT o_orderkey,
        |  CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(epoch(last_day(o_orderdate)) AS BIGINT) AS month_end_day,
        |  CAST(epoch(o_orderdate + INTERVAL 30 DAY) AS BIGINT) AS plus30,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
        |       AS INTEGER) AS days_to_eoy98
        |FROM orders""".stripMargin),

    // null semantics end-to-end: NULLIF-produced nulls group as ONE key,
    // aggregates ignore nulls (count(col) vs count(*), all-null max),
    // and null-safe equality (<=>) treats null as a comparable value.
    // The avg is an explicit decimal-sum / count so accumulation order
    // can't leak into the double
    Query("scalar_null_semantics", (s, dir) => {
      val w = Tables.orders(s, dir).select(
        nullif(col("o_orderstatus"), lit("O")).as("st"),
        when(col("o_totalprice") > 200000, col("o_totalprice")).as("big"))
      w.groupBy(col("st")).agg(
        count(lit(1)).as("n_rows"),
        count(col("big")).as("n_big"),
        round(sum(dec("big")).cast("double") / count(col("big")), 4).as("avg_big"),
        round(max(col("big")), 2).as("max_big"),
        sum((col("st") <=> lit("F")).cast("long")).as("n_nullsafe_f"))
    },
      """WITH w AS (
        |  SELECT nullif(o_orderstatus, 'O') AS st,
        |    CASE WHEN o_totalprice > 200000 THEN o_totalprice END AS big
        |  FROM orders)
        |SELECT st, count(*) AS n_rows, count(big) AS n_big,
        |  round(CAST(sum(CAST(big AS DECIMAL(18,2))) AS DOUBLE)
        |        / count(big), 4) AS avg_big,
        |  round(max(big), 2) AS max_big,
        |  CAST(sum(CASE WHEN st IS NOT DISTINCT FROM 'F'
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_f
        |FROM w GROUP BY st""".stripMargin),

    // lambda higher-order functions over array columns — transform /
    // filter / aggregate / exists, the API a user reaches for on
    // array-of-struct event payloads. Map-only (no shuffle, no
    // explode): the per-row array never leaves its partition, which is
    // the point at 100 TB — an explode+groupBy spelling of the same
    // stats would shuffle |tokens| rows to recompute per-doc scalars.
    // HOF lambdas don't whole-stage-codegen, so they stay OFF the
    // hot vector path (VectorExprs has the codegen expressions); for
    // per-doc token stats the scan dominates and the trade is right.
    Query("scalar_hof_array_battery", (s, dir) => {
      val toks = split(col("text"), " ")
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(filter(toks, t => length(t) > 5)).as("n_long"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("sum_len"),
        array_max(transform(toks, t => length(t))).as("max_len"),
        exists(toks, t => t.startsWith("sp")).as("has_sp"))
    },
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(len(tokens) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(tokens, x -> length(x) > 5)) AS INTEGER) AS n_long,
        |  CAST(list_sum(list_transform(tokens, x -> length(x))) AS BIGINT) AS sum_len,
        |  CAST(list_max(list_transform(tokens, x -> length(x))) AS INTEGER) AS max_len,
        |  len(list_filter(tokens, x -> starts_with(x, 'sp'))) > 0 AS has_sp
        |FROM t""".stripMargin),

    // TPC-H Q1 pricing summary — the classic agg headline. Partial
    // aggregation makes the shuffle |groups|-sized. All money sums are
    // exact integer units (cents × discount/tax hundredths), summed as
    // decimal(38,0): the r13 sf1.0 sweep caught the previous
    // decimal(18,2)-product spelling off by one ulp in sum_charge —
    // the 3-way product needs 56 digits of precision, and above 38
    // Spark clamps scale while DuckDB degrades differently, so the
    // engines disagree in the last bit. Integer units keep every
    // intermediate exact and order-independent in both engines; the
    // one double conversion happens on the identical exact integer.
    // (sum_qty stays a double sum: quantities are small integers, so
    // the sum is exact at any order.)
    Query("tpch_q1_pricing_summary", (s, dir) => {
      val dec38 = DecimalType(38, 0)
      val cents = round(col("l_extendedprice") * 100, 0).cast("long")
      val discH = round(col("l_discount") * 100, 0).cast("long")
      val taxH = round(col("l_tax") * 100, 0).cast("long")
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          (sum(cents.cast(dec38)).cast("double") / 100.0)
            .as("sum_base_price"),
          (sum((cents * (lit(100L) - discH)).cast(dec38)).cast("double")
            / 10000.0).as("sum_disc_price"),
          (sum((cents * (lit(100L) - discH) * (lit(100L) + taxH))
            .cast(dec38)).cast("double") / 1000000.0).as("sum_charge"),
          (round(sum("l_quantity"), 2) / count(lit(1))).as("avg_qty"),
          ((sum(cents.cast(dec38)).cast("double") / 100.0) / count(lit(1)))
            .as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """WITH li AS (
        |  SELECT l_returnflag, l_linestatus, l_quantity,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_h,
        |    CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_h
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |)
        |SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST(sum(cents * (100 - disc_h)) AS DOUBLE) / 10000.0
        |    AS sum_disc_price,
        |  CAST(sum(cents * (100 - disc_h) * (100 + tax_h)) AS DOUBLE)
        |    / 1000000.0 AS sum_charge,
        |  round(sum(l_quantity), 2) / count(*) AS avg_qty,
        |  (CAST(sum(cents) AS DOUBLE) / 100.0) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM li
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // distinct aggregation (§2.4 notes the reference lacks it)
    Query("agg_count_distinct", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count_distinct(col("l_orderkey")).as("n_orders"),
          count_distinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_lines")),
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY 1""".stripMargin),

    // grouping sets via rollup: per-(year, priority) + per-year + grand.
    // Money in exact integer cents (the grand-total group sums EVERY
    // order — the largest-n shape of the r13 .xx5-boundary class)
    Query("agg_rollup_orders", (s, dir) =>
      Tables.orders(s, dir)
        .rollup(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("total_price")),
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_price
        |FROM orders
        |GROUP BY ROLLUP (1, 2)""".stripMargin),

    // full cube over two dims — all 4 grouping sets in one Expand + agg
    Query("agg_cube_orders", (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("total_price")),
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_price
        |FROM orders
        |GROUP BY CUBE (1, 2)""".stripMargin),

    // exact interpolated percentiles (sort-based agg; the exact
    // counterpart of the approx sketch query)
    Query("agg_exact_percentiles", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75")),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY 1""".stripMargin),

    // statistical-moment battery: stddev/variance/corr/covar per group.
    // Built from EXACT integer moment sums (2dp columns → cents as
    // DECIMAL(38,0)) and closed-form arithmetic, textually identical to
    // the DuckDB oracle, so both engines run the same IEEE-754 double
    // ops in the same order → bit-identical results (Spark's and
    // DuckDB's native streaming-moment formulas differ in last ulps and
    // don't converge under rounding). `+ 0.0` normalizes -0.0.
    // Map-side partial sums of integers — same shuffle shape as any
    // hash agg; exactness costs nothing at scale.
    Query("agg_stats_battery", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_stats_v")
      s.sql(statsBatterySql("lineitem_stats_v"))
    },
      statsBatterySql("lineitem")),

    // explicit GROUPING SETS (the general form rollup/cube sugar over)
    Query("agg_grouping_sets", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      // same exact-integer-cents SQL text as the DuckDB twin (Spark
      // sums DECIMAL(38,0), DuckDB DECIMAL(38,0) — both exact)
      s.sql("""SELECT o_orderstatus, o_orderpriority,
              |  count(*) AS n_orders,
              |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0)))
              |    AS DOUBLE) / 100.0 AS total_price
              |FROM orders_v
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
        .stripMargin)
    },
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0)))
        |    AS DOUBLE) / 100.0 AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),

    // argmin/argmax aggregates. Tie-break folded into one exact bigint
    // (value is 2dp, so cents*1e7 + event_id is integral and
    // collision-free) — DuckDB's arg_max only compares scalars
    Query("agg_minmax_by", (s, dir) => {
      val ordKey = (round(col("value") * 100).cast("long") * 10000000L +
        col("event_id")).as("__ord")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"), ordKey)
        .groupBy(col("user_id"))
        .agg(
          max_by(col("event_type"), col("__ord")).as("top_event_type"),
          min_by(col("event_type"), col("__ord")).as("bottom_event_type"),
          round(max(col("value")), 2).as("max_value"))
    },
      """SELECT user_id,
        |  arg_max(event_type, CAST(round(value * 100) AS BIGINT) * 10000000 + event_id) AS top_event_type,
        |  arg_min(event_type, CAST(round(value * 100) AS BIGINT) * 10000000 + event_id) AS bottom_event_type,
        |  round(max(value), 2) AS max_value
        |FROM events GROUP BY 1""".stripMargin),

    // pivot: per-user spend per event_type as columns; explicit value
    // list so the plan is a single partial+final agg (no distinct scan)
    Query("pivot_user_event_type", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(moneySum(col("value"))),
      """WITH e AS (SELECT user_id, event_type,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT user_id,
        |  CAST(sum(cents) FILTER (event_type = 'click') AS DOUBLE) / 100.0 AS click,
        |  CAST(sum(cents) FILTER (event_type = 'error') AS DOUBLE) / 100.0 AS error,
        |  CAST(sum(cents) FILTER (event_type = 'purchase') AS DOUBLE) / 100.0 AS purchase,
        |  CAST(sum(cents) FILTER (event_type = 'signup') AS DOUBLE) / 100.0 AS signup,
        |  CAST(sum(cents) FILTER (event_type = 'view') AS DOUBLE) / 100.0 AS view
        |FROM e GROUP BY 1""".stripMargin),

    // F5: base64 round-trip + JSON parse (consumer/function.py:14-15's
    // record decode, batch form)
    Query("scalar_b64_json_decode", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        base64(col("props").cast("binary")).as("b64"),
        get_json_object(
          unbase64(base64(col("props").cast("binary"))).cast("string"), "$.k")
          .cast("int").as("k_decoded")),
      """SELECT event_id,
        |  to_base64(CAST(props AS BLOB)) AS b64,
        |  CAST(json_extract_string(
        |    decode(from_base64(to_base64(CAST(props AS BLOB)))),
        |    '$.k') AS INTEGER) AS k_decoded
        |FROM events""".stripMargin),

    // F7: ISO-8601 format → parse round-trip (generator_app/app.py:79 /
    // flink_app/app.py:63-64 timestamp handling)
    Query("scalar_iso8601_roundtrip", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"),
        unix_timestamp(
          to_timestamp(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
            "yyyy-MM-dd'T'HH:mm:ss")).as("parsed_epoch")),
      """SELECT event_id,
        |  strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso,
        |  CAST(epoch(strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'),
        |    '%Y-%m-%dT%H:%M:%S')) AS BIGINT) AS parsed_epoch
        |FROM events""".stripMargin),

    // approx sketches (HLL count-distinct, quantile summaries). The
    // estimates are engine-specific, so the aux-oracle pattern makes
    // them checkable: the Spark sketch outputs are pinned and declared,
    // then BOTH engines read those same values, recompute the exact
    // answers independently, and evaluate the documented error bounds —
    // every output column is deterministic, so the row hashes must
    // match. Bounds: HLL++ default rsd=0.05 → 3σ=15% count bound;
    // percentile_approx(accuracy=1000) → ±n/1000 rank error, checked as
    // |rank(approx)/n − 0.5| ≤ 0.002 (2× for data-point snap slop).
    Query("agg_approx_sketches", Seq("sketch_approx"), (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val approx = graft.Checkpoints.checkpoint(li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("approx_median_price")))
      val exact = li.groupBy(col("l_returnflag")).agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        count(lit(1)).as("n_rows"))
      val ranked = li
        .join(approx.select(col("l_returnflag"), col("approx_median_price")),
          Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(col("l_extendedprice") <= col("approx_median_price"), 1L)
          .otherwise(0L)).as("le_approx"))
      Query.Out(approx.join(exact, Seq("l_returnflag"))
        .join(ranked, Seq("l_returnflag"))
        .select(
          col("l_returnflag"),
          col("approx_orders"),
          col("exact_orders"),
          (abs(col("approx_orders") - col("exact_orders")) <=
            col("exact_orders").cast("double") * 0.15).as("orders_within_bound"),
          col("approx_median_price"),
          (abs(col("le_approx").cast("double") / col("n_rows").cast("double")
            - 0.5) <= 0.002).as("median_within_bound")),
        Seq("sketch_approx" -> approx))
    },
      // reads the Spark-pinned sketch values, recomputes exact
      // counts/ranks independently, and evaluates the same documented
      // bounds — every column deterministic, so hashes must match
      s"""WITH a AS (
        |  SELECT l_returnflag, approx_orders, approx_median_price
        |  FROM read_parquet('${OracleAux.sqlDir("sketch_approx")}/*.parquet')
        |),
        |e AS MATERIALIZED (
        |  SELECT l_returnflag,
        |    count(DISTINCT l_orderkey) AS exact_orders,
        |    count(*) AS n_rows
        |  FROM lineitem GROUP BY 1
        |),
        |r AS (
        |  SELECT l.l_returnflag,
        |    sum(CASE WHEN l.l_extendedprice <= a.approx_median_price
        |             THEN 1 ELSE 0 END) AS le_approx
        |  FROM lineitem l JOIN a ON l.l_returnflag = a.l_returnflag
        |  GROUP BY 1
        |)
        |SELECT a.l_returnflag, a.approx_orders,
        |  CAST(e.exact_orders AS BIGINT) AS exact_orders,
        |  (abs(a.approx_orders - e.exact_orders) <=
        |     CAST(e.exact_orders AS DOUBLE) * 0.15) AS orders_within_bound,
        |  a.approx_median_price,
        |  (abs(CAST(r.le_approx AS DOUBLE) / CAST(e.n_rows AS DOUBLE) - 0.5)
        |     <= 0.002) AS median_within_bound
        |FROM a
        |JOIN e ON a.l_returnflag = e.l_returnflag
        |JOIN r ON a.l_returnflag = r.l_returnflag""".stripMargin),

    // sliding window (30s window, 10s slide — each event lands in 3
    // windows); beyond the reference's tumbling-only surface
    Query("window_sliding_sum", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "30 seconds", "10 seconds"))
        .agg(moneySum(col("value")).as("total_value"))
        // exact-cents boundary: cents/100.0 > 150.0 ⇔ cents > 15000 in
        // BOTH engines (150.0 and 15000/100.0 are the same double)
        .where(col("total_value") > 150.0)
        .select(col("user_id"),
          unix_timestamp(col("window.start")).as("window_start"),
          unix_timestamp(col("window.end")).as("window_end"),
          col("total_value")),
      """SELECT user_id,
        |  CAST(floor(epoch(ts)/10)*10 - 10*k AS BIGINT) AS window_start,
        |  CAST(floor(epoch(ts)/10)*10 - 10*k + 30 AS BIGINT) AS window_end,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_value
        |FROM events CROSS JOIN UNNEST([0, 1, 2]) AS t(k)
        |GROUP BY 1, 2, 3
        |HAVING CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 > 150.0""".stripMargin),

    // session window (5-minute inactivity gap) — gaps-and-islands in the
    // oracle; microsecond-exact boundary semantics on both sides
    Query("window_session_sum", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n_events"),
          moneySum(col("value")).as("total_value"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start"),
          unix_timestamp(col("session_window.end")).as("session_end"),
          col("n_events"), col("total_value")),
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ep, value FROM events
        |), o AS (
        |  SELECT user_id, ep, value,
        |    CASE WHEN lag(ep) OVER w IS NULL
        |           OR ep - lag(ep) OVER w >= 300000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep)
        |), g AS (
        |  SELECT user_id, ep, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ep
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM o
        |)
        |SELECT user_id,
        |  CAST(min(ep) // 1000000 AS BIGINT) AS session_start,
        |  CAST((max(ep) + 300000000) // 1000000 AS BIGINT) AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_value
        |FROM g GROUP BY user_id, grp""".stripMargin),

    // join against a selective build side: the plain equi-join. When the
    // build side is too big to broadcast, Spark's runtime filter
    // (InjectRuntimeFilter) prunes the events scan with a Bloom filter of
    // the build keys, planned as a subquery (PlanAuditSpec pins it)
    Query("join_bloom_pruned", (s, dir) => {
      val highValue = Tables.customer(s, dir)
        .where(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_name"))
      Tables.events(s, dir).select(col("event_id"), col("user_id"), col("value"))
        .join(highValue, col("user_id") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n_events"),
          moneySum(col("value")).as("total_value"))
    },
      """SELECT c_custkey, c_name, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE c_acctbal > 9000
        |GROUP BY 1, 2""".stripMargin),

    // SCD Type-2 history: each order as a balance snapshot with
    // [valid_from, valid_to) and an is_current flag — one window pass
    Query("etl_scd2_history", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .withColumn("valid_from", unix_timestamp(col("o_orderdate")))
        .withColumn("valid_to",
          unix_timestamp(lead(col("o_orderdate"), 1).over(w)))
        .withColumn("is_current", col("valid_to").isNull)
        .drop("o_orderdate")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS valid_from,
        |  CAST(floor(epoch(lead(o_orderdate, 1) OVER w)) AS BIGINT) AS valid_to,
        |  lead(o_orderdate, 1) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),

    // batch MERGE/upsert: orders-derived changeset into customer —
    // updates (matched keys take source values) + inserts (shifted
    // keys), one full-outer join + coalesce Project
    Query("etl_merge_upsert", (s, dir) => {
      val target = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal")
      // balance in exact integer cents, not round(double-sum/1000, 2):
      // a float sum's last ulp depends on partition order, and the r13
      // sf1.0 sweep planted a customer whose spend/1000 sits exactly on
      // the .xx5 rounding boundary — Spark's sum landed one ulp below
      // (→ .10) and DuckDB's one above (→ .11). floor((cents+500)/1000)
      // is the same half-up rounding computed order-independently; both
      // engines' `/` on exact-integer doubles < 2^53 is exact where it
      // matters, so the twin agrees by construction
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg((floor((sum(round(col("o_totalprice") * 100, 0).cast("long"))
            + lit(500L)) / lit(1000L)).cast("double") / 100.0)
          .as("c_acctbal"))
      val updates = spend
        .select(col("o_custkey").as("c_custkey"),
          concat(lit("upd_"), col("o_custkey").cast("string")).as("c_name"),
          col("c_acctbal"))
      val inserts = updates
        .select((col("c_custkey") + 100000L).as("c_custkey"),
          concat(lit("new_"), col("c_custkey").cast("string")).as("c_name"),
          col("c_acctbal"))
      graft.etl.Upsert.merge(target, updates.unionByName(inserts), "c_custkey")
    },
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(floor((sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |                + 500) / 1000) AS DOUBLE) / 100.0 AS c_acctbal
        |  FROM orders GROUP BY 1
        |), src AS (
        |  SELECT o_custkey AS c_custkey,
        |    'upd_' || CAST(o_custkey AS VARCHAR) AS c_name, c_acctbal
        |  FROM spend
        |  UNION ALL
        |  SELECT o_custkey + 100000,
        |    'new_' || CAST(o_custkey AS VARCHAR), c_acctbal
        |  FROM spend
        |), tgt AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |)
        |SELECT
        |  COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal
        |FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey""".stripMargin),

    // the SQL entry point (the reference's programs are SQL-driven —
    // flink_app/app.py DDL + Table API): temp view + spark.sql, same
    // Catalyst plan as the DataFrame form
    Query("sql_interface_agg", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag, l_linestatus,
              |  round(sum(l_quantity), 2) AS sum_qty,
              |  count(*) AS n_lines
              |FROM lineitem_v GROUP BY 1, 2""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY 1, 2""".stripMargin),

    // LATERAL join with a correlated ORDER BY + LIMIT body — the
    // "top-k related rows per outer row" idiom a warehouse user writes
    // directly. Catalyst decorrelates the per-nation LIMIT via a
    // window/rank rewrite over ONE shuffle of customer keyed by the
    // correlation column — NOT a per-nation rescan, which is what a
    // naive lateral execution would do 25× here and 10^6× at 100 TB.
    // Identical SQL text runs on both engines (DuckDB executes the
    // lateral natively); acctbal rounded before the rank cutoff is not
    // needed since the LIMIT orders by the raw column on both sides
    // with a custkey tiebreak.
    Query("join_lateral_topk_per_nation", (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("nation_lat_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_lat_v")
      s.sql(lateralTopkSql("nation_lat_v", "customer_lat_v"))
    },
      lateralTopkSql("nation", "customer")),

    // as-of join (graft.plans.AsOfJoin): latest order at-or-before each
    // event, per customer — one shuffle + sort over |L|+|R|, no range-
    // join expansion. Orders pre-deduped per (custkey, date) so the
    // match is deterministic on both engines; DuckDB states the same
    // query as a native ASOF JOIN.
    Query("join_asof_latest_order", (s, dir) => {
      val e = Tables.events(s, dir).select("event_id", "user_id", "ts")
      val o = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      graft.plans.AsOfJoin.asofJoin(e, o, "user_id", "o_custkey",
        "ts", "o_orderdate", Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_epoch"), col("o_orderkey"))
    },
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id,
        |  CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_epoch,
        |  o.o_orderkey
        |FROM events e ASOF JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin),

    // bucketed range join (graft.plans.RangeJoin): per event, how many
    // same-user events follow within 10 min — equi-join on (user, bucket)
    // + residual, never a per-key nested loop
    Query("join_range_next_events", (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      val intervals = e.select(col("event_id"), col("user_id").as("ikey"),
        col("ts_us").as("start_us"),
        (col("ts_us") + lit(600000000L)).as("end_us"))
      val points = e.select(col("user_id").as("pkey"), col("ts_us"))
      graft.plans.RangeJoin.intervalPointJoin(intervals, points,
        "ikey", "pkey", "start_us", "end_us", "ts_us", 600000000L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_next_10m"))
    },
      """SELECT e1.event_id, count(*) AS n_next_10m
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND epoch_us(e2.ts) > epoch_us(e1.ts)
        | AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 600000000
        |GROUP BY 1""".stripMargin),

    // salted fact⋈dim join (explicit hot-key mitigation — see
    // graft.etl.Skew): row-identical to the plain equi-join the oracle
    // states, but the fact side shuffles on (key, salt)
    Query("join_salted_skew", (s, dir) => {
      val e = Tables.events(s, dir)
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
      graft.etl.Skew.saltedEquiJoin(e, c, "user_id", "c_custkey", numSalts = 8)
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(moneySum(col("value")).as("total_value"),
          count(lit(1)).as("n_events"))
    },
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_value,
        |  count(*) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin),

    // custom physical operator (graft.plans.TopKPerKey): top-3 events per
    // user by value. Plans PartialTopK → Exchange → FinalTopK — bounded
    // heaps both sides, shuffle carries ≤ k rows per (key, partition)
    // instead of the full table, and no sort ever runs. Oracle is the
    // row_number() formulation DuckDB (and stock Spark) would use.
    Query("topk_custom_plan", (s, dir) =>
      graft.plans.TopKPerKey.topKPerKey(
        Tables.events(s, dir).select("user_id", "event_id", "value"),
        Seq("user_id"),
        Seq("value" -> true, "event_id" -> false),
        3),
      """SELECT user_id, event_id, value, rank FROM (
        |  SELECT user_id, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id ASC) AS INTEGER) AS rank
        |  FROM events) WHERE rank <= 3""".stripMargin),

    // robust outlier gate: Iglewicz–Hoaglin modified z-score per event
    // type (exact median + MAD, 3.5 threshold); group stats broadcast
    // back, every intermediate rounded to 4 dp on both engines
    Query("agg_mad_outliers", (s, dir) =>
      graft.etl.Aggregation.madOutliers(
        Tables.events(s, dir).select("event_type", "value"),
        "event_type", "value"),
      // same three-pass median/MAD arithmetic; scalar literals ::DOUBLE
      // so DuckDB doesn't run them as DECIMAL
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, round(abs(e.value - m.med), 4) AS ad
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, round(quantile_cont(ad, 0.5), 4) AS mad
        |  FROM d GROUP BY 1),
        |s AS (
        |  SELECT e.event_type, m.med, a.mad,
        |    CASE WHEN a.mad > 0 THEN
        |      round(abs(e.value - m.med) * 0.6745::DOUBLE / a.mad, 4)
        |    END AS z
        |  FROM events e JOIN med m USING (event_type)
        |    JOIN mad a USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  min(med) AS med, min(mad) AS mad,
        |  CAST(sum(CASE WHEN z > 3.5::DOUBLE THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  max(z) AS max_z
        |FROM s GROUP BY 1""".stripMargin),

    // exact lower weighted median (quantity-weighted price per return
    // flag): one shuffle, RANGE-frame cumulative weight so ties can't
    // depend on shuffle order, integer 2·cw ≥ tot halving test
    Query("agg_weighted_median", (s, dir) =>
      graft.etl.Aggregation.weightedMedian(
        Tables.lineitem(s, dir)
          .select("l_returnflag", "l_extendedprice", "l_quantity"),
        "l_returnflag", "l_extendedprice", "l_quantity"),
      // same RANGE-frame cumulative-weight formulation; weights cast to
      // BIGINT on both sides so the halving test is integer-exact
      """WITH t AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem),
        |c AS (
        |  SELECT l_returnflag, l_extendedprice, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM t)
        |SELECT l_returnflag, CAST(min(tot) AS BIGINT) AS total_weight,
        |  count(*) AS n_rows,
        |  min(CASE WHEN cw * 2 >= tot THEN l_extendedprice END)
        |    AS weighted_median
        |FROM c GROUP BY 1""".stripMargin),

    // schema-generic table profile of lineitem: one pass, typed
    // min/max channels, exact distincts (Expand — the documented cost)
    Query("etl_profile_table", (s, dir) =>
      graft.etl.Profiler.profileTable(Tables.lineitem(s, dir)),
      // per-column UNION ALL twin generated from the same column list
      profileOracleSql),

    // ER candidate stage: customers blocked on all-but-last-2 name
    // chars, levenshtein ≤ 1 verifier — Σblock² candidates, never n²
    Query("join_fuzzy_blocked", (s, dir) => {
      val c = Tables.customer(s, dir).select("c_custkey", "c_name")
      graft.etl.Profiler.fuzzySelfMatch(c, "c_custkey", "c_name",
        expr("substring(c_name, 1, length(c_name) - 2)"), maxDist = 1)
    },
      // same blocking key and integer edit-distance verifier
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS nm,
        |    substr(c_name, 1, length(c_name) - 2) AS blk
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
        |FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.nm, b.nm) <= 1""".stripMargin),

    // market-basket rules: part pairs co-bought in ≥2 orders, both
    // rule directions, micro-unit confidence/lift, top-50 by lift
    Query("agg_association_rules", (s, dir) =>
      graft.etl.AssociationRules.mineRules(
        Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", minCount = 2L, k = 50),
      // same count arithmetic; N and item counts from the same distinct
      // basket-item table. conf/lift are round-half-up via exact integer
      // arithmetic — (2·num + den) // (2·den) in HUGEINT — matching the
      // Spark side's decimal(38,0) div (no doubles: N·c(ab)·10⁶ exceeds
      // 2⁵³ at corpus scale, where double rounding would diverge)
      """WITH bi AS MATERIALIZED (
        |  -- bi is referenced 4x (pr twice, n, it): DuckDB 1.0 inlines
        |  -- CTEs per reference, so unmaterialized the 60M-row DISTINCT
        |  -- re-evaluates 4x and the sf10 oracle ran 50+ min without
        |  -- finishing; MATERIALIZED measures 63 s (r16 census find —
        |  -- the label-prop 2^depth lesson again)
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
        |it AS MATERIALIZED (SELECT i, CAST(count(*) AS BIGINT) AS ci FROM bi GROUP BY 1),
        |pr AS MATERIALIZED (
        |  SELECT a.i AS ia, c.i AS ib, CAST(count(*) AS BIGINT) AS cab
        |  FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (
        |  SELECT ia AS ante, ib AS cons, cab FROM pr
        |  UNION ALL SELECT ib, ia, cab FROM pr),
        |s AS (
        |  SELECT d.ante, d.cons, d.cab AS pair_n,
        |    CAST((2 * CAST(d.cab AS HUGEINT) * 1000000 + ca.ci)
        |         // (2 * ca.ci) AS BIGINT) AS conf_micro,
        |    CAST((2 * CAST(n.n AS HUGEINT) * d.cab * 1000000
        |            + CAST(ca.ci AS HUGEINT) * cb.ci)
        |         // (2 * CAST(ca.ci AS HUGEINT) * cb.ci) AS BIGINT)
        |      AS lift_micro
        |  FROM d JOIN it ca ON d.ante = ca.i JOIN it cb ON d.cons = cb.i
        |  CROSS JOIN n)
        |SELECT ante, cons, pair_n, conf_micro, lift_micro,
        |  CAST(rk AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (ORDER BY lift_micro DESC,
        |        ante ASC, cons ASC) AS rk FROM s)
        |WHERE rk <= 50""".stripMargin),

    // behavior-flow discovery: gap-sessionized (5 min) first-3-step
    // paths, top-20 by session count; (ts, event_id) tie-break makes
    // the path strings engine-exact
    Query("window_session_paths", (s, dir) =>
      graft.etl.Aggregation.sessionPaths(
        Tables.events(s, dir)
          .select("user_id", "event_id", "event_type", "ts"),
        "user_id", "event_id", "event_type", "ts",
        gapSec = 300L, pathLen = 3, k = 20),
      // same island sessionization + ordered string_agg path
      """WITH t AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > 300000000 THEN 1 ELSE 0 END AS nw
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (
        |  SELECT *, sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM f),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |    ORDER BY us, event_id) AS rn
        |  FROM s),
        |p AS (
        |  SELECT string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id, sess),
        |c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1)
        |SELECT path, n_sessions, CAST(rk AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (ORDER BY n_sessions DESC,
        |        path ASC) AS rk FROM c)
        |WHERE rk <= 20""".stripMargin),

    // RFM quintile segmentation per user (reference today = corpus max
    // date; every ntile under a key-tie-broken total order)
    Query("agg_rfm_scores", (s, dir) =>
      graft.etl.Aggregation.rfmScores(
        Tables.events(s, dir).select("user_id", "ts", "value"),
        "user_id", "ts", "value"),
      // same integer metrics and tie-broken ntiles (CAST to INTEGER —
      // Spark emits int32)
      """WITH m AS (
        |  SELECT user_id,
        |    max(CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(ts AS DATE)) AS INTEGER)) AS last_d,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT user_id,
        |    (SELECT max(last_d) FROM m) - last_d AS recency_days,
        |    frequency, monetary_cents
        |  FROM m)
        |SELECT user_id, CAST(recency_days AS INTEGER) AS recency_days,
        |  frequency, monetary_cents,
        |  CAST(6 - ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC)
        |    AS INTEGER) AS r_score,
        |  CAST(6 - ntile(5) OVER (ORDER BY frequency DESC, user_id ASC)
        |    AS INTEGER) AS f_score,
        |  CAST(6 - ntile(5) OVER (ORDER BY monetary_cents DESC, user_id ASC)
        |    AS INTEGER) AS m_score
        |FROM t""".stripMargin),

    // robust mean: values clipped to exact [p05, p95] per event type,
    // clipped cents summed as integers — tail-proof and engine-exact
    Query("agg_winsorized_mean", (s, dir) =>
      graft.etl.Aggregation.winsorizedAgg(
        Tables.events(s, dir).select("event_type", "value"),
        "event_type", "value"),
      // same quantile_cont bounds (DuckDB's interpolating twin of
      // Spark's percentile), integer-cents clipped mean
      """WITH b AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.05), 4) AS p_lo,
        |    round(quantile_cont(value, 0.95), 4) AS p_hi
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT e.event_type, e.value, b.p_lo, b.p_hi,
        |    CAST(round(greatest(least(e.value, b.p_hi), b.p_lo) * 100)
        |      AS BIGINT) AS clip
        |  FROM events e JOIN b USING (event_type))
        |SELECT event_type, count(*) AS n,
        |  min(p_lo) AS p_lo, min(p_hi) AS p_hi,
        |  CAST(sum(CASE WHEN value < p_lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_lo,
        |  CAST(sum(CASE WHEN value > p_hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_hi,
        |  CAST(round(CAST(sum(clip) AS DOUBLE) / count(*)) AS BIGINT)
        |    AS mean_clipped_cents
        |FROM c GROUP BY 1""".stripMargin),

    // half-life decay rollup: weight = 10⁶ div 2^(age div 3d) — the
    // stepped integer form of an exponential-decay counter, reference
    // instant = max(ts) so the result is reproducible
    Query("agg_time_decay_revenue", (s, dir) =>
      graft.etl.Aggregation.timeDecayAgg(
        Tables.events(s, dir).select("event_type", "ts", "value"),
        "event_type", "ts", "value", halflifeSec = 3L * 86400L),
      // same stepped weight on DuckDB's integer ops (// and <<);
      // epoch_us is the µs twin of Spark's unix_micros
      """WITH nw AS (SELECT max(epoch_us(ts)) AS now_us FROM events),
        |t AS (
        |  SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    (nw.now_us - epoch_us(ts)) // 259200000000 AS k
        |  FROM events, nw)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS raw_cents,
        |  CAST(sum(cents * (CASE WHEN k >= 20 THEN 0
        |    ELSE 1000000 // (1 << k) END)) AS BIGINT)
        |    AS decayed_micro_cents
        |FROM t GROUP BY 1""".stripMargin),

    // the generalisation: p10/p25/p75/p90 weighted cuts from the SAME
    // two window sums — extra percentiles cost nothing beyond the
    // conditional-min aggregates
    Query("agg_weighted_percentiles", (s, dir) =>
      graft.etl.Aggregation.weightedPercentiles(
        Tables.lineitem(s, dir)
          .select("l_returnflag", "l_extendedprice", "l_quantity"),
        "l_returnflag", "l_extendedprice", "l_quantity",
        Seq(10, 25, 75, 90)),
      // identical cumulative-weight CTE; each cut is an integer-threshold
      // conditional min
      """WITH t AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem),
        |c AS (
        |  SELECT l_returnflag, l_extendedprice, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM t)
        |SELECT l_returnflag, CAST(min(tot) AS BIGINT) AS total_weight,
        |  count(*) AS n_rows,
        |  min(CASE WHEN cw * 100 >= 10 * tot THEN l_extendedprice END) AS wp_10,
        |  min(CASE WHEN cw * 100 >= 25 * tot THEN l_extendedprice END) AS wp_25,
        |  min(CASE WHEN cw * 100 >= 75 * tot THEN l_extendedprice END) AS wp_75,
        |  min(CASE WHEN cw * 100 >= 90 * tot THEN l_extendedprice END) AS wp_90
        |FROM c GROUP BY 1""".stripMargin),

    // cohort-retention matrix: users cohorted by first-event UTC day,
    // distinct actives per (cohort, day offset) — exact integer cells,
    // first-day agg joined back on the SAME key (exchange reuse)
    Query("agg_cohort_retention", (s, dir) =>
      graft.etl.Aggregation.cohortRetention(
        Tables.events(s, dir), "user_id", "ts"),
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) AS d
        |  FROM events),
        |f AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, f.cohort, e.d - f.cohort AS off
        |      FROM e JOIN f ON e.user_id = f.user_id)
        |SELECT CAST(cohort AS INTEGER) AS cohort_day,
        |  CAST(off AS INTEGER) AS day_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin),

    // ordered-funnel analysis (ClickHouse windowFunnel shape): per
    // user, the earliest view→click→purchase chain within 1 h of the
    // first view, epoch-µs exact; one shuffle on the key (unordered-
    // frame windows + a partitioning-reusing collapse)
    Query("window_funnel_steps", (s, dir) =>
      graft.etl.Aggregation.funnelStages(Tables.events(s, dir),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowSec = 3600L),
      // sequential per-stage min formulation (join + filtered MIN per
      // stage) — different plan shape, identical epoch-µs integers
      """WITH e AS MATERIALIZED (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
        |s1 AS MATERIALIZED (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        |  FROM e GROUP BY 1),
        |s2 AS MATERIALIZED (
        |  SELECT e.user_id,
        |    MIN(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t1
        |      AND e.ts <= s1.t1 + 3600000000 THEN e.ts END) AS t2
        |  FROM e JOIN s1 ON e.user_id = s1.user_id GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id,
        |    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t2
        |      AND e.ts <= s1.t1 + 3600000000 THEN e.ts END) AS t3
        |  FROM e JOIN s1 ON e.user_id = s1.user_id
        |         JOIN s2 ON e.user_id = s2.user_id GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |            WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS stage_reached
        |FROM s1 JOIN s2 ON s1.user_id = s2.user_id
        |        JOIN s3 ON s1.user_id = s3.user_id""".stripMargin),

    // key-skew profiler (graft.etl.Skew.skewProfile): the top-10 hot
    // keys + count-distribution stats + suggested salt factor for
    // events.user_id — the measurement that decides salting vs AQE
    Query("etl_skew_profile", (s, dir) =>
      graft.etl.Skew.skewProfile(Tables.events(s, dir), "user_id", 10),
      // Spark's exact `percentile` and DuckDB's `quantile_cont` both
      // linearly interpolate order statistics, so the two doubles agree
      // bit-for-bit on integer count data at 6 dp
      """WITH counts AS (
        |  SELECT CAST(user_id AS BIGINT) AS key, COUNT(*) AS cnt
        |  FROM events GROUP BY 1),
        |stats AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total_rows,
        |    MAX(cnt) AS max_cnt,
        |    round(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
        |    round(quantile_cont(cnt, 0.99), 6) AS p99_cnt
        |  FROM counts),
        |top AS (
        |  SELECT key, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, key) AS INTEGER)
        |      AS rank,
        |    SUM(cnt) OVER (ORDER BY cnt DESC, key
        |      ROWS UNBOUNDED PRECEDING) AS cum_cnt
        |  FROM counts ORDER BY cnt DESC, key LIMIT 10)
        |SELECT rank, key, cnt,
        |  cnt * 1000000 // total_rows AS share_ppm,
        |  CAST(cum_cnt * 1000000 // total_rows AS BIGINT) AS cum_share_ppm,
        |  n_keys, total_rows, p50_cnt, p99_cnt, max_cnt,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(max_cnt AS HUGEINT) * n_keys * 1000000 + total_rows)
        |       // (2 * total_rows) AS DOUBLE) / 1000000.0 + 0.0
        |    AS skew_ratio,
        |  greatest(CAST(1 AS BIGINT),
        |    (max_cnt * n_keys + total_rows - 1) // total_rows)
        |    AS suggested_salts
        |FROM top, stats""".stripMargin)
  )

  /** Per-column profile twin: one UNION ALL branch per lineitem
    * column, kinds matching the Spark side's type dispatch (num /
    * ts-as-epoch-µs / str).
    */
  private def profileOracleSql: String = {
    val cols = Seq(
      "l_orderkey" -> "num", "l_partkey" -> "num", "l_suppkey" -> "num",
      "l_linenumber" -> "num", "l_quantity" -> "num",
      "l_extendedprice" -> "num", "l_discount" -> "num", "l_tax" -> "num",
      "l_returnflag" -> "str", "l_linestatus" -> "str",
      "l_shipdate" -> "ts")
    cols.map { case (c, kind) =>
      val (mnN, mxN, mnS, mxS) = kind match {
        case "num" =>
          (s"round(CAST(min($c) AS DOUBLE), 6)",
            s"round(CAST(max($c) AS DOUBLE), 6)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case "ts" =>
          (s"CAST(epoch_us(min($c)) AS DOUBLE)",
            s"CAST(epoch_us(max($c)) AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case _ =>
          ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            s"min($c)", s"max($c)")
      }
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  $mnN AS min_num, $mxN AS max_num,
         |  $mnS AS min_str, $mxS AS max_str
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")
  }
}
