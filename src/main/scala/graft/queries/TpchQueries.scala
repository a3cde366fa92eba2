package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.model.Tables

/** TPC-H-shaped headline queries over the harness tables (q1 lives in
  * BreadthQueries; this file adds the classic multi-join plans: q3, q5,
  * q6, q10, q18). The reference pipeline has no joins at all (SURVEY.md
  * §2.3) — these are the "would a warehouse user of this engine be
  * served" queries, and the ones whose physical plans matter most at
  * 100 TB.
  *
  * Scale shapes (audited in PlanAuditSpec):
  *  - dimension sides (customer-filtered-by-segment, nation, region,
  *    supplier) broadcast; the lineitem/orders fact sides stream —
  *    no shuffle of the big table for dim joins;
  *  - fact-fact (lineitem ⋈ orders) shuffles once on orderkey and AQE
  *    picks SMJ/shuffled-hash at real scale;
  *  - q18's "large orders" subquery is a self-aggregation of lineitem
  *    on the SAME key as the subsequent join, so the shuffle is reused;
  *  - date filters sit directly on the scan (PushedFilters), so
  *    partition/row-group pruning does the heavy lifting at 100 TB;
  *  - top-k (q3/q10/q18 LIMIT) runs as TakeOrderedAndProject — heap,
  *    no global sort.
  *
  * Oracle parity: fp-sensitive sums of products run in DECIMAL(18,2)
  * and cast to double at the end (exact, order-insensitive — the
  * pattern proven by tpch_q1/join_fact_fact_revenue); LIMIT queries
  * carry a total-order tiebreak so the selected set is deterministic.
  */
object TpchQueries {

  private def dec(c: String) = col(c).cast(DecimalType(18, 2))
  private val one = lit(1).cast(DecimalType(18, 2))

  /** sum(extprice * (1 - discount)) as an exact decimal, emitted double. */
  private def revenue = sum(dec("l_extendedprice") * (one - dec("l_discount")))
    .cast("double").as("revenue")

  private val revenueSql =
    """CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue"""
      .stripMargin

  // ---- correlated-subquery suite (q4 / q21 / q22 shapes) -------------
  //
  // Written as *correlated subqueries* (EXISTS / NOT EXISTS / correlated
  // scalar) through the SQL interface, NOT as hand-planned semi/anti
  // joins: what's being proven is Catalyst's decorrelation — EXISTS →
  // left-semi hash join, NOT EXISTS → left-anti hash join, correlated
  // scalar agg → aggregate + (broadcast) outer equi-join — with no
  // CartesianProduct / BroadcastNestedLoopJoin anywhere in the physical
  // plan (asserted in PlanAuditSpec). At 100 TB a correlated subquery
  // that DOESN'T decorrelate to a hash join is a per-row rescan of a
  // fact table; these queries are the regression guard against that.
  //
  // The harness lineitem has no l_commitdate/l_receiptdate, so the
  // TPC-H "late line" predicate becomes l_shipdate > o_orderdate + 60
  // days — which correlates on TWO outer columns (orderkey equality +
  // orderdate inequality), a strictly richer decorrelation than stock
  // q4/q21: the non-equi half must land in the semi/anti join condition.
  // Same SQL text runs on both engines (only view names differ).

  /** q4 shape — order-priority checking: orders in a half-year window
    * with at least one late line. EXISTS over the fact table.
    */
  private def q4Sql(orders: String, lineitem: String) =
    s"""SELECT o_orderpriority, count(*) AS order_count
      |FROM $orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM $lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q21 shape — suppliers who kept waiting: for finished multi-supplier
    * orders, the supplier whose line was the ONLY late one. EXISTS +
    * NOT EXISTS over the same fact (lineitem self-correlation), both
    * referencing the outer join's o_orderdate.
    */
  private def q21Sql(supplier: String, lineitem: String, orders: String, nation: String) =
    s"""SELECT s_name, count(*) AS numwait
      |FROM $supplier JOIN $lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN $orders ON o_orderkey = l1.l_orderkey
      |JOIN $nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM $lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM $lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  /** q7 shape — volume shipping between two nations, either direction,
    * by ship year. The nation table joins in TWO roles (supplier's and
    * customer's), with the direction disjunction across both roles —
    * the classic two-alias dimension pattern.
    */
  private def q7Sql(supplier: String, lineitem: String, orders: String,
                    customer: String, nation: String) =
    s"""SELECT supp_nation, cust_nation, l_year, $revenueSql
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |             CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |             l_extendedprice, l_discount
      |      FROM $supplier JOIN $lineitem ON s_suppkey = l_suppkey
      |      JOIN $orders ON o_orderkey = l_orderkey
      |      JOIN $customer ON c_custkey = o_custkey
      |      JOIN $nation n1 ON s_nationkey = n1.n_nationkey
      |      JOIN $nation n2 ON c_nationkey = n2.n_nationkey
      |      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |        AND l_shipdate >= TIMESTAMP '1996-01-01'
      |        AND l_shipdate < TIMESTAMP '1998-01-01') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** q8 shape — national market share: an 8-table join (nation in two
    * roles + region on the customer side), share = conditional DECIMAL
    * sum over total DECIMAL sum, one double division per year.
    */
  private def q8Sql(part: String, lineitem: String, orders: String,
                    customer: String, nation: String, region: String,
                    supplier: String) =
    s"""SELECT o_year,
      |  round(CAST(sum(CASE WHEN nation = 'NATION_1' THEN volume
      |                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
      |        CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume,
      |    n2.n_name AS nation
      |  FROM $part JOIN $lineitem ON p_partkey = l_partkey
      |  JOIN $orders ON l_orderkey = o_orderkey
      |  JOIN $customer ON o_custkey = c_custkey
      |  JOIN $nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN $region ON n1.n_regionkey = r_regionkey
      |  JOIN $supplier ON l_suppkey = s_suppkey
      |  JOIN $nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01') all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** q13 shape — customer order-count distribution: LEFT OUTER join
    * (zero-order customers must survive with count 0) under an
    * order-side filter, then a second aggregation over the counts.
    */
  private def q13Sql(customer: String, orders: String) =
    s"""SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM $customer LEFT OUTER JOIN $orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q14 shape — promo revenue share: conditional aggregation over a
    * part-dimension join, exact DECIMAL sums on both branches of the
    * ratio, one double division at the end.
    */
  private def q14Sql(lineitem: String, part: String) =
    s"""SELECT round(100.00 * CAST(sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
      |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |       (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
      |  4) AS promo_revenue
      |FROM $lineitem JOIN $part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin

  /** q15 shape — top supplier: an aggregated revenue view consumed
    * twice, once joined and once inside a scalar max subquery; DECIMAL
    * revenue makes the max-equality exact.
    */
  private def q15Sql(supplier: String, lineitem: String) =
    s"""WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
      |  FROM $lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM $supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** q17 shape — small-quantity-order revenue: correlated scalar AVG
    * per part (decorrelates to an aggregate on the fact keyed by the
    * SAME column as the join). The average is built from an exact
    * DECIMAL sum (quantities are integral) with ONE double division, so
    * the 20% cutoff is engine-portable — a naive double avg would make
    * the strict inequality flap at the last ulp.
    */
  private def q17Sql(lineitem: String, part: String) =
    s"""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM $lineitem l JOIN $part ON p_partkey = l.l_partkey
      |WHERE p_brand = 'Brand#12'
      |  AND l.l_quantity < (
      |    SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity * 100 AS DECIMAL(18,0))) AS DOUBLE) / (100.0 * count(*)))
      |    FROM $lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  /** q19 shape — discounted revenue over a DISJUNCTION of brand/size/
    * quantity conjunctions: the equi-key (partkey) must still drive a
    * hash join, with the OR-of-ANDs as the join's residual condition —
    * not a nested loop.
    */
  private def q19Sql(lineitem: String, part: String) =
    s"""SELECT $revenueSql
      |FROM $lineitem JOIN $part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** q11 shape — important part concentration: per-part value with a
    * HAVING threshold taken from an UNCORRELATED scalar subquery over
    * the same fact. Catalyst executes the scalar agg once as a
    * subquery stage and injects the result — the HAVING filter then
    * runs post-aggregation with no join at all, so at 100 TB the cost
    * is two scans of lineitem (one |parts|-sized shuffle, one
    * shuffle-free global agg), not a per-group rescan. The threshold is
    * a MULTIPLE OF THE MEAN part value (stock q11's FRACTION of total
    * selects nothing once the part count grows — scale-variant), so the
    * query returns a stable ~16% slice at every SF. Sums are exact
    * DECIMAL cast to double and the threshold is the same two double
    * ops in the same order on both engines, so the strict inequality
    * is engine-portable.
    */
  private def q11Sql(lineitem: String) =
    s"""SELECT l_partkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
      |FROM $lineitem
      |GROUP BY l_partkey
      |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) >
      |  (SELECT 1.2 * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |          / count(DISTINCT l_partkey)
      |   FROM $lineitem)
      |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** q20 shape — excess-inventory suppliers, reshaped onto lineitem
    * (the harness has no partsupp): suppliers who shipped more than 9%
    * of a filtered part's all-time quantity in one year. Exercises the
    * remaining subquery nestings in one query: IN whose subquery is an
    * AGGREGATE, an inner IN against a dimension, and a CORRELATED
    * scalar inside that aggregate's HAVING (correlation key =
    * l_partkey, a group-by column). Decorrelation must produce hash
    * joins end-to-end: dim IN → semi join, correlated HAVING scalar →
    * per-part aggregate joined back on l_partkey, outer IN → semi join
    * on s_suppkey. Threshold margin at sf0.01 is 4e-4 (measured), and
    * both sides are exact DECIMAL sums with one double multiply, so
    * the cutoff can't flap between engines.
    */
  private def q20Sql(supplier: String, lineitem: String, part: String) =
    s"""SELECT s_suppkey, s_name
      |FROM $supplier
      |WHERE s_suppkey IN (
      |  SELECT l.l_suppkey FROM $lineitem l
      |  WHERE l.l_partkey IN (SELECT p_partkey FROM $part WHERE p_name LIKE '%al%')
      |    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l.l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY l.l_suppkey, l.l_partkey
      |  HAVING CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 0.09 *
      |    (SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |     FROM $lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      |)
      |ORDER BY s_suppkey""".stripMargin

  /** q22 shape — global sales opportunity: well-funded idle customers.
    * The scalar subquery is CORRELATED (per-nation average over the
    * positive-balance slice) — Catalyst rewrites it to an aggregate
    * joined back on the correlation key; the NOT EXISTS (no open
    * orders) decorrelates to a left-anti join on o_custkey.
    * totacctbal sums exact integer cents (per-nation groups grow with
    * the corpus — the r13 .xx5-boundary class). The avg() threshold
    * predicate stays a double comparison: a cross-engine flip needs a
    * 2dp balance within one ulp of the order-dependent float mean,
    * which additionally requires sum_cents ≈ n·cents exactly — a
    * measure-zero knife edge the money-sum fuzzer's threshold shapes
    * watch for, distinct from the rounding class (no round() is
    * applied to the mean).
    */
  private def q22Sql(customer: String, nation: String, orders: String) =
    s"""SELECT n_name, count(*) AS numcust,
      |  CAST(sum(CAST(round(c_acctbal * 100, 0) AS DECIMAL(38,0)))
      |    AS DOUBLE) / 100.0 AS totacctbal
      |FROM $customer c JOIN $nation n ON c.c_nationkey = n.n_nationkey
      |WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM $customer c2
      |                     WHERE c2.c_acctbal > 0.0
      |                       AND c2.c_nationkey = c.c_nationkey)
      |  AND NOT EXISTS (SELECT 1 FROM $orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'O')
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** q12 shape — shipping modes and order priority, reshaped (the
    * harness lineitem has no l_shipmode/l_commitdate/l_receiptdate):
    * the mode becomes l_returnflag and "late" is the same
    * l_shipdate > o_orderdate + 60 days predicate the q4/q21 suite
    * uses. One fact-fact hash join on orderkey with the lateness
    * inequality as its residual, conditional BIGINT sums, a 3-group
    * aggregate — the orderkey exchange is the only shuffle.
    */
  private def q12Sql(orders: String, lineitem: String) =
    s"""SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM $orders JOIN $lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q16 shape — part/supplier relationship counting, reshaped (no
    * partsupp: lineitem's distinct (l_partkey, l_suppkey) pairs are
    * the relation; no s_comment: the complaint blacklist becomes the
    * negative-balance suppliers). The NOT IN key is non-nullable, so
    * the subquery must execute as a (null-aware) anti hash join against
    * the broadcast blacklist — never a nested loop — and
    * count(DISTINCT l_suppkey) runs as the standard two-phase distinct
    * aggregate on the (brand, type, size) grouping.
    */
  private def q16Sql(part: String, lineitem: String, supplier: String) =
    s"""SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM $part JOIN $lineitem ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#5'
      |  AND p_type NOT LIKE 'MEDIUM%'
      |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM $supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** q9 shape — product-type profit by nation and year, reshaped (no
    * partsupp.ps_supplycost: unit cost is modeled as p_retailprice/10,
    * keeping the classic revenue-minus-cost structure). Both terms are
    * exact order-insensitive DECIMAL sums; the subtraction and the /10
    * are the same two double ops in the same order on both engines.
    * part (name-filtered), supplier, nation broadcast; the
    * lineitem⋈orders orderkey exchange is the one big shuffle.
    */
  private def q9Sql(part: String, lineitem: String, supplier: String,
                    orders: String, nation: String) =
    s"""SELECT nation, o_year,
      |  round(CAST(sum(volume) AS DOUBLE) -
      |        CAST(sum(supp_cost) AS DOUBLE) / 10.0, 6) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation,
      |    CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume,
      |    CAST(p_retailprice AS DECIMAL(18,2)) *
      |      CAST(l_quantity AS DECIMAL(18,2)) AS supp_cost
      |  FROM $part JOIN $lineitem ON p_partkey = l_partkey
      |  JOIN $supplier ON l_suppkey = s_suppkey
      |  JOIN $orders ON l_orderkey = o_orderkey
      |  JOIN $nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE '%red%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** q2 shape — minimum-cost supplier, reshaped (no partsupp: the
    * part-supplier relation and its cost are DERIVED — per-(part,
    * supplier) min l_extendedprice over lineitem, an exact DECIMAL so
    * the min-equality can't flap). The CTE is consumed twice (joined
    * into the outer block AND aggregated inside the correlated scalar
    * min); Catalyst decorrelates the scalar to a per-part aggregate
    * joined back on p_partkey — with q2 this completes all 22 classic
    * TPC-H shapes. Dims broadcast; the ps aggregation shuffles lineitem
    * once on (partkey, suppkey).
    */
  private def q2Sql(part: String, lineitem: String, supplier: String,
                    nation: String, region: String) =
    s"""WITH ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
      |  FROM $lineitem GROUP BY 1, 2)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
      |       CAST(ps_supplycost AS DOUBLE) AS supplycost
      |FROM $part
      |JOIN ps ON p_partkey = ps_partkey
      |JOIN $supplier ON s_suppkey = ps_suppkey
      |JOIN $nation ON s_nationkey = n_nationkey
      |JOIN $region ON n_regionkey = r_regionkey
      |WHERE p_size <= 10 AND p_type = 'LARGE'
      |  AND r_name = 'ASIA'
      |  AND ps_supplycost = (
      |    SELECT min(ps2.ps_supplycost) FROM ps ps2
      |    JOIN $supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
      |    JOIN $nation n2 ON s2.s_nationkey = n2.n_nationkey
      |    JOIN $region r2 ON n2.n_regionkey = r2.r_regionkey
      |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'ASIA')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  val all: Seq[Query] = Seq(
    // q3 — shipping priority: unshipped high-value orders for one
    // segment. customer(segment-filtered) broadcasts; orders⋈lineitem
    // shuffles on orderkey; LIMIT 10 = heap top-k.
    Query("tpch_q3_shipping_priority", (s, dir) => {
      val pivot = lit("1997-06-01").cast("timestamp")
      val c = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).where(col("o_orderdate") < pivot)
      val l = Tables.lineitem(s, dir).where(col("l_shipdate") > pivot)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
        .agg(revenue)
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    },
      s"""SELECT l_orderkey, $revenueSql, CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin),

    // q5 — local supplier volume: 6-way join, revenue per nation for
    // one region-year where customer and supplier share a nation.
    // nation/region/supplier broadcast; customer⋈orders and ⋈lineitem
    // shuffle on their keys.
    Query("tpch_q5_local_supplier_volume", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
      val su = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).where(col("r_name") === "ASIA")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su),
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(revenue)
    },
      s"""SELECT n_name, $revenueSql
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin),

    // q6 — forecast revenue change: pure scan-filter-agg; every
    // predicate reaches the parquet scan (PushedFilters), one partial+
    // final agg, no shuffle of data rows.
    Query("tpch_q6_forecast_revenue", (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
               col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
               col("l_discount") >= 0.04 && col("l_discount") <= 0.06 &&
               col("l_quantity") < 24)
        .agg(sum(dec("l_extendedprice") * dec("l_discount"))
          .cast("double").as("revenue")),
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06
        |  AND l_quantity < 24""".stripMargin),

    // q10 — returned-item reporting: revenue lost to returns per
    // customer in a quarter; nation broadcasts, LIMIT 20 heap top-k.
    Query("tpch_q10_returned_items", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir).where(col("l_returnflag") === "R")
      val n = Tables.nation(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(revenue)
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    },
      s"""SELECT c_custkey, c_name, $revenueSql, c_acctbal, n_name
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),

    // q18 — large-volume customers: the "orders whose total quantity
    // exceeds T" subquery aggregates lineitem on l_orderkey — the SAME
    // key as the join that follows, so at scale the exchange is shared,
    // and the semi-join side is tiny (p99 cutoff) → broadcast.
    Query("tpch_q18_large_volume_customer", (s, dir) => {
      val l = Tables.lineitem(s, dir)
      val big = l.groupBy(col("l_orderkey"))
        .agg(round(sum("l_quantity"), 2).as("big_qty"))
        .where(col("big_qty") > 250)
        .select(col("l_orderkey").as("big_orderkey"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      l.join(broadcast(big), col("l_orderkey") === col("big_orderkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("o_totalprice"))
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
          "o_totalprice", "sum_qty")
    },
      """SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |       o_totalprice, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 250)
        |GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin),

    // q4 shape — correlated EXISTS; decorrelates to a left-semi hash
    // join on l_orderkey with the late-line inequality as the join's
    // extra condition (PlanAuditSpec: no nested-loop anywhere).
    Query("tpch_q4_order_priority", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_sq_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      s.sql(q4Sql("orders_sq_v", "lineitem_sq_v"))
    },
      q4Sql("orders", "lineitem")),

    // q21 shape — EXISTS + NOT EXISTS self-correlations on the fact;
    // decorrelate to one semi and one anti hash join on l_orderkey.
    Query("tpch_q21_waiting_suppliers", (s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_sq_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_sq_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_sq_v")
      s.sql(q21Sql("supplier_sq_v", "lineitem_sq_v", "orders_sq_v", "nation_sq_v"))
    },
      q21Sql("supplier", "lineitem", "orders", "nation")),

    // q22 shape — correlated scalar subquery + filtered NOT EXISTS.
    Query("tpch_q22_idle_rich_customers", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_sq_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_sq_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_sq_v")
      s.sql(q22Sql("customer_sq_v", "nation_sq_v", "orders_sq_v"))
    },
      q22Sql("customer", "nation", "orders")),

    // q11 shape — HAVING against an uncorrelated scalar subquery
    Query("tpch_q11_part_concentration", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      s.sql(q11Sql("lineitem_sq_v"))
    },
      q11Sql("lineitem")),

    // q20 shape — IN-over-aggregate with correlated HAVING scalar
    Query("tpch_q20_excess_inventory", (s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_sq_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      Tables.part(s, dir).createOrReplaceTempView("part_sq_v")
      s.sql(q20Sql("supplier_sq_v", "lineitem_sq_v", "part_sq_v"))
    },
      q20Sql("supplier", "lineitem", "part")),

    // q7 shape — two-role nation dimension with a direction disjunction
    Query("tpch_q7_volume_shipping", (s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_sq_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_sq_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_sq_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_sq_v")
      s.sql(q7Sql("supplier_sq_v", "lineitem_sq_v", "orders_sq_v",
        "customer_sq_v", "nation_sq_v"))
    },
      q7Sql("supplier", "lineitem", "orders", "customer", "nation")),

    // q8 shape — 8-table market-share join, conditional decimal ratio
    Query("tpch_q8_market_share", (s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("part_sq_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_sq_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_sq_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_sq_v")
      Tables.region(s, dir).createOrReplaceTempView("region_sq_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_sq_v")
      s.sql(q8Sql("part_sq_v", "lineitem_sq_v", "orders_sq_v",
        "customer_sq_v", "nation_sq_v", "region_sq_v", "supplier_sq_v"))
    },
      q8Sql("part", "lineitem", "orders", "customer", "nation", "region",
        "supplier")),

    // q13 shape — outer-join count distribution (zero-order customers kept)
    Query("tpch_q13_customer_distribution", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_sq_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_sq_v")
      s.sql(q13Sql("customer_sq_v", "orders_sq_v"))
    },
      q13Sql("customer", "orders")),

    // q14 shape — conditional aggregation ratio over a dim join
    Query("tpch_q14_promo_effect", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      Tables.part(s, dir).createOrReplaceTempView("part_sq_v")
      s.sql(q14Sql("lineitem_sq_v", "part_sq_v"))
    },
      q14Sql("lineitem", "part")),

    // q15 shape — aggregated view + scalar max subquery
    Query("tpch_q15_top_supplier", (s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_sq_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      s.sql(q15Sql("supplier_sq_v", "lineitem_sq_v"))
    },
      q15Sql("supplier", "lineitem")),

    // q17 shape — per-part correlated scalar average (decimal-exact)
    Query("tpch_q17_small_quantity_revenue", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      Tables.part(s, dir).createOrReplaceTempView("part_sq_v")
      s.sql(q17Sql("lineitem_sq_v", "part_sq_v"))
    },
      q17Sql("lineitem", "part")),

    // q19 shape — disjunctive residual over an equi hash join
    Query("tpch_q19_discounted_revenue", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      Tables.part(s, dir).createOrReplaceTempView("part_sq_v")
      s.sql(q19Sql("lineitem_sq_v", "part_sq_v"))
    },
      q19Sql("lineitem", "part")),

    // q12 shape — conditional priority counts over the fact-fact join
    Query("tpch_q12_ship_priority_counts", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_sq_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      s.sql(q12Sql("orders_sq_v", "lineitem_sq_v"))
    },
      q12Sql("orders", "lineitem")),

    // q16 shape — distinct-supplier counts with a NOT IN blacklist
    Query("tpch_q16_supplier_part_counts", (s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("part_sq_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_sq_v")
      s.sql(q16Sql("part_sq_v", "lineitem_sq_v", "supplier_sq_v"))
    },
      q16Sql("part", "lineitem", "supplier")),

    // q2 shape — correlated scalar MIN over a twice-consumed CTE
    Query("tpch_q2_min_cost_supplier", (s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("part_sq_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_sq_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_sq_v")
      Tables.region(s, dir).createOrReplaceTempView("region_sq_v")
      s.sql(q2Sql("part_sq_v", "lineitem_sq_v", "supplier_sq_v",
        "nation_sq_v", "region_sq_v"))
    },
      q2Sql("part", "lineitem", "supplier", "nation", "region")),

    // q9 shape — profit by nation × year over a 5-table join
    Query("tpch_q9_product_profit", (s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("part_sq_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_sq_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_sq_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_sq_v")
      s.sql(q9Sql("part_sq_v", "lineitem_sq_v", "supplier_sq_v",
        "orders_sq_v", "nation_sq_v"))
    },
      q9Sql("part", "lineitem", "supplier", "orders", "nation"))
  )
}
