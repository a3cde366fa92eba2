package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic grouped-aggregation constructor — the Spark-native rebuild of
  * the reference's `sparkAggregate` helper (`glue_scripts/spec.py:11-22`,
  * SURVEY.md §2.4 A2):
  *
  *  - aggregation functions are resolved **by name** (the reference does
  *    `getattr(pyspark.sql.functions, func)` — `spec.py:16`). Here a
  *    whitelisted table of codegen'd builtins, with an `expr(...)`
  *    fallback so any SQL aggregate name still resolves; a genuinely
  *    unknown name fails at analysis time, matching the reference's
  *    AttributeError behavior.
  *  - an **empty `groups` list falls back to a global aggregate**
  *    (`spec.py:17-21`).
  *
  * The produced plan is a plain `Aggregate`, so Spark runs it as partial
  * (map-side) HashAggregate → shuffle by group key → final HashAggregate.
  * At 100 TB the map-side partial combine is what keeps the shuffle
  * proportional to |groups|, not |rows| — nothing here defeats it.
  */
object Aggregation {

  final case class AggSpec(column: String, func: String, alias: Option[String] = None) {
    def outputName: String = alias.getOrElse(s"${func}_$column")
  }

  private val builtins: Map[String, Column => Column] = Map(
    "sum"            -> sum _,
    "avg"            -> avg _,
    "mean"           -> avg _,
    "min"            -> min _,
    "max"            -> max _,
    "count"          -> count _,
    "countDistinct"  -> ((c: Column) => count_distinct(c)),
    "count_distinct" -> ((c: Column) => count_distinct(c)),
    "first"          -> ((c: Column) => first(c)),
    "last"           -> ((c: Column) => last(c)),
    "stddev"         -> stddev _,
    "stddev_pop"     -> stddev_pop _,
    "variance"       -> variance _,
    "var_pop"        -> var_pop _,
    "collect_set"    -> collect_set _,
    "collect_list"   -> collect_list _,
    "approx_count_distinct" -> ((c: Column) => approx_count_distinct(c))
  )

  def resolve(spec: AggSpec): Column = {
    val c = builtins.get(spec.func) match {
      case Some(f) => f(col(spec.column))
      // name-by-string fallback, analogous to spec.py:16's getattr dispatch;
      // unknown functions raise at analysis, like the reference.
      case None    => expr(s"${spec.func}(`${spec.column}`)")
    }
    c.alias(spec.outputName)
  }

  /** `groupBy(groups).agg(aggs)`, or a global `df.agg(...)` when `groups`
    * is empty (spec.py:17-21's fallback branch).
    */
  def sparkAggregate(df: DataFrame, groups: Seq[String], aggs: Seq[AggSpec]): DataFrame = {
    require(aggs.nonEmpty, "sparkAggregate needs at least one aggregation")
    val exprs = aggs.map(resolve)
    if (groups.isEmpty) df.agg(exprs.head, exprs.tail: _*)
    else df.groupBy(groups.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Ordered-funnel analysis (the ClickHouse `windowFunnel` shape): per
    * key, the earliest chain of `stages` events in order — stage i+1
    * must occur at or after stage i's chosen time, and every stage
    * within `windowSec` of stage 1 — plus how far the key got.
    * Semantics are "earliest-first": stage 1 anchors at its MIN event
    * time, each later stage at the MIN qualifying time; min-of-integers
    * everywhere, so the result is deterministic and engine-exact.
    *
    * Output: one row per key holding each stage's epoch-MICROSECOND
    * time (exact integers — second-granularity would merge distinct
    * events and round differently across engines; null once the chain
    * breaks) and `stage_reached` (0..n).
    *
    * Scale shape: ONE shuffle on the key — the per-stage mins are
    * unordered-frame windows over the same key partitioning (no sort,
    * stages resolved left-to-right in one pass over the partition
    * per window op), and the final per-key collapse is a groupBy on
    * the key Spark serves from the window's existing hash
    * partitioning without a new exchange. A naive per-stage
    * self-join formulation would shuffle `n_stages` times.
    */
  def funnelStages(df: DataFrame, keyCol: String, typeCol: String,
                   tsCol: String, stages: Seq[String],
                   windowSec: Long): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val windowMicros = windowSec * 1000000L
    var cur = df.select(col(keyCol), col(typeCol).as("__et"),
      unix_micros(col(tsCol)).as("__ts"))
    stages.zipWithIndex.foreach { case (st, i) =>
      val qualifies = if (i == 0) col("__et") === st
      else col("__et") === st && col("__ts") >= col(s"t$i") &&
        col("__ts") <= col("t1") + windowMicros
      cur = cur.withColumn(s"t${i + 1}",
        min(when(qualifies, col("__ts"))).over(w))
    }
    // every row of a key carries identical tN window values — the
    // groupBy collapse (min = the value) reuses the window's hash
    // partitioning, no new exchange
    val aggExprs = stages.indices
      .map(i => min(col(s"t${i + 1}")).as(s"t${i + 1}"))
    val collapsed = cur.groupBy(col(keyCol))
      .agg(aggExprs.head, aggExprs.tail: _*)
    // ascending fold so the HIGHEST non-null stage ends up outermost:
    // CASE WHEN t_n THEN n ... WHEN t1 THEN 1 ELSE 0
    val stageReached = stages.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"t${i + 1}").isNotNull, lit(i + 1)).otherwise(acc)
    }
    collapsed.select(
      (col(keyCol) +: stages.indices.map(i => col(s"t${i + 1}"))) :+
        stageReached.cast("int").as("stage_reached"): _*)
  }

  /** Robust per-group outlier gate — the Iglewicz–Hoaglin modified
    * z-score: `0.6745·|x − median| / MAD`, outlier when > `zThresh`
    * (their recommended 3.5). Median/MAD instead of mean/stddev
    * because telemetry value columns are exactly where the moments
    * are poisoned by the outliers being hunted.
    *
    * Exact medians via `percentile` (two grouped passes: median, then
    * median absolute deviation) + a scoring pass — three linear scans
    * with the group stats broadcast back (|groups| rows, model-sized).
    * Each intermediate rounds to 4 dp so both engines score identical
    * doubles. At 100 TB swap `percentile` for `approx_percentile` —
    * one pass, sketch-mergeable — at the cost of oracle exactness;
    * the plan shape is otherwise unchanged.
    */
  def madOutliers(df: DataFrame, keyCol: String, valCol: String,
                  zThresh: Double = 3.5): DataFrame = {
    val med = df.groupBy(col(keyCol))
      .agg(round(expr(s"percentile($valCol, 0.5)"), 4).as("med"))
    val mad = df.join(broadcast(med), keyCol)
      .withColumn("__ad", round(abs(col(valCol) - col("med")), 4))
      .groupBy(col(keyCol))
      .agg(min(col("med")).as("med"),
        round(expr("percentile(__ad, 0.5)"), 4).as("mad"))
    df.join(broadcast(mad), keyCol)
      .withColumn("__z", when(col("mad") > 0,
        round(abs(col(valCol) - col("med")) * 0.6745 / col("mad"), 4)))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        sum(when(col("__z") > zThresh, 1L).otherwise(0L)).as("n_outliers"),
        max(col("__z")).as("max_z"))
  }

  /** Exact weighted median per group — the robust centre a pipeline
    * reports when rows carry unequal mass (quantity-weighted price,
    * token-weighted score): the LOWER weighted median, i.e. the
    * smallest value whose cumulative weight reaches half the group
    * total. Plain `percentile` can't express it; Edgeworth's weighted-
    * median is the textbook definition (and the 50 % case of weighted
    * percentiles generally).
    *
    * Shape: ONE shuffle on the group key. The cumulative weight is a
    * running window sum ordered by value — the SQL-standard RANGE
    * frame makes ties well-defined (all rows of equal value share one
    * cumulative figure, so the result can't depend on shuffle order) —
    * and the total is the same window without ordering, so both reuse
    * one exchange; the final groupBy collapses on the identical key,
    * shuffle-free. Weights go through `long`, so the halving test
    * `2·cw ≥ tot` is integer-exact — no FP threshold can flip a row.
    * At 100 TB the per-group window sort is the cost; groups are the
    * parallelism unit, and a skewed mega-group falls back to the
    * two-pass percentile form (see [[madOutliers]]'s note).
    */
  def weightedMedian(df: DataFrame, keyCol: String, valCol: String,
                     wCol: String): DataFrame =
    weightedPercentiles(df, keyCol, valCol, wCol, Seq(50))
      .withColumnRenamed("wp_50", "weighted_median")

  /** Exact weighted percentiles per group — [[weightedMedian]]
    * generalised to any integer-percent cut list: `wp_p` is the
    * smallest value whose cumulative weight reaches p% of the group
    * total (the lower weighted percentile). Same single-shuffle
    * RANGE-frame plan as the median — ALL cuts read the same two
    * window sums, so extra percentiles are free — and the threshold
    * test `100·cw ≥ p·tot` stays in integers, so no FP cut can
    * disagree across engines.
    */
  def weightedPercentiles(df: DataFrame, keyCol: String, valCol: String,
                          wCol: String, ps: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      "percentiles must be integer percents in [1, 100]")
    val byKey = Window.partitionBy(col(keyCol))
    val cum = byKey.orderBy(col(valCol))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val t = df.select(col(keyCol), col(valCol),
      col(wCol).cast("long").as("__w"))
    val cuts = ps.map(p =>
      min(when(col("__cw") * 100 >= lit(p.toLong) * col("__tot"),
        col(valCol))).as(s"wp_$p"))
    t.withColumn("__cw", sum(col("__w")).over(cum))
      .withColumn("__tot", sum(col("__w")).over(byKey))
      .groupBy(col(keyCol))
      .agg(min(col("__tot")).as("total_weight"),
        (count(lit(1)).as("n_rows") +: cuts): _*)
  }

  /** Half-life time-decay aggregation — the recency-weighted rollup a
    * monitoring/feature pipeline keeps so old events fade instead of
    * accumulating (exponential-decay counters, the classic stream-
    * summary shape). The weight halves for every FULL `halflifeSec`
    * period of age: a step function, deliberately — the smooth
    * 2^(−t/h) form needs `pow`, whose last-ulp varies by libm, while
    * the stepped weight is `10⁶ div 2^k` on integer `k = age div h`:
    * engine-exact, so the whole rollup is oracle-checkable.
    *
    * The reference instant is max(ts) over the input (deterministic —
    * wall-clock "now" would make the result unreproducible); values
    * go to integer cents before weighting. One 1-row broadcast for
    * the reference + one grouped agg: a single corpus shuffle.
    * Weighted sums hold to ~10⁹ rows at harness value scale; beyond
    * that the sum column swaps to decimal(38,0), plan unchanged.
    */
  def timeDecayAgg(df: DataFrame, keyCol: String, tsCol: String,
                   valCol: String, halflifeSec: Long): DataFrame = {
    require(halflifeSec > 0)
    val mx = df.agg(max(unix_micros(col(tsCol))).as("__now_us"))
    df.select(col(keyCol), unix_micros(col(tsCol)).as("__ts_us"),
        round(col(valCol) * 100).cast("long").as("__cents"))
      .crossJoin(broadcast(mx))
      .withColumn("__k", expr(
        s"(__now_us - __ts_us) div ${halflifeSec * 1000000L}"))
      .withColumn("__w", expr(
        "CASE WHEN __k >= 20 THEN 0L ELSE 1000000L div shiftleft(1L, cast(__k as int)) END"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__cents")).as("raw_cents"),
        sum(col("__cents") * col("__w")).as("decayed_micro_cents"))
  }

  /** Top session paths — the "behavior flow" report (ClickHouse's
    * sequence functions / GA flow view): gap-based sessionization per
    * key, the session's first `pathLen` event types joined in time
    * order into a path string, then the global top-k paths by session
    * count. The product-analytics companion to [[funnelStages]]: the
    * funnel checks ONE hypothesized order, paths DISCOVER the orders
    * that actually happen.
    *
    * Shape: the lag-gap flag and its running sum (the island trick)
    * and the per-session row_number all share ONE per-key window
    * partition; the (key, session) collapse reuses that partitioning
    * (sub-key aggregation, no second shuffle); then one path-sized agg
    * + a bounded-heap top-k. Ordering ties break on `idCol`, so the
    * path strings are engine- and partition-order-exact.
    */
  def sessionPaths(df: DataFrame, keyCol: String, idCol: String,
                   typeCol: String, tsCol: String, gapSec: Long,
                   pathLen: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gapSec > 0 && pathLen >= 1 && k >= 1)
    val ordered = Window.partitionBy(col(keyCol))
      .orderBy(col("__us"), col(idCol))
    val t = df.select(col(keyCol), col(idCol), col(typeCol).as("__ty"),
        unix_micros(col(tsCol)).as("__us"))
      .withColumn("__new", when(lag(col("__us"), 1).over(ordered).isNull ||
        col("__us") - lag(col("__us"), 1).over(ordered) > gapSec * 1000000L,
        1L).otherwise(0L))
      .withColumn("__sess", sum(col("__new")).over(
        ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(Window
        .partitionBy(col(keyCol), col("__sess"))
        .orderBy(col("__us"), col(idCol))))
    val paths = t.where(col("__rn") <= pathLen)
      .groupBy(col(keyCol), col("__sess"))
      .agg(sort_array(collect_list(struct(col("__rn"), col("__ty"))))
        .as("__steps"))
      .select(array_join(expr("transform(__steps, s -> s.__ty)"), ">")
        .as("path"))
    val counts = paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
    val w = Window.orderBy(col("n_sessions").desc, col("path").asc)
    counts.orderBy(col("n_sessions").desc, col("path").asc).limit(k)
      .select(col("path"), col("n_sessions"),
        row_number().over(w).cast("int").as("rank"))
  }

  /** Winsorized aggregation — the robust-mean companion to
    * [[madOutliers]]: values clip to the group's [pLo, pHi] exact
    * percentiles before aggregating, so a fat tail moves the mean by
    * at most the clip bound instead of unboundedly (Tukey/Dixon's
    * winsorization, the standard pre-step for metrics over skewed
    * usage data).
    *
    * Engine parity: clip bounds round to 4 dp (the [[madOutliers]]
    * convention); every CLIPPED value then rounds to integer cents, so
    * the group mean is an exact-integer sum divided once — no FP
    * accumulation order anywhere. Two grouped passes (bounds, then
    * clipped agg) with the bounds broadcast back, same shape as MAD.
    */
  def winsorizedAgg(df: DataFrame, keyCol: String, valCol: String,
                    pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi)
    val bounds = df.groupBy(col(keyCol))
      .agg(round(expr(s"percentile($valCol, $pLo)"), 4).as("p_lo"),
        round(expr(s"percentile($valCol, $pHi)"), 4).as("p_hi"))
    df.join(broadcast(bounds), keyCol)
      .withColumn("__clip",
        round(greatest(least(col(valCol), col("p_hi")), col("p_lo")) * 100)
          .cast("long"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        min(col("p_lo")).as("p_lo"), min(col("p_hi")).as("p_hi"),
        sum(when(col(valCol) < col("p_lo"), 1L).otherwise(0L))
          .as("n_clipped_lo"),
        sum(when(col(valCol) > col("p_hi"), 1L).otherwise(0L))
          .as("n_clipped_hi"),
        round(sum(col("__clip")).cast("double") / count(lit(1)))
          .cast("long").as("mean_clipped_cents"))
  }

  /** RFM segmentation (Hughes' recency/frequency/monetary quintile
    * scoring — the classic customer-value model): per key, days since
    * last event, event count, and total spend in cents, each cut into
    * quintiles. Score 5 is best on every axis, so recency ntiles on
    * days ASCENDING-inverted and the other two descending-inverted.
    *
    * Determinism: ntile is only well-defined under a TOTAL order, so
    * every ranking tie-breaks on the key; metrics are exact integers
    * (days, counts, cents). The reference "today" is the corpus max
    * date (reproducible, like [[timeDecayAgg]]).
    *
    * Shape: one grouped agg to the per-key metric table, then three
    * exact ntile rankings over it — rankings are over the AGGREGATED
    * table (one row per key), not the event stream. A measured gate
    * picks the ranking plan (the [[graft.text.TextAnalysis]]
    * broadcast-LM pattern): at or under `maxSinglePartitionRows` keys
    * the classic single-partition ntile window is cheapest (zero extra
    * joins); above it that window serializes every key through one
    * task, so each metric instead ranks via [[distributedNtile]] —
    * range-partitioned local ranks shifted by a partition-count
    * prefix, then ntile's remainder arithmetic on the global rank.
    * Both paths are EXACT and identical under the key-tie-broken
    * total order (spec-pinned), so crossing the gate can never move a
    * score. The gate is two-level so the small path costs ZERO extra
    * jobs: keys ≤ events, and at PLAN time the optimizer's exact
    * `stats.rowCount` when available (CBO / ANALYZE'd tables), else a
    * bytes/4 HEURISTIC over `stats.sizeInBytes` (parquet file bytes
    * for file sources). The heuristic is a floor in the common case
    * but NOT a hard bound — RLE/dictionary encoding can store
    * low-cardinality rows under 4 bytes, so a heavily-compressed table
    * can under-estimate and keep the window plan; because both paths
    * are exact, that mis-gate can only cost performance, never
    * results. Only when the plan bound crosses the threshold does the
    * gate measure truth — and it measures it on the PER-KEY frame
    * itself: checkpoint the aggregated table (needed anyway — it feeds
    * three rankings) and `count()` it, a key-sized job with no extra
    * event scan. Counting the aggregated frame rather than
    * `count_distinct(key)` on the events also makes `n` include a
    * NULL-key group when one exists, exactly matching the row set both
    * ranking plans operate on — `count_distinct` excludes NULL, which
    * would have sized the distributed ntile arithmetic for n−1 rows
    * and diverged from the window path (ADVICE r12).
    */
  def rfmScores(df: DataFrame, keyCol: String, tsCol: String,
                valCol: String, buckets: Int = 5,
                maxSinglePartitionRows: Long = 20000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2)
    val m = df.select(col(keyCol),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).as("__d"),
        round(col(valCol) * 100).cast("long").as("__cents"))
      .groupBy(col(keyCol))
      .agg(max(col("__d")).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col("__cents")).as("monetary_cents"))
    val today = m.agg(max(col("__last")).as("__today"))
    val t = m.crossJoin(broadcast(today))
      .select(col(keyCol), (col("__today") - col("__last")).as("recency_days"),
        col("frequency"), col("monetary_cents"))
    // recency: fewer days = better → rank days ASC and score 5-first
    def windowPath(frame: DataFrame): DataFrame = {
      def score(metric: Column, asc: Boolean): Column = {
        val o = if (asc) Seq(metric.asc, col(keyCol).asc)
                else Seq(metric.desc, col(keyCol).asc)
        ntile(buckets).over(Window.orderBy(o: _*))
      }
      frame.select(col(keyCol), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        (lit(buckets + 1) - score(col("recency_days"), asc = true))
          .cast("int").as("r_score"),
        (lit(buckets + 1) - score(col("frequency"), asc = false))
          .cast("int").as("f_score"),
        (lit(buckets + 1) - score(col("monetary_cents"), asc = false))
          .cast("int").as("m_score"))
    }
    val stats = df.queryExecution.optimizedPlan.stats
    val planBound: BigInt = stats.rowCount.getOrElse(stats.sizeInBytes / 4)
    if (planBound <= BigInt(maxSinglePartitionRows)) windowPath(t)
    else {
      // checkpoint pin (reliable-dir-aware): the per-key frame feeds
      // the key count AND three rankings — one materialization for all
      val tc = graft.Checkpoints.checkpoint(t)
      val n = tc.count() // key GROUPS (incl. a null key) — the exact
                         // row set every ranking below operates on
      if (n <= maxSinglePartitionRows) windowPath(tc)
      else {
        // score joins are NULL-SAFE (<=>): a plain equi-join would
        // silently drop the null-key group the window path keeps
        def pass(metric: String, asc: Boolean, out: String): DataFrame =
          distributedNtile(tc.select(col(keyCol), col(metric)),
              keyCol, metric, asc, buckets, n)
            .select(col(keyCol).as(s"__k_$out"),
              (lit(buckets + 1) - col("__ntile")).cast("int").as(out))
        tc.select(col(keyCol), col("recency_days"), col("frequency"),
            col("monetary_cents"))
          .join(pass("recency_days", asc = true, "r_score"),
            col(keyCol) <=> col("__k_r_score"))
          .join(pass("frequency", asc = false, "f_score"),
            col(keyCol) <=> col("__k_f_score"))
          .join(pass("monetary_cents", asc = false, "m_score"),
            col(keyCol) <=> col("__k_m_score"))
          .select(col(keyCol), col("recency_days"), col("frequency"),
            col("monetary_cents"),
            col("r_score"), col("f_score"), col("m_score"))
      }
    }
  }

  /** Exact global `ntile(buckets)` under the total order (`metricCol`
    * asc/desc, key asc) WITHOUT a single-partition WindowExec:
    * range-partition on the order, rank locally inside each range (a
    * PARTITIONED window), shift local ranks by the prefix of
    * per-partition counts (a window over ≤ shuffle-partition-count
    * rows — the bounded-offsets pattern [[graft.etl.Drift]] uses for
    * bucket prefixes), then map the global rank to its bucket with
    * ntile's first-buckets-take-the-remainder arithmetic. The rank
    * depends only on the total order, so output is invariant to
    * partition count and range boundaries.
    *
    * The range-partitioned frame is checkpoint-pinned
    * (reliable-dir-aware, [[graft.Checkpoints]]) because it
    * feeds TWO branches of the same plan (the counts prefix and the
    * ranking): RangePartitioner draws split points with an
    * RDD-id-seeded sample, so without pinning one materialization the
    * branches could see DIFFERENT boundaries and the offsets would
    * not match the ranks (exchange reuse usually dedups the scan, but
    * correctness must not hang on an optimizer rule — the AQE-off leg
    * exists precisely to catch that class of dependence).
    *
    * `n` is the caller-measured row count of `t` (the caller already
    * holds it for the plan gate).
    */
  private def distributedNtile(t: DataFrame, keyCol: String,
      metricCol: String, asc: Boolean, buckets: Int, n: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = if (asc) Seq(col(metricCol).asc, col(keyCol).asc)
            else Seq(col(metricCol).desc, col(keyCol).asc)
    val binned = graft.Checkpoints.checkpoint(t.repartitionByRange(o: _*)
      .withColumn("__pid", spark_partition_id()))
    val offs = binned.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .select(col("__pid"),
        coalesce(sum(col("__c")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"))
    val rnW = Window.partitionBy(col("__pid")).orderBy(o: _*)
    val q = n / buckets
    val r = n % buckets
    val head = (q + 1) * r
    val ranked = binned.join(broadcast(offs), "__pid")
      .withColumn("__rn", row_number().over(rnW).cast("long") + col("__off"))
    // ntile(B) over n rows: the first n%B buckets hold n/B+1 rows each
    val bucket =
      if (q == 0) col("__rn") // fewer rows than buckets: bucket = rank
      else expr(s"CASE WHEN __rn <= $head THEN (__rn - 1) DIV ${q + 1} + 1" +
        s" ELSE $r + (__rn - 1 - $head) DIV $q + 1 END")
    ranked.select(col(keyCol), bucket.cast("int").as("__ntile"))
  }

  /** Cohort-retention matrix — the product-analytics staple: keys
    * cohorted by the UTC day of their first event, then for each
    * (cohort day, day offset) the number of distinct keys active that
    * many days after joining. Days are integer days-since-epoch, so
    * every output cell is an exact integer count.
    *
    * Scale shape: one hash agg keyed on the key for first-event days,
    * joined back ON THE SAME KEY (the exchange layout is reused — the
    * ngram-novelty pattern), then a (key, cohort, day) distinct and
    * the final (cohort, offset) count, both partial-aggregable. No
    * window, no per-cohort scan; the matrix is |cohorts| × |offsets|
    * rows.
    */
  def cohortRetention(df: DataFrame, keyCol: String,
                      tsCol: String): DataFrame = {
    val e = df.select(col(keyCol),
      datediff(to_date(col(tsCol)), lit("1970-01-01")).as("__d"))
    val first = e.groupBy(col(keyCol)).agg(min(col("__d")).as("__cohort"))
    e.join(first, keyCol)
      .select(col(keyCol), col("__cohort"),
        (col("__d") - col("__cohort")).as("__off"))
      .distinct()
      .groupBy(col("__cohort").as("cohort_day"),
        col("__off").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}
