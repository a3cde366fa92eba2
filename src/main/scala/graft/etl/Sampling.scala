package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling — the corpus-mixing step of a
  * training-data pipeline (per-source/per-language keep rates, e.g.
  * upsample books, downsample crawl).
  *
  * The keep decision derives from md5 of the row key, NOT `rand()`:
  *  - reproducible across runs, cluster sizes, and partitionings
  *    (`rand(seed)` is seeded per partition — a repartition changes
  *    the sample);
  *  - engine-portable, so the DuckDB oracle computes the identical
  *    bucket and the sample is hash-verifiable row-for-row;
  *  - stable under incremental reprocessing: a row's fate never
  *    changes, so re-running over a grown corpus keeps the old
  *    sample (the property dataset versioning needs).
  *
  * Map-only: no shuffle, no state; at 100 TB this is a free rider on
  * whatever scan already runs.
  */
object Sampling {

  /** Uniform-ish bucket in [0, 100): first 8 md5 hex digits of
    * `key:salt` as an integer, mod 100. Change `salt` to draw an
    * independent sample.
    */
  def hashBucket(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 8),
      16, 10).cast("long") % 100

  /** Keep each row iff its bucket falls under its stratum's percent
    * rate (`rates` by stratum value, `defaultRate` otherwise). Adds
    * the bucket as `strat_bucket` so downstream audits can re-check
    * the decision.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       rates: Map[String, Int], defaultRate: Int,
                       salt: String): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("strat_bucket", hashBucket(col(keyCol), salt))
      .where(col("strat_bucket") < rate)
  }

  /** Token-budget corpus mixing — rate-based sampling controls DOC
    * share, but training mixes are specified in TOKENS: keep documents
    * of each stratum, in deterministic md5-of-id order (a reproducible
    * shuffle — same properties as [[hashBucket]]: partition-,
    * cluster-, and rerun-invariant), until the stratum's token budget
    * is met. A doc is kept iff its EXCLUSIVE prefix token sum is below
    * the budget, so the doc that crosses the boundary is included and
    * every stratum with ≥ budget tokens yields at least `budget` kept
    * tokens (budgets are floors, standard for mixture specs).
    *
    * Scale shape: one window per stratum — the [[graft.text.TextAnalysis.packSequences]]
    * trade; for few giant strata the same two-pass distributed prefix
    * sum ([[graft.text.TextAnalysis.packSequencesScalable]]) computes
    * the identical ordering without a single-task stratum sort.
    */
  def tokenBudgetMix(df: DataFrame, idCol: String, textCol: String,
                     strataCol: String, budgetTokens: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(strataCol), col(idCol),
        graft.text.TextAnalysis.tokenCount(col(textCol)).as("n_toks"),
        md5(col(idCol).cast("string")).as("__h"))
      // null token counts (null text) contribute nothing and are never
      // selected — the same contract the scalable form enforces, so the
      // two forms stay bit-equal on dirty input too
      .where(col("n_toks").isNotNull)
      .withColumn("__before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .where(col("__before") < budgetTokens)
      .select(col(strataCol), col(idCol), col("n_toks"))
  }

  /** [[tokenBudgetMix]] at 100 TB — the same selection through the
    * distributed two-pass prefix sum
    * ([[graft.text.TextAnalysis.exclusivePrefixScalable]]) over the
    * (stratum, md5-hash, id) order, so no stratum is ever sorted on a
    * single task — the window form's failure mode when a stratum is
    * 10 TB. Bit-equal to the window form (SamplingSpec).
    */
  def tokenBudgetMixScalable(df: DataFrame, idCol: String, textCol: String,
                             strataCol: String, budgetTokens: Long,
                             numParts: Int = 32): DataFrame =
    tokenPrefix(df, idCol, textCol, strataCol, numParts)
      .where(col("__before") < budgetTokens)
      .select(col(strataCol), col(idCol), col("n_toks"))

  /** Shared input of the scalable mixers: (stratum, id, n_toks, __h,
    * __before), `__before` the stratum's exclusive prefix token sum in
    * the deterministic (md5-of-id, id) order. Rows with a null token
    * count (null text) are dropped first: they are never selected, and
    * the window twin and the DuckDB oracle drop them too.
    */
  private def tokenPrefix(df: DataFrame, idCol: String, textCol: String,
                          strataCol: String, numParts: Int): DataFrame =
    graft.text.TextAnalysis.exclusivePrefixScalable(
      df.select(col(strataCol), col(idCol),
          graft.text.TextAnalysis.tokenCount(col(textCol)).as("n_toks"),
          md5(col(idCol).cast("string")).as("__h"))
        .where(col("n_toks").isNotNull),
      strataCol, Seq(col("__h"), col(idCol)), "n_toks", numParts)

  /** Epoch-aware mix EXECUTION — the up-sampling half of corpus mixing
    * that [[tokenBudgetMix]] (selection up to a budget) doesn't do:
    * given per-stratum token TARGETS, emit a repeat count per document
    * so each stratum contributes ≈ its target tokens across epochs —
    * scarce high-quality sources repeat, oversized sources contribute
    * a deterministic subset.
    *
    * Per stratum with `avail` total tokens and target `T`:
    * every doc repeats `e = min(floor(T / avail), maxEpochs)` times,
    * and the docs whose exclusive prefix sum (same md5-of-id order as
    * [[tokenBudgetMix]]) is below the residual `T − e·avail` repeat
    * once more — deterministic residual rounding, so emitted tokens
    * land in [T, T + max_doc_tokens) whenever the cap doesn't bind.
    * `maxEpochs` bounds duplication (repeating a tiny source 100× hurts
    * more than missing its share); a capped stratum emits exactly
    * `maxEpochs · avail` tokens with no residual pick. Strata absent
    * from `targets` (target 0) are excluded, as are docs with
    * `n_repeats = 0`.
    *
    * Output: (stratum, id, n_toks, n_repeats ≥ 1) — pure integer
    * arithmetic over the same distributed prefix sums as the budget
    * mixer (DuckDB-oracle-checkable; no window over a mega-stratum),
    * with the per-stratum totals a broadcast stratum-cardinality-sized
    * model. Downstream writers materialize repeats via
    * `explode(sequence(1, n_repeats))` — map-side, never shuffled.
    */
  def epochMix(df: DataFrame, idCol: String, textCol: String,
               strataCol: String, targets: Map[String, Long],
               maxEpochs: Int, numParts: Int = 32): DataFrame = {
    require(maxEpochs >= 1, "need maxEpochs >= 1")
    val prefix = tokenPrefix(df, idCol, textCol, strataCol, numParts)
    val avail = prefix.groupBy(col(strataCol))
      .agg(sum(col("n_toks")).as("__avail"))
    val target = targets.foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    prefix.join(broadcast(avail), strataCol)
      .withColumn("__target", target)
      .withColumn("__epochs",
        when(col("__avail") > 0,
          // integer `div`, not double `/`+cast: exact at any magnitude
          least(expr("__target div __avail"), lit(maxEpochs.toLong)))
          .otherwise(lit(0L)))
      .withColumn("__residual",
        when(col("__epochs") < maxEpochs,
          col("__target") - col("__epochs") * col("__avail"))
          .otherwise(lit(0L)))
      .withColumn("n_repeats",
        (col("__epochs") +
          when(col("__before") < col("__residual"), 1L).otherwise(0L))
          .cast("int"))
      .where(col("n_repeats") >= 1)
      .select(col(strataCol), col(idCol), col("n_toks"), col("n_repeats"))
  }

  /** Exact-k uniform sample PER KEY — the distributed "reservoir":
    * rank rows within each key by the md5 draw of `id:salt` and keep
    * the k smallest. Same distribution as classic reservoir sampling
    * but deterministic, rerun-stable, and engine-portable (the same
    * [[hashBucket]] rationale), which is what a per-domain spot-check
    * sample or per-source eval draw actually needs.
    *
    * Scale shape: executes through the [[graft.plans.TopKPerKey]]
    * bounded-heap operator — each map task keeps ≤ k rows per key
    * before the exchange, the shuffle carries ≤ k·|keys| rows, and no
    * key's full group is ever sorted. A `row_number` window would
    * shuffle and sort every row of every group instead.
    */
  def reservoirPerKey(df: DataFrame, idCol: String, keyCol: String,
                      k: Int, salt: String): DataFrame = {
    require(k > 0, "k must be positive")
    val drawn = df.withColumn("draw",
      conv(substring(md5(concat(col(idCol).cast("string"),
        lit(":" + salt))), 1, 8), 16, 10).cast("long"))
    graft.plans.TopKPerKey.topKPerKey(drawn, Seq(keyCol),
      Seq("draw" -> false, idCol -> false), k)
  }

  /** Weighted sampling without replacement, per key (Efraimidis &
    * Spirtes 2006, "Weighted random sampling with a reservoir"): each
    * item draws a uniform u and gets priority u^(1/w); the k largest
    * priorities per key are EXACTLY a weight-proportional sample
    * without replacement — the published way to sample training docs
    * by quality/length score rather than uniformly.
    *
    * Determinism + oracle parity: u comes from the md5 draw (first 12
    * hex digits → a 48-bit integer m, u = (m+1)/(2^48+1) ∈ (0,1),
    * exact in a double), and items are ranked by the monotone
    * equivalent ln(u)/w — maximising u^(1/w) ⟺ maximising ln(u)/w
    * since ln u < 0 < w — rounded to integer MICRO-units so both
    * engines rank identical longs (ties broken by id; a cross-engine
    * flip would need ln to land within 1e-10 of a rounding boundary).
    *
    * Scale shape: map-only draw + the bounded-heap top-k operator —
    * partial heaps cap the shuffle at k rows per (key, partition),
    * identical to [[reservoirPerKey]]. Non-positive weights are
    * unsampleable by definition and are dropped.
    */
  def weightedSamplePerKey(df: DataFrame, idCol: String, keyCol: String,
                           wCol: String, k: Int, salt: String): DataFrame = {
    require(k > 0, "k must be positive")
    val m = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(":" + salt))), 1, 12), 16, 10).cast("double")
    val u = (m + lit(1.0)) / lit(281474976710657.0) // 2^48 + 1
    val drawn = df.where(col(wCol) > 0)
      .withColumn("priority_micro",
        round(log(u) / col(wCol).cast("double") * 1e6).cast("long"))
    graft.plans.TopKPerKey.topKPerKey(drawn, Seq(keyCol),
      Seq("priority_micro" -> true, idCol -> false), k)
  }

  /** Leak-free train/valid/test split: the split is a deterministic
    * hash of the GROUP key (domain, author, conversation — whatever
    * unit leaks), never the row, so near-duplicate documents from one
    * domain can't straddle train and test and inflate eval. Buckets
    * come from [[hashBucket]] — partition-, cluster-, and
    * rerun-invariant, and re-derivable by any engine from the same md5
    * arithmetic. `trainPct`/`validPct` are percentages; the remainder
    * is test. Emits `split_bucket` so audits can re-check the decision.
    *
    * Scale shape: map-only expression over the scan — the group
    * assignment needs NO join against a group table because the hash
    * is stateless in the group key.
    */
  def leakFreeSplit(df: DataFrame, groupCol: String, salt: String,
                    trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      "need train + valid < 100 with a nonempty test remainder")
    df.withColumn("split_bucket", hashBucket(col(groupCol), salt))
      .withColumn("split",
        when(col("split_bucket") < trainPct, lit("train"))
          .when(col("split_bucket") < trainPct + validPct, lit("valid"))
          .otherwise(lit("test")))
  }
}
