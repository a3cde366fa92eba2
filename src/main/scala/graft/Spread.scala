package graft

import org.apache.spark.sql.DataFrame

/** Scale-adaptive compute spread (optimization guide §2.5/§6, round 19).
  *
  * The harness fixtures are single-file, single-row-group parquet, so a
  * scan plans as ONE input split — and every operator whose per-row cost
  * dwarfs its per-row bytes (tokenize→shingle→hash over documents,
  * signature/banding over embeddings) serializes onto one core of the
  * 32 the session has. multimodal_neardups carried a hand-placed
  * `repartition(defaultParallelism)` for exactly this since r15 (a
  * 25-min one-core straggler at sf10); this helper is that fix made
  * scale-ADAPTIVE and shared:
  *
  *  - if the frame already plans at least `defaultParallelism` input
  *    partitions — the 100 TB posture, where splits come for free from
  *    many files/row groups — it is returned UNCHANGED (no shuffle, no
  *    plan-shape difference at scale);
  *  - only when the scan under-splits (fixture artifact, or a genuinely
  *    tiny input, where the round-robin exchange is a few MB) does it
  *    pay one keyless repartition to defaultParallelism.
  *
  * Deliberately NOT applied to cheap-per-row scans (plain filters/aggs
  * over lineitem): there the extra exchange costs more than the
  * one-core scan saves, and the first shuffle spreads work anyway.
  * Callers are the compute-dense operator entries only.
  *
  * Partition-order safety: callers must be partition-order-exact (all
  * registry operators are, by the round-6 determinism rules); do not
  * use upstream of `spark_partition_id`-dependent logic.
  */
object Spread {
  /** Minimum plan-estimated input bytes before spreading pays. The
    * r19 mid-round bench measured the repartition as a NET LOSS on the
    * sf0.1 fixtures (the whole tokenize→shingle pass is ~0.3 s warm —
    * less than the exchange it buys), while the sf10 one-core
    * straggler it fixes is a 25-minute stage. 32 MB ≈ a few seconds of
    * single-core tokenize work — below that the exchange can't win.
    */
  val MinSpreadBytes: Long = 32L << 20

  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // streaming frames: partitioning comes from the source/trigger and
    // `.rdd` is illegal on an unstarted stream — pass through
    // (StreamCheck's 12th shape routes a stream through a dedup entry)
    if (df.isStreaming) df
    else if (df.queryExecution.optimizedPlan.stats.sizeInBytes
          < BigInt(MinSpreadBytes)) df
    else if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p)
  }

  /** [[spread]] for operators whose downstream cost is QUADRATIC in
    * the input rows (the bounded all-pairs baselines): the byte gate
    * is the wrong measure there. dedup_ngram_jaccard's 200-doc slice
    * is 0.6 MB — the 32 MB gate never fires — yet it yields 19,900
    * array-intersect/union verifications, all serialized on the
    * scan's one split because the non-equi pair join streams the
    * single-split side (measured: 1.35 s warm → 0.50 s spread,
    * local[32] sf0.1). Callers bound n by contract (these helpers are
    * documented caller-bounds-n), so the exchange this buys is a few
    * hundred KB and the win is the O(n²) verify fanning out over
    * every core; no byte gate.
    */
  def spreadQuadratic(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming) df
    else if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p)
  }
}
