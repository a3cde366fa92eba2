package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — north-star extension.
  *
  *  - [[cosine]] / [[dot]] / [[l2Norm]]: built from `zip_with` +
  *    `aggregate` higher-order functions over double-cast elements —
  *    deterministic left-to-right folds, no UDFs.
  *  - [[bruteForceTopK]]: exact top-k for a bounded query set — the
  *    correctness baseline. Queries are broadcast; the corpus streams;
  *    per-query rank via window. Cost O(|Q|·|corpus|) — fine when |Q| is
  *    small, which is the only honest use of brute force at 100 TB.
  *  - [[srpSignature]] / [[lshCandidates]]: signed-random-projection
  *    LSH (Charikar '02): deterministic fixed-seed hyperplanes, bucket
  *    join on signature bands, exact re-rank *within* candidates
  *    ([[rerankTopK]]). The scale path: shuffle ∝ bucket sizes, never
  *    |Q|×|corpus|.
  *
  * Norms are computed once per vector (a Project before the join), never
  * per pair.
  */
object Similarity {

  /** Elementwise dot product. The float-array fast path is a codegen'd
    * native expression ([[graft.functions.VectorExprs.FloatVecDot]]); it
    * accumulates left-to-right in double exactly like the higher-order-
    * function formulation ([[dotHof]]) it replaces, so results are
    * bit-identical — the HOF version stays as the generic/reference
    * implementation and for equality tests.
    */
  def dot(a: Column, b: Column): Column = VectorExprs.float_dot(a, b)

  /** Reference implementation via builtin higher-order functions (works
    * on any numeric array type, interpreted — slow on hot paths).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine via precomputed norms (for joins where norms are computed
    * once per side).
    */
  def cosineWithNorms(dotCol: Column, normA: Column, normB: Column): Column =
    dotCol / (normA * normB)

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself), ranked by (cosine desc, id asc).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), l2Norm(col(vecCol)).as("__qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2Norm(col(vecCol)).as("__cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosineWithNorms(dot(col("__qv"), col("__cv")),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** HARD-NEGATIVE mining (the DPR/contrastive-training batch
    * constructor — Karpukhin et al. 2020): for each anchor, the `k`
    * most similar corpus vectors BELOW the positive threshold, plus
    * each one's margin to the anchor's best positive. Top-similarity
    * sub-threshold neighbors are exactly the negatives contrastive
    * training learns most from; the margin column ranks how "hard"
    * each is (small margin = nearly indistinguishable from a
    * positive; null = the anchor has no positive at this threshold).
    *
    * Determinism: cosines round to 6 dp BEFORE the threshold split and
    * the ranking, so the positive/negative partition and the
    * (score desc, id asc) order are engine-exact. One corpus pass: the
    * per-anchor positive max rides as an unordered window over the
    * same query_id partitioning the rank window uses — one exchange,
    * no second scan.
    *
    * Scale shape: broadcast anchors × corpus scan, like
    * [[bruteForceTopK]] — the exact baseline. At corpus scale, feed
    * the scored candidates from an ANN shortlist ([[ivfCandidates]] /
    * [[pqShortlistRerank]]) instead of the full scan; the
    * threshold-split + margin logic is unchanged.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int,
                    posThreshold: Double): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), l2Norm(col(vecCol)).as("__qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2Norm(col(vecCol)).as("__cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("__s", round(cosineWithNorms(dot(col("__qv"), col("__cv")),
        col("__qn"), col("__cn")), 6))
    val wAll = Window.partitionBy(col("query_id"))
    val wOrd = wAll.orderBy(col("__s").desc, col("neighbor_id").asc)
    scored
      .withColumn("__pos_max",
        max(when(col("__s") >= posThreshold, col("__s"))).over(wAll))
      .where(col("__s") < posThreshold)
      .withColumn("rank", row_number().over(wOrd))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("__s").as("score"),
        round(col("__pos_max") - col("__s"), 6).as("margin_to_pos"))
  }

  /** Embedding dimensionality, read from the first row (parquet list
    * schemas don't record a fixed length). One tiny action — a single
    * row of a single column from one file split — paid once per plan
    * build, not per row. Callers that already know the dim pass it
    * explicitly and skip the action. The SRP expressions themselves
    * raise on any row whose length disagrees with the planes
    * ([[graft.functions.VectorExprs.SrpBandKeys]]), so a mixed-dim
    * corpus fails loudly instead of hashing truncated projections.
    */
  def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head.getInt(0)

  /** Deterministic pseudo-random hyperplanes: `numPlanes` × `dim` doubles
    * from a fixed-seed PRNG, identical across executors and runs.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Signed-random-projection signature: bit i = sign(v · h_i). Returns
    * a long (supports up to 63 planes).
    */
  def srpSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    VectorExprs.srp_signature(vec, planes)

  /** Per-band SRP keys: band `bi` is its own `bitsPerBand`-bit signature
    * over a disjoint plane slice (no packing into one long, so any
    * bands × bits combination works). ONE native expression for all
    * bands ([[VectorExprs.SrpBandKeys]]) — with 64+ per-band
    * expressions, whole-stage codegen's janino compile becomes a ~10 s
    * fixed cost per stage; the array form is a single tight loop.
    * Explode with `posexplode` → (band_id, band_key) rows.
    */
  private def bandCols(vec: Column, planes: Seq[Seq[Double]], bands: Int,
                       bitsPerBand: Int): Column =
    VectorExprs.srp_band_keys(vec, planes, bands, bitsPerBand)

  /** Multi-probe: a band key plus its `bits` Hamming-1 neighbors. Probing
    * adjacent buckets on ONE join side trades a (1+bits)× fan-out of that
    * side for a large recall boost — the standard way to keep band keys
    * wide (big key space ⇒ small buckets ⇒ subquadratic candidates) while
    * still catching low-similarity neighbors that flip one bit.
    */
  private def probeKeys(key: Column, bits: Int): Column =
    array(key +: (0 until bits).map(j => key.bitwiseXOR(lit(1L << j))): _*)

  /** Parameter rule for SRP banding at a given corpus size (the knob that
    * keeps candidate generation subquadratic at 100 TB):
    *  - `bits` so the expected bucket COLLISIONS stay ~`targetBucket`
    *    per row. Crucial subtlety: random pairs in a real corpus are not
    *    orthogonal — at background similarity `bgSim` a random pair
    *    agrees on a bit with probability pBg = 1 − acos(bgSim)/π > ½,
    *    so collisions per row per band are n·pBg^bits, NOT n/2^bits.
    *    Sizing against ½ underestimates candidate volume exponentially.
    *    bits = ln(n/targetBucket) / ln(1/pBg), floor 8;
    *  - `bands` from the Charikar S-curve so a pair at design similarity
    *    `s0` is caught with ≥`recall` probability:
    *    pBand = p^bits (+ bits·p^(bits-1)·(1-p) with Hamming-1
    *    multi-probe), p = 1 − acos(s0)/π,
    *    bands = ln(1−recall)/ln(1−pBand).
    *
    * Total candidate work scales as n^(1+ρ), ρ = ln(1/p)/ln(1/pBg) —
    * the standard LSH exponent. ρ → 0 (near-linear) when dups are much
    * more similar than background; ρ → 1 (quadratic) as s0 approaches
    * bgSim, where no hashing family can help.
    *
    * Multi-probe pays only when ONE join side is small (top-k queries):
    * probing fans that side out ×(1+bits) but divides `bands` by ~5. On
    * a SELF-join both sides are the corpus, so the fan-out hits the full
    * candidate volume and extra bands are strictly cheaper — measured
    * ×3 on the ×32 events/embeddings replica (BASELINE_HISTORY.md
    * "Scale probe (events ×32 …)").
    */
  def srpPlan(n: Long, s0: Double, recall: Double,
              targetBucket: Int = 64, multiProbe: Boolean = false,
              bgSim: Double = 0.3): (Int, Int) = {
    val pBg = 1.0 - math.acos(bgSim) / math.Pi
    val bits = math.min(63, math.max(8,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(1.0 / pBg)).toInt))
    val p = 1.0 - math.acos(s0) / math.Pi
    val pBand = math.pow(p, bits) +
      (if (multiProbe) bits * math.pow(p, bits - 1) * (1.0 - p) else 0.0)
    val bands = math.max(1,
      math.ceil(math.log(1.0 - recall) / math.log(1.0 - pBand)).toInt)
    (bits, bands)
  }

  /** Candidate stage of LSH-bucketed approximate top-k: queries and
    * corpus are signed with the same hyperplanes; candidates =
    * (query_id, neighbor_id) pairs sharing ≥1 band bucket (queries
    * multi-probe Hamming-1 buckets). Defaults 128 planes = 16 bands ×
    * 8 bits: band-key space 256, so each band join touches ~n/256-row
    * buckets — candidate volume Θ(n·bands·(1+bits)/2^bits), never
    * Θ(n²). Size via [[srpPlan]] for other corpus scales. Only ids
    * travel through the band join and the distinct — the shuffle moves
    * (long, long) pairs, not 64-float arrays. The top-k is
    * `rerankTopK(lshCandidates(…), …)` — the exact cosine re-rank
    * within candidates, so the pair list can be materialized and the
    * re-rank verified externally. Recall measured against
    * [[bruteForceTopK]] in the test suite.
    */
  def lshCandidates(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, numPlanes: Int = 128, bands: Int = 16,
                    seed: Long = 42L, dim: Int = 0): DataFrame = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    val bitsPerBand = numPlanes / bands
    val d = if (dim > 0) dim else vecDim(corpus, vecCol)
    val planes = hyperplanes(numPlanes, d, seed)

    def keyed(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
        bandCols(col(vecCol), planes, bands, bitsPerBand).as("__bands"))

    // multi-probe fans out the QUERY side only (|Q| ≪ |corpus|)
    val qBands = keyed(queries, "query_id")
      .select(col("query_id"),
        posexplode(col("__bands")).as(Seq("band_id", "band_key")))
      .select(col("query_id"), col("band_id"),
        explode(probeKeys(col("band_key"), bitsPerBand)).as("band_key"))
    val cBands = keyed(corpus, "neighbor_id")
      .select(col("neighbor_id"),
        posexplode(col("__bands")).as(Seq("band_id", "band_key")))

    qBands.join(cBands, Seq("band_id", "band_key"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
  }

  /** Exact cosine re-rank — stage 2 of every ANN path (LSH, IVF, or any
    * external candidate generator): join the vectors back onto the
    * (query_id, neighbor_id) pair list, score, keep the top `k` per
    * query by (score desc, neighbor_id asc).
    */
  def rerankTopK(pairs: DataFrame, queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2Norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"))
    val scored = pairs.select("query_id", "neighbor_id")
      .join(q, "query_id").join(c, "neighbor_id")
      .withColumn("score", cosineWithNorms(dot(col("__qv"), col("__cv")),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** Recall@k of an ANN result against the exact brute-force answer —
    * the evaluation loop every approximate index needs before it ships:
    * per query, the fraction of true top-k neighbors the ANN path
    * found. Both inputs carry (query_id, neighbor_id) rows; ties are
    * deterministic on both sides ((score desc, neighbor_id asc)), so
    * the metric is stable. Scale shape: a |Q|·k-row join + hash agg —
    * evaluation cost is query-set-sized, independent of corpus size.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("k"),
        sum(coalesce(col("__hit"), lit(0))).cast("int").as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("k"), 6))

  /** Embedding near-duplicate pairs: corpus self-match with cosine ≥
    * threshold, via SRP banding (no quadratic pass). Wide 8-bit band
    * keys keep buckets ~n·pBg^bits; NO multi-probe here — on a
    * self-join the probe fan-out multiplies the whole candidate volume,
    * so recall comes from more bands instead (64 bands ⇒ S-curve recall
    * ≈0.87 at s=0.45, ≈0.80 at s=0.4). Size via [[srpPlan]]
    * (multiProbe=false) for other corpus scales / thresholds.
    *
    * Verification is two-stage so candidate pairs never shuffle full
    * vectors twice: a 126-bit SRP SKETCH (two longs, 16 B — vs 512 B
    * of raw floats) rides the exploded band rows, and only pairs whose
    * sketch-estimated angle could clear `threshold` (mismatch ≤ mean +
    * 3σ of a true pair's Binomial) survive the band join's streamed
    * output — the cut runs IN-STAGE, before the candidate distinct, so
    * raw band collisions never reach an exchange (the r14 sf10
    * multimodal spill). At a high threshold the sketch rejects ≈97% of
    * background candidates; at thresholds near the background
    * similarity it would pass ~everything, so it is skipped and the
    * explode stays id-only.
    */
  def cosineNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, numPlanes: Int = 512, bands: Int = 64,
                     seed: Long = 42L): DataFrame =
    cosineNearDupsFromCandidates(
      cosineNearDupCandidates(corpus, idCol, vecCol, threshold, numPlanes,
        bands, seed),
      corpus, idCol, vecCol, threshold)

  /** Candidate stage of [[cosineNearDups]]: band-bucket pairs filtered by
    * the 126-bit sketch. Exposed so the pair list can be materialized
    * and the exact stage verified externally.
    */
  def cosineNearDupCandidates(corpus: DataFrame, idCol: String,
                              vecCol: String, threshold: Double,
                              numPlanes: Int = 512, bands: Int = 64,
                              seed: Long = 42L, dim: Int = 0): DataFrame = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    val bitsPerBand = numPlanes / bands
    val d = if (dim > 0) dim else vecDim(corpus, vecCol)
    val planes = hyperplanes(numPlanes, d, seed)
    // sketch planes drawn independently of the banding planes so the
    // mismatch count is an unbiased angle estimator on candidate pairs
    val sketchPlanes = hyperplanes(126, d, seed + 1)
    val signed = corpus.select(col(idCol), col(vecCol).as("__v"),
      l2Norm(col(vecCol)).as("__n"),
      srpSignature(col(vecCol), sketchPlanes.slice(0, 63)).as("__sk0"),
      srpSignature(col(vecCol), sketchPlanes.slice(63, 126)).as("__sk1"),
      bandCols(col(vecCol), planes, bands, bitsPerBand).as("__bands"))
    // sketch filter: a true pair at `threshold` mismatches a sketch bit
    // w.p. f = acos(threshold)/π; admit up to mean + 3σ. Only worth
    // carrying when the cutoff sits BELOW the background pair's
    // expected mismatch (~0.40·126 at cosine ≈0.3) — at thresholds near
    // background it passes everything, so skip it
    val f = math.acos(threshold) / math.Pi
    val maxMismatch = math.min(126, math.ceil(
      126 * f + 3.0 * math.sqrt(126 * f * (1 - f))).toInt)
    val sketchSelective = maxMismatch < (126 * 0.40).toInt
    // IN-STAGE sketch filtering (r15): when selective, the two sketch
    // longs (16 B) RIDE the exploded band rows, so the filter runs on
    // the band join's streamed output BEFORE the distinct. The r14 sf10
    // multimodal death was exactly this boundary: ~1e9 raw band
    // collisions fed the distinct's exchange and spilled the 64 GiB
    // envelope to disk — with the popcount cut applied join-side, only
    // the ≲3% sketch survivors ever reach an exchange, at the price of
    // 16 B/row on the (much smaller) explode shuffle. The pair set is
    // identical: the cut is a row-independent pair predicate, so
    // filtering collision rows before distinct = filtering distinct
    // pairs (the pre-r15 shape, which also paid two extra joins).
    val skCols: Seq[Column] =
      if (sketchSelective) Seq(col("__sk0"), col("__sk1")) else Seq.empty
    val exploded = signed
      .select(col(idCol) +: skCols :+
        posexplode(col("__bands")).as(Seq("band_id", "band_key")): _*)
    def side(suffix: String): DataFrame = {
      val renamed = Seq(col(idCol).as(s"id_$suffix")) ++
        (if (sketchSelective)
          Seq(col("__sk0").as(s"__${suffix}0"), col("__sk1").as(s"__${suffix}1"))
        else Seq.empty)
      exploded.select(col("band_id") +: col("band_key") +: renamed: _*)
    }
    val raw = side("a").join(side("b"), Seq("band_id", "band_key"))
      .where(col("id_a") < col("id_b"))
    val cut = if (!sketchSelective) raw else raw
      .where((bit_count(col("__a0").bitwiseXOR(col("__b0"))) +
        bit_count(col("__a1").bitwiseXOR(col("__b1")))) <= maxMismatch)
    cut.select("id_a", "id_b").distinct()
  }

  /** Exact stage of [[cosineNearDups]]: cosine over a candidate pair
    * list, keeping pairs ≥ `threshold`.
    */
  def cosineNearDupsFromCandidates(cands: DataFrame, corpus: DataFrame,
                                   idCol: String, vecCol: String,
                                   threshold: Double): DataFrame = {
    // coalesce wrap: see [[cellBoundedNearDups]] — the score
    // predicate's inferred isnotnull re-evaluated sqrt(dot) per corpus
    // row on both join sides (plan-verified); null-vector pairs still
    // die on the score comparison itself
    val v = corpus.select(col(idCol), col(vecCol).as("__v"),
      coalesce(l2Norm(col(vecCol)), lit(0.0)).as("__n"))
    cands.select("id_a", "id_b")
      .join(v.select(col(idCol).as("id_a"), col("__v").as("__va"), col("__n").as("__na")), "id_a")
      .join(v.select(col(idCol).as("id_b"), col("__v").as("__vb"), col("__n").as("__nb")), "id_b")
      .withColumn("score", cosineWithNorms(dot(col("__va"), col("__vb")),
        col("__na"), col("__nb")))
      .where(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
  }

  /** Measured background-similarity statistics of an embedding corpus,
    * from a deterministic sample: the 256 hash-rank-smallest rows
    * (TakeOrdered — one linear scan with per-partition heaps, no full
    * sort; ties broken by id, so the sample is layout- and
    * run-independent) self-paired via a broadcast cross join —
    * 256·255/2 cosines, constant work at any corpus size.
    *
    * `mean` sizes banding ([[srpPlan]]'s `bgSim` — the r14 sf10 lesson:
    * trusting a caller-supplied default underestimates candidate volume
    * exponentially when the real background is hotter); `p99` and
    * `fracAtOrAbove` feed the [[cosineNearDupsAuto]] reroute gate
    * (`fracAtOrAbove · n(n−1)/2` estimates the TRUE output volume — at
    * a threshold inside the background tail the output itself is
    * corpus-quadratic and no candidate-generation family can prune it).
    */
  final case class BgSimStats(mean: Double, p99: Double,
                              fracAtOrAbove: Double, nPairs: Long)

  def measuredBgSim(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double): BgSimStats = {
    val sample = corpus
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        l2Norm(col(vecCol)).as("__n"))
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(256)
    val a = sample.select(col("__id").as("__ia"), col("__v").as("__va"),
      col("__n").as("__na"))
    val b = sample.select(col("__id").as("__ib"), col("__v").as("__vb"),
      col("__n").as("__nb"))
    val row = a.crossJoin(broadcast(b))
      .where(col("__ia") < col("__ib"))
      .select(cosineWithNorms(dot(col("__va"), col("__vb")),
        col("__na"), col("__nb")).as("s"))
      .agg(avg(col("s")), expr("percentile(s, 0.99)"),
        avg((col("s") >= threshold).cast("double")), count(lit(1)))
      .head()
    if (row.isNullAt(0)) BgSimStats(0.0, 0.0, 0.0, 0L)
    else BgSimStats(row.getDouble(0), row.getDouble(1), row.getDouble(2),
      row.getLong(3))
  }

  /** Cell-bounded near-dup pairs — the SemDeDup operator shape
    * ([[semanticDedup]]) emitting the PAIR list instead of keep flags:
    * k-means cells bound the quadratic term (candidate volume Σ|cell|²,
    * not n²), pairs scored within cells only. This is the right plan
    * for thresholds at or inside the background-similarity tail, where
    * banding's S-curve exponent ρ→1 and the band join degenerates to
    * the quadratic pass it was supposed to avoid. Recall contract:
    * cross-cell pairs are missed — the SemDeDup trade, bought back with
    * cell count ∝ n (per-cell work constant, cells embarrassingly
    * parallel).
    *
    * MEASURED recall curve (r16, sampled-pair estimator, sf0.1→sf1.0
    * fixtures: BASELINE_HISTORY.md "Cell-route recall, measured" and
    * BASELINE.md "Anchor convention" — pick thresholds with this in
    * hand):
    *  - REAL near-duplicates land in one cell: planted eps-perturbed
    *    dups recall 0.87–0.98 (eps 0.2→0.02, i.e. cosine 0.923→0.9992);
    *    sf1.0 replica dups (cosine ≈0.99999) 911/911 = 1.000 at
    *    t ≥ 0.7, 0.989 at 0.5. If the pairs you want are duplicates in
    *    any curation sense, the cell route finds them.
    *  - MID thresholds sitting on the background tail measure 0.4–0.6
    *    recall (embeddings t=0.4→0.606, t=0.3→0.215; the degenerate
    *    multimodal byte-histogram space at its production t=0.95→0.59,
    *    bg p99≈0.93). That is a DESIGN POINT, not a defect: pairs at
    *    background similarity are Θ(n²) OUTPUT by construction — no
    *    candidate family prunes what IS the background, and enumerating
    *    it cannot scale. Want exhaustive mid-threshold pairs anyway
    *    (bounded n only)? Use [[cosineNearDups]] banding with the
    *    measured bg, or brute force below ~10⁵ rows.
    */
  private def cellBoundedNearDups(corpus: DataFrame, idCol: String,
                                  vecCol: String, threshold: Double,
                                  n: Long): DataFrame = {
    // ~1024 rows per cell
    val numCells = math.max(4, math.min(65536,
      math.ceil(n.toDouble / 1024).toInt))
    val cents = trainCentroids(corpus, idCol, vecCol, numCells, iters = 1,
      sampleMod = trainSampleModFor(n, numCells))
    // null-proof the DERIVED columns (coalesce with a literal → the
    // attributes are non-nullable): otherwise the join's inferred
    // isnotnull constraints push a Filter below this Project that
    // re-evaluates nearestcells + sqrt(dot) PER ROW per side — the r19
    // plan probe measured the duplicate at 2× assignment cost on both
    // join inputs. Semantics unchanged: a null vector's pairs die on
    // the `score >= t` predicate exactly as the null join key died.
    val assigned = corpus.select(col(idCol), col(vecCol).as("__v"),
      coalesce(l2Norm(col(vecCol)), lit(0.0)).as("__n"),
      coalesce(cellFor(cents)(col(vecCol)), lit(-1)).as("cell"))
    assigned
      .select(col("cell"), col(idCol).as("id_a"), col("__v").as("__va"),
        col("__n").as("__na"))
      .join(assigned.select(col("cell"), col(idCol).as("id_b"),
        col("__v").as("__vb"), col("__n").as("__nb")), "cell")
      .where(col("id_a") < col("id_b"))
      .withColumn("score", cosineWithNorms(dot(col("__va"), col("__vb")),
        col("__na"), col("__nb")))
      .where(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
  }

  /** Auto-gated near-dup pairs — the entry point a 100 TB pipeline
    * should call (the r14 sf10 lesson generalized, the
    * [[graft.dedup.Dedup.containmentPairsAuto]] discipline): MEASURE
    * the corpus' background similarity ([[measuredBgSim]] — one
    * constant-cost sampled job) instead of trusting caller-supplied
    * banding defaults, then route:
    *
    *  - threshold inside the background tail (`threshold ≤ p99 +
    *    0.05`), or estimated TRUE output volume super-linear
    *    (`fracAtOrAbove·(n−1)/2 > 32` output pairs per corpus row):
    *    banding cannot prune candidates that ARE the
    *    background (the measured sf10 `sim_cosine_neardups` regime:
    *    threshold 0.4 ≈ 3.2σ of N(0, 1/√64), ~8M quadratic output
    *    pairs) → the cell-bounded operator (`cellBoundedNearDups`).
    *  - otherwise: SRP banding, sized by [[srpPlan]] with the MEASURED
    *    background mean (bgSim clamped to [0, 0.95]) — the multimodal
    *    block-hash space measures ≈0.70 where the embedding default
    *    would assume ≈0.3 and under-bit the band keys exponentially.
    *
    * The decision is [[nearDupsReroute]] (the measured route at sf100:
    * BASELINE.md "sf100 gate decisions"). Both routes emit
    * `(id_a, id_b, score)` with exact re-scored
    * cosine ≥ threshold; they differ in which true pairs the candidate
    * stage can miss (S-curve tail vs cross-cell pairs).
    *
    * Threshold-picking guidance (the measured r16 recall curve — full
    * numbers at `cellBoundedNearDups`): genuine near-duplicates
    * (cosine ≳ 0.92) recall 0.87–1.000 through the cell route;
    * thresholds INSIDE the measured background tail recall 0.4–0.6
    * because background-similarity pairs are Θ(n²) output by
    * construction. If the gate reroutes your threshold, the corpus is
    * telling you the threshold enumerates background, not duplicates —
    * raise it, or accept the cell-local contract.
    */
  def cosineNearDupsAuto(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double,
                         recall: Double = 0.95): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val n = corpus.count()
    val bg = measuredBgSim(corpus, idCol, vecCol, threshold)
    if (nearDupsReroute(bg, n, threshold))
      cellBoundedNearDups(corpus, idCol, vecCol, threshold, n)
    else {
      val (bits, bands) = srpPlan(n, threshold, recall,
        bgSim = math.min(0.95, math.max(0.0, bg.mean)))
      cosineNearDups(corpus, idCol, vecCol, threshold,
        numPlanes = bits * bands, bands = bands)
    }
  }

  /** The measured-background reroute decision of [[cosineNearDupsAuto]]:
    * reroute to the cell-bounded operator when the threshold sits
    * inside the background tail (`threshold ≤ p99 + 0.05`) or the
    * estimated true output (`fracAtOrAbove·(n−1)/2` pairs per row) is
    * over 32, i.e. itself corpus-quadratic.
    */
  private[graft] def nearDupsReroute(bg: BgSimStats, n: Long,
                                     threshold: Double): Boolean =
    threshold <= bg.p99 + 0.05 ||
      bg.fracAtOrAbove * math.max(0L, n - 1) / 2.0 > 32.0

  /** SemDeDup — semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means partition the embedding space, then
    * compare pairwise cosine ONLY within each cell; a vector is dropped
    * when a same-cell neighbor with a smaller id sits at or above the
    * similarity threshold. Returns every corpus row with its `cell` and
    * a `keep` flag.
    *
    * Scale shape: the clustering bounds the quadratic term — candidate
    * volume is Σ|cell|², not n², and the self-join shuffles only
    * (id, vec, norm) keyed on `cell`. At 100 TB the cell count grows
    * with the corpus (cells ≈ n / rows-per-cell, the IVF sizing
    * discipline — the paper itself runs k≈100k on LAION) so per-cell
    * work stays constant and cells are embarrassingly parallel; the
    * centroid model is driver state inlined into one codegen
    * expression, so assignment is a map-only projection, no join.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    cents: Array[(Seq[Float], Double)],
                    threshold: Double): DataFrame = {
    // coalesce wraps: see [[cellBoundedNearDups]] — kills the inferred
    // isnotnull(nearestcells)/isnotnull(sqrt·dot) duplicate evaluation
    val assigned = corpus.select(col(idCol), col(vecCol).as("__v"),
      coalesce(l2Norm(col(vecCol)), lit(0.0)).as("__n"),
      coalesce(cellFor(cents)(col(vecCol)), lit(-1)).as("cell"))
    val dropped = assigned
      .select(col("cell"), col(idCol).as("id_a"), col("__v").as("__va"),
        col("__n").as("__na"))
      .join(assigned.select(col("cell"), col(idCol).as("id_b"),
        col("__v").as("__vb"), col("__n").as("__nb")), "cell")
      .where(col("id_b") < col("id_a") &&
        cosineWithNorms(dot(col("__va"), col("__vb")),
          col("__na"), col("__nb")) >= threshold)
      .select(col("id_a").as(idCol)).distinct()
    assigned.join(dropped.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("__dup").isNull.as("keep"))
  }

  private def withNorm(v: Seq[Float]): (Seq[Float], Double) =
    (v, math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))

  /** Top-`n` nearest cells (by dot/centroidNorm ≡ cosine up to the
    * row's own positive norm), descending, in ONE codegen expression
    * ([[VectorExprs.NearestCells]]): the centroid matrix is a codegen
    * reference object and `numCells` a loop bound, so cell count can
    * follow the √n sizing rule ([[ivfCandidates]]) without the per-cell
    * struct-expression spelling whose janino compile dominates past ~64
    * cells.
    */
  def nearestCells(cents: Array[(Seq[Float], Double)], n: Int)(vec: Column): Column =
    VectorExprs.nearest_cells(vec, cents.flatMap(_._1), cents.map(_._2), n)

  /** Nearest-centroid cell index for a vector column. */
  def cellFor(cents: Array[(Seq[Float], Double)])(vec: Column): Column =
    element_at(nearestCells(cents, 1)(vec), 1)

  /** Hash-sample modulus leaving ≈ `rowsPerCell·numCells` training rows:
    * the quantizer needs ~10²-rows-per-cell statistics, not the corpus —
    * at 100 TB training must read a sample or it costs a full extra
    * shuffle-the-vectors pass per Lloyd round.
    */
  def trainSampleModFor(n: Long, numCells: Int, rowsPerCell: Int = 128): Int =
    math.max(1, (n / math.max(1L, rowsPerCell.toLong * numCells)).toInt)

  /** Lloyd's k-means on the cosine geometry, deterministic and
    * seed-free: hash-stratified init (one pseudo-random row per
    * `xxhash64(id) mod k` stratum), then `iters` rounds of
    * assign-to-nearest + per-cell elementwise mean
    * ([[graft.functions.VectorAgg]]), means rounded to 6 dp so
    * partial-sum order can't leak into the model.
    *
    * Scale shape per round: assignment is a map-only Project against k
    * broadcast centroid literals (no join, no shuffle of vectors); the
    * re-estimation groupBy carries one (dim+1)-double buffer per
    * (cell × partition) through the exchange. Driver state is k×dim
    * floats — model, not data. Empty cells drop out (k shrinks), the
    * standard Lloyd degeneracy.
    */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     numCells: Int, iters: Int = 1,
                     sampleMod: Int = 1): Array[(Seq[Float], Double)] = {
    // hash-stratified training sample (deterministic, seed-free): the
    // quantizer needs per-cell statistics, not the corpus — sampleMod>1
    // is the 100 TB shape (size via trainSampleModFor)
    val train = if (sampleMod <= 1) corpus
      else corpus.where(
        pmod(xxhash64(col(idCol), lit(13)), lit(sampleMod)) === 0)
    val pickW = Window.partitionBy(col("__stratum"))
      .orderBy(col("__pick"), col(idCol))
    val init: Array[(Seq[Float], Double)] = train
      .select(col(idCol), col(vecCol),
        pmod(xxhash64(col(idCol)), lit(numCells)).as("__stratum"),
        xxhash64(col(idCol), lit(7)).as("__pick"))
      .withColumn("__rn", row_number().over(pickW))
      .where(col("__rn") === 1)
      .select(col(vecCol)).collect().map(r => withNorm(r.getSeq[Float](0)))
    val mean = graft.functions.VectorAgg.vecMean(init.headOption
      .map(_._1.length).getOrElse(64))
    var cents = init
    for (_ <- 1 to iters) {
      cents = train
        .select(col(vecCol).as("__v"), cellFor(cents)(col(vecCol)).as("cell"))
        .groupBy(col("cell")).agg(mean(col("__v")).as("m"))
        .orderBy(col("cell")) // stable cell numbering across runs
        .collect()
        .map(r => withNorm(r.getSeq[Double](1)
          .map(x => math.rint(x * 1e6).toFloat / 1e6f)))
    }
    cents
  }

  /** BUILD stage of IVF — train the coarse quantizer, then assign every
    * corpus row to its cell. This is the one-time n·numCells·dim pass
    * that amortizes over all queries (real ANN services build once,
    * query forever — the ×32 replica timings keep build and query apart
    * for exactly this reason: BASELINE_HISTORY.md "Scale probe (events
    * ×32 …)", build 1.7×, query 2.0×). Returns the model + the
    * inverted-file `(neighbor_id, cell)` table, which callers
    * persist/cache.
    */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
               numCells: Int, iters: Int = 1, sampleMod: Int = 1)
      : (Array[(Seq[Float], Double)], DataFrame) = {
    val cents = trainCentroids(corpus, idCol, vecCol, numCells, iters, sampleMod)
    // coalesce wrap: see [[cellBoundedNearDups]] — the probe join's
    // inferred isnotnull would re-evaluate nearestcells over the CORPUS
    (cents, corpus.select(col(idCol).as("neighbor_id"),
      coalesce(cellFor(cents)(col(vecCol)), lit(-1)).as("cell")))
  }

  /** QUERY stage of IVF against a built index: each query probes its
    * `nprobe` nearest cells; candidates = the probed cells' rows via a
    * broadcast equi-join (the only shuffle-shaped step, and its left
    * side is |Q|·nprobe rows of (long, int)).
    */
  def ivfProbe(queries: DataFrame, idCol: String, vecCol: String,
               cents: Array[(Seq[Float], Double)], cells: DataFrame,
               nprobe: Int): DataFrame = {
    val qProbes = queries.select(col(idCol).as("query_id"),
      explode(nearestCells(cents, nprobe)(col(vecCol))).as("cell"))
    broadcast(qProbes).join(cells, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
  }

  /** Candidate stage of IVF (inverted-file) approximate top-k — the
    * other classic ANN scale path next to LSH. A coarse quantizer of
    * `numCells` centroids partitions the corpus into cells (the
    * "inverted lists"); each query probes only its `nprobe` nearest
    * cells, giving (query_id, neighbor_id) pairs. The top-k is
    * `rerankTopK(ivfCandidates(…), …)`, the exact re-rank of those
    * pairs, so the pair list can be materialized and the re-rank
    * verified externally.
    *
    * Centroid training is deterministic and seed-free: a hash-stratified
    * init (one pseudo-random row per `xxhash64(id) mod numCells` stratum
    * — spread across the corpus, unlike a lowest-id prefix which can be
    * arbitrarily clustered) followed by ONE Lloyd refinement (cell means
    * via [[graft.functions.VectorAgg]], rounded to 6 dp so partial-sum
    * order can't leak into the model). The centroid table is tiny model
    * state: collected on the driver and inlined as literal arrays, so
    * cell assignment is a map-only Project over the corpus (no join, no
    * shuffle). Training cost = 2 extra corpus passes, both map-side
    * partial-aggregated. At 100 TB the only shuffle is the probe⋈cell
    * equi-join, whose right side carries ~|corpus|·nprobe/numCells rows
    * per query, and the final per-query top-k is [[rerankTopK]]'s
    * `row_number` rank filter, which Spark plans as a per-query group
    * limit over the sorted candidates.
    *
    * Sizing rule for the coarse quantizer — the [[srpPlan]] analogue,
    * the knob to re-derive at any corpus scale. Per-QUERY work over
    * balanced cells is
    * {{{
    *   numCells·dim                 // score every centroid
    *   + nprobe·(n/numCells)·dim    // exact re-rank of the probed lists
    * }}}
    * minimized at `numCells = √(n·nprobe)` where the two terms are equal
    * — per-query cost then grows as √(n·nprobe)·dim, the IVF
    * subquadratic scale claim (total query workload n^1.5 for n queries,
    * vs n² brute force). Recall is bought with `nprobe`: a true neighbor
    * is reachable iff its cell is probed, and vectors near a cell
    * boundary need more than one probe; re-rank cost is linear in
    * nprobe. Measured against [[bruteForceTopK]] in SimilaritySpec
    * (recall 0.79 at nprobe=8 of 16 cells on the sf0.001 corpus). Cap the
    * √n count at a few thousand cells: the one-time BUILD pass
    * ([[ivfBuild]]) assigns every corpus row at n·numCells·dim cost and
    * the driver-side model is numCells·dim floats — past that the flat
    * centroid scan itself needs the IVF treatment (a two-level /
    * hierarchical coarse quantizer). Train on a hash sample sized by
    * [[trainSampleModFor]], never the full corpus.
    */
  def ivfCandidates(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, numCells: Int = 16,
                    nprobe: Int = 4, sampleMod: Int = 1): DataFrame = {
    val (cents, cells) =
      ivfBuild(corpus, idCol, vecCol, numCells, iters = 1, sampleMod)
    ivfProbe(queries, idCol, vecCol, cents, cells, nprobe)
  }

  // ------------- Product Quantization (Jégou et al. 2011) -------------
  // "Product Quantization for Nearest Neighbor Search", TPAMI 2011: the
  // memory-scale ANN trick IVF doesn't give you. Split the D-dim space
  // into m subspaces, run k-means in each independently, and store a
  // vector as m SMALL CODES (m bytes at k=256) instead of D floats —
  // a 64-dim float corpus compresses 32× at m=8/k=16. Queries score via
  // ADC (asymmetric distance computation): per query, an m×k lookup
  // table of subspace dot products is built once against the codebooks,
  // and every corpus vector's approximate dot is m integer table
  // lookups — no float vector is ever read at query time. At 100 TB
  // this is the difference between "the index fits in executor memory"
  // and "it doesn't".

  /** L2-nearest codeword index within ONE subspace codebook:
    * `argmin ‖x − c‖² = argmax (x·c − ‖c‖²/2)`. Ties break toward the
    * LARGER code — deterministic, mirrored nowhere else because codes
    * are always consumed from the materialized encode output, never
    * re-derived. A loop over the broadcast-referenced codebook
    * ([[graft.functions.VectorExprs.PqNearestCode]]). The earlier
    * unrolled `array_max(array(struct(dot − ½‖cw‖², code) × k))`
    * spelling emitted O(k) dot blocks per subspace into the consuming
    * stage's single codegen method; across m subspaces that crossed
    * janino's 64 KB method limit and silently demoted the whole
    * encode/assign stage to interpreted execution. Scores and
    * higher-code tie-breaks are bit-identical (see the expression's
    * scaladoc).
    */
  def pqCode(cbs: Array[Array[Seq[Float]]])(sub: Column, j: Column): Column =
    graft.functions.VectorExprs.pq_nearest_code(sub, j, cbs)

  /** Train the m per-subspace codebooks: Lloyd's k-means under L2 on
    * each `dim/m`-wide slice, deterministic and seed-free exactly like
    * [[trainCentroids]] (hash-stratified init, offset by the subspace
    * index so subspaces draw different strata; per-cell elementwise
    * mean via [[graft.functions.VectorAgg]]; components rounded to 6 dp
    * so partial-sum order can't leak into the model). Empty codes drop
    * out (the standard Lloyd degeneracy), so a codebook may hold fewer
    * than `k` codewords.
    *
    * Scale shape: m × iters sample-sized jobs — train on a hash sample
    * via `sampleMod` ([[trainSampleModFor]]), never the corpus; each
    * assignment pass is a map-only Project against ≤ k broadcast
    * codeword literals, each re-estimation shuffles one
    * (subDim+1)-double buffer per (code × partition). Driver state is
    * m·k·subDim = D·k floats — model, not data.
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, iters: Int = 2, sampleMod: Int = 1)
      : Array[Array[Seq[Float]]] = {
    val dim = vecDim(corpus, vecCol)
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val subDim = dim / m
    val train = if (sampleMod <= 1) corpus
      else corpus.where(
        pmod(xxhash64(col(idCol), lit(13)), lit(sampleMod)) === 0)
    // ALL m subspaces train in the SAME jobs: one exploded
    // (id, subspace, subvector) frame drives one init pick and one
    // (subspace, code)-keyed mean aggregation per Lloyd round — 1+iters
    // Spark jobs total instead of m·(1+iters). At 8 subspaces that's
    // 8× less job-scheduling overhead for identical per-subspace math
    // (each subspace's rows are disjoint groups of the same shuffle).
    val subs = train
      .select(col(idCol), posexplode(array((0 until m).map(j =>
        slice(col(vecCol), j * subDim + 1, subDim)): _*)))
      .select(col(idCol), col("pos").as("__j"), col("col").as("__sv"))
    val pickW = Window.partitionBy(col("__j"), col("__stratum"))
      .orderBy(col("__pick"), col(idCol))
    val initRows = subs
      .withColumn("__stratum", pmod(xxhash64(col(idCol), col("__j")), lit(k)))
      .withColumn("__pick", xxhash64(col(idCol), col("__j") + 7))
      .withColumn("__rn", row_number().over(pickW))
      .where(col("__rn") === 1)
      .orderBy(col("__j"), col("__stratum")) // stable code numbering
      .select(col("__j"), col("__sv")).collect()
    var cbs: Array[Array[Seq[Float]]] = (0 until m).map(j =>
      initRows.filter(_.getInt(0) == j).map(_.getSeq[Float](1))).toArray
    val mean = graft.functions.VectorAgg.vecMean(subDim)
    for (_ <- 1 to iters) {
      val codeCol = pqCode(cbs)(col("__sv"), col("__j"))
      val rows = subs.select(col("__j"), codeCol.as("__c"), col("__sv"))
        .groupBy(col("__j"), col("__c")).agg(mean(col("__sv")).as("m"))
        .orderBy(col("__j"), col("__c")) // stable code numbering
        .collect()
      cbs = (0 until m).map(j =>
        rows.filter(_.getInt(0) == j).map(r =>
          r.getSeq[Double](2).map(x =>
            math.rint(x * 1e6).toFloat / 1e6f): Seq[Float])).toArray
    }
    cbs
  }

  /** ENCODE: every corpus vector → m `(id, subspace, code)` rows — the
    * long form, so the ADC join and the DuckDB oracle consume the same
    * shape. One map-only pass (the codebook rides along as a
    * task-broadcast model reference inside a single codegen'd loop
    * expression — [[graft.functions.VectorExprs.PqCodes]]); at
    * k ≤ 256 a code is one byte of information, the 32×-compression
    * claim. The one-time n·k·D assignment cost amortizes over all
    * queries, the [[ivfBuild]] argument.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Seq[Float]]]): DataFrame = {
    val codes = graft.functions.VectorExprs.pq_codes(col(vecCol), codebooks)
    corpus.select(col(idCol), posexplode(codes))
      .select(col(idCol), col("pos").cast("int").as("subspace"),
        col("col").as("code"))
  }

  /** Spark-`round(x,0)`-compatible micro-unit rounding (HALF_UP on the
    * exact binary value — what DuckDB `round(x*1e6)` computes too).
    */
  private def microHalfUp(d: Double): Long =
    BigDecimal(d * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** ADC top-k: per query, build the m×k lookup table of subspace dot
    * products against the codebooks (driver-side — |Q|·m·k micro-unit
    * longs, bounded model state), broadcast it as a table, and score
    * every encoded vector with ONE equi-join + a (query, id) hash agg
    * summing m integer lookups. Estimates are exact micro-unit sums —
    * bit-identical whatever the partitioning, and re-derivable by any
    * engine from the materialized codebooks + codes (round each
    * subspace dot to 1e-6, integer-sum — see the `sim_topk_pq`
    * oracle). Per-query cost is n·m lookups against an n·m-row code
    * table: the PQ promise that query time never touches a float
    * vector.
    */
  def pqAdcTopK(queries: DataFrame, codes: DataFrame,
                codebooks: Array[Array[Seq[Float]]], idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val subDim = codebooks.head.head.length
    val lut = for {
      r <- queries.select(col(idCol), col(vecCol)).collect().toSeq
      (cb, j) <- codebooks.zipWithIndex.toSeq
      (cw, c) <- cb.zipWithIndex.toSeq
    } yield {
      val qv = r.getSeq[Float](1)
      val d = (0 until subDim)
        .map(t => qv(j * subDim + t).toDouble * cw(t).toDouble).sum
      (r.getLong(0), j, c, microHalfUp(d))
    }
    val lutDf = lut.toDF("query_id", "subspace", "code", "__micro")
    val est = codes
      .join(broadcast(lutDf), Seq("subspace", "code"))
      .where(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol).as("neighbor_id"))
      .agg(sum(col("__micro")).as("__est_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__est_micro").desc, col("neighbor_id").asc)
    est.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__est_micro").cast("double") / 1e6, 6).as("est_dot"))
  }

  /** Exact DOT-product top-k — the brute-force truth for the PQ path,
    * which approximates dot, not cosine (a norm-varying corpus ranks
    * differently under the two).
    */
  def bruteForceTopKDot(queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** ADC-score a GIVEN candidate pair list (query_id, neighbor_id)
    * instead of the whole code table — the building block the IVF×PQ
    * composition needs: the coarse index decides WHO gets scored, the
    * code table decides HOW CHEAPLY. One join of the pair list onto the
    * m-row-per-vector codes, one broadcast lookup-table join, one
    * integer-sum agg; float vectors still untouched.
    */
  def pqAdcScorePairs(pairs: DataFrame, queries: DataFrame,
                      codes: DataFrame,
                      codebooks: Array[Array[Seq[Float]]], idCol: String,
                      vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val subDim = codebooks.head.head.length
    val lut = for {
      r <- queries.select(col(idCol), col(vecCol)).collect().toSeq
      (cb, j) <- codebooks.zipWithIndex.toSeq
      (cw, c) <- cb.zipWithIndex.toSeq
    } yield {
      val qv = r.getSeq[Float](1)
      val d = (0 until subDim)
        .map(t => qv(j * subDim + t).toDouble * cw(t).toDouble).sum
      (r.getLong(0), j, c, microHalfUp(d))
    }
    val lutDf = lut.toDF("query_id", "subspace", "code", "__micro")
    pairs.select(col("query_id"), col("neighbor_id"))
      .join(codes.select(col(idCol).as("neighbor_id"), col("subspace"),
        col("code")), Seq("neighbor_id"))
      .join(broadcast(lutDf), Seq("query_id", "subspace", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__micro")).as("__est_micro"))
  }

  /** IVF × PQ composition — the FAISS-style "IVFADC" retrieval stack,
    * here WITHOUT residual encoding (codes quantize the raw vectors;
    * quantizing per-cell residuals is the published refinement and
    * would re-use this exact plumbing with per-(query, cell) lookup
    * tables): probe `nprobe` coarse cells for the candidate set
    * (~nprobe/numCells of the corpus), ADC-score ONLY those candidates
    * from the code table, keep the `shortlist` best per query, exact-
    * dot re-rank the shortlist. Per-query cost:
    * numCells·D (probe) + |cands|·m (lookups) + shortlist·D (re-rank)
    * — each stage shrinks the set the next touches, the composition
    * argument at 100 TB.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, cands: DataFrame,
                codes: DataFrame, codebooks: Array[Array[Seq[Float]]],
                idCol: String, vecCol: String, k: Int,
                shortlist: Int): DataFrame = {
    val est = pqAdcScorePairs(cands, queries, codes, codebooks, idCol, vecCol)
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("__est_micro").desc, col("neighbor_id").asc)
    val short = est.withColumn("__rk", row_number().over(ws))
      .where(col("__rk") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = short.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .withColumn("score", dot(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** RESIDUAL vectors for the IVFADC refinement (Jégou et al. 2011
    * §IV): `x − c_cell(x)` — what the PQ codebooks quantize in the
    * published form, because residuals concentrate around zero and
    * quantize with far less error than raw vectors. The per-row
    * centroid lookup is `element_at` into the broadcast centroid
    * matrix (no join); subtraction is one `zip_with`. Returns
    * (idCol, cell, __resid).
    */
  def residuals(corpus: DataFrame, idCol: String, vecCol: String,
                cents: Array[(Seq[Float], Double)]): DataFrame = {
    val centArr = typedLit(cents.map(_._1).toSeq)
    val cell = cellFor(cents)(col(vecCol))
    corpus.select(col(idCol), cell.as("cell"),
      zip_with(col(vecCol), element_at(centArr, cell + 1),
        (x, c) => x - c).as("__resid"))
  }

  /** Residual-IVFPQ ADC top-k — the full published IVFADC estimate:
    * `q·x ≈ q·c_cell(x) + Σ_j lut_j[code_j(residual(x))]`. The coarse
    * term is a per-(query, cell) CONSTANT (|Q|·numCells micro-longs,
    * driver-built like the lookup tables); the residual term reuses
    * the global-codebook ADC machinery unchanged, because the
    * codebooks are trained on residuals across all cells, so the
    * lookup tables stay per-query, not per-(query, cell). Candidates
    * come from the caller (the IVF probe); output mirrors
    * [[ivfPqTopK]] (exact-dot re-rank of the shortlist).
    */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame,
                        cands: DataFrame, cells: DataFrame,
                        codes: DataFrame,
                        cents: Array[(Seq[Float], Double)],
                        codebooks: Array[Array[Seq[Float]]],
                        idCol: String, vecCol: String, k: Int,
                        shortlist: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries.select(col(idCol), col(vecCol)).collect().toSeq
    val qc = for {
      r <- qRows
      (cw, cell) <- cents.map(_._1).zipWithIndex.toSeq
    } yield {
      val qv = r.getSeq[Float](1)
      val d = qv.indices.map(t => qv(t).toDouble * cw(t).toDouble).sum
      (r.getLong(0), cell, microHalfUp(d))
    }
    val qcDf = qc.toDF("query_id", "cell", "__qc_micro")
    val resid = pqAdcScorePairs(cands, queries, codes, codebooks, idCol,
      vecCol)
    val est = resid
      .join(cells.select(col(idCol).as("neighbor_id"), col("cell")),
        Seq("neighbor_id"))
      .join(broadcast(qcDf), Seq("query_id", "cell"))
      .select(col("query_id"), col("neighbor_id"),
        (col("__est_micro") + col("__qc_micro")).as("__est_micro"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("__est_micro").desc, col("neighbor_id").asc)
    val short = est.withColumn("__rk", row_number().over(ws))
      .where(col("__rk") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = short.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .withColumn("score", dot(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** The production PQ shape: ADC SHORTLIST (cheap, code-table-only)
    * → exact-dot re-rank of the `shortlist` winners (float vectors
    * touched for shortlist·|Q| rows only — the two-stage retrieval
    * every PQ deployment runs, because raw ADC ranking carries the
    * quantization error `sim_topk_pq` materializes). Re-rank cost is
    * query-set-sized, independent of the corpus.
    */
  def pqShortlistRerank(queries: DataFrame, codes: DataFrame,
                        codebooks: Array[Array[Seq[Float]]],
                        corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int, shortlist: Int): DataFrame = {
    val cands = pqAdcTopK(queries, codes, codebooks, idCol, vecCol, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = cands.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .withColumn("score", dot(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** MMR diversified re-rank (Carbonell & Goldstein 1998): greedily
    * pick k of each query's candidates maximizing
    * `λ·rel(c) − (1−λ)·max_{p∈picked} sim(c, p)` — the
    * redundancy-penalized top-k retrieval stacks bolt onto ANN so ten
    * near-identical passages don't fill the context window.
    *
    * Input: a candidate table `(query_id, cand_id, rel, vec)` — the
    * output of an upstream retriever (top-candK per query, rel rounded
    * to 6 dp), vectors as double arrays. The greedy loop is inherently
    * sequential IN k but embarrassingly parallel ACROSS queries, so it
    * runs inside `flatMapGroups` — one task per query, candK² local
    * cosines, zero driver involvement. At 100 TB the corpus-sized work
    * happened upstream (ANN under its own scale story); this stage
    * touches candK·|Q| rows only.
    *
    * Determinism: pairwise cosines accumulate left-to-right in double
    * (the [[dot]] semantics) and round to 6 dp via
    * `BigDecimal.valueOf` + HALF_UP — i.e. Spark's own `round()`
    * semantics (shortest-decimal-string ties), which DuckDB's
    * `round(x, 6)` matches bit-for-bit (a naive
    * `floor(x·1e6 + 0.5)/1e6` does NOT: it misrounds doubles like
    * 0.20303949999999998 whose shortest decimal form is a tie);
    * candidates sort by id before the loop so iteration order is
    * layout-free; ties on the MMR objective break by cand_id asc.
    */
  def mmrRerank(cands: DataFrame, k: Int, lambda: Double): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    require(k > 0 && lambda >= 0 && lambda <= 1, "need k > 0, λ in [0,1]")
    val ds = cands.select(col("query_id").cast("long"),
        col("cand_id").cast("long"), col("rel").cast("double"),
        col("vec").cast("array<double>"))
      .as[(Long, Long, Double, Array[Double])]
    val lam = lambda
    ds.groupByKey(_._1).flatMapGroups {
      (qid: Long, it: Iterator[(Long, Long, Double, Array[Double])]) =>
        val cs = it.toArray.sortBy(_._2)
        val n = cs.length
        def dotv(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        def r6(x: Double): Double =
          BigDecimal.decimal(x)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val nrm = cs.map(c => math.sqrt(dotv(c._4, c._4)))
        val sim = Array.tabulate(n, n)((i, j) =>
          if (i == j) 0.0
          else r6(dotv(cs(i)._4, cs(j)._4) / (nrm(i) * nrm(j))))
        val picked = Array.fill(n)(false)
        val msp = Array.fill(n)(Double.NegativeInfinity)
        val out = Array.newBuilder[(Long, Int, Long, Double)]
        var step = 1
        val kk = math.min(k, n)
        while (step <= kk) {
          var best = -1; var bestScore = 0.0
          var i = 0
          while (i < n) {
            if (!picked(i)) {
              val score =
                if (step == 1) cs(i)._3
                else lam * cs(i)._3 - (1.0 - lam) * msp(i)
              if (best < 0 || score > bestScore ||
                  (score == bestScore && cs(i)._2 < cs(best)._2)) {
                best = i; bestScore = score
              }
            }
            i += 1
          }
          out += ((qid, step, cs(best)._2, r6(bestScore)))
          picked(best) = true
          var j = 0
          while (j < n) {
            if (!picked(j)) msp(j) = math.max(msp(j), sim(j)(best))
            j += 1
          }
          step += 1
        }
        out.result().iterator
    }.toDF("query_id", "step", "cand_id", "mmr")
  }

  /** Cluster-quality evaluation: SIMPLIFIED silhouette (Hruschka et
    * al. 2004 — the centroid-based form sklearn documents as the
    * tractable alternative to pairwise silhouette) over a trained
    * centroid model. Per point: `a` = cosine distance to its own
    * (nearest) centroid, `b` = distance to the runner-up centroid,
    * `s = (b − a) / max(a, b)`; the output is per-cell count + mean s.
    * This is the gate a curation pipeline runs after clustering
    * (SemDeDup / IVF build) to decide whether k is sane before
    * committing to a partition layout.
    *
    * Scale shape: ONE map-only pass — all k per-centroid cosines are
    * spelled in a single projection (fine for the ≤64-cell regime; see
    * [[nearestCells]]'s scaladoc for the larger-k path), the point
    * norm computed once, then a k-row hash agg. Pairwise silhouette is
    * O(n²) and is exactly what this form exists to avoid; the centroid
    * model is driver state (k·dim floats), never a shuffled side.
    *
    * Determinism: own/runner-up selection on unrounded sims with the
    * assignment tie-break (sim desc, cell desc) — the proven
    * engine-exact ordering from the k-means assignment oracle; sims
    * round to 6 dp before a/b, and s folds as micro-unit longs so the
    * per-cell mean is FP-order-invariant.
    */
  def clusterSilhouette(points: DataFrame, idCol: String, vecCol: String,
                        cents: Array[(Seq[Float], Double)]): DataFrame = {
    require(cents.length >= 2, "silhouette needs >= 2 clusters")
    val sims = cents.zipWithIndex.map { case ((cv, cn), i) =>
      struct(
        (dot(col(vecCol), typedlit(cv)) / (col("__pn") * lit(cn)))
          .as("sim"),
        lit(i).as("cell"))
    }
    val cmp: (Column, Column) => Column = (l, r) =>
      when(l("sim") > r("sim"), -1).when(l("sim") < r("sim"), 1)
        .when(l("cell") > r("cell"), -1).when(l("cell") < r("cell"), 1)
        .otherwise(0)
    val top = points
      .withColumn("__pn", l2Norm(col(vecCol)))
      .select(col(idCol), array_sort(array(sims: _*), cmp).as("__s"))
      .select(col(idCol),
        element_at(col("__s"), 1).as("__own"),
        element_at(col("__s"), 2).as("__next"))
    val a = lit(1.0) - round(col("__own")("sim"), 6)
    val b = lit(1.0) - round(col("__next")("sim"), 6)
    val sil = when(greatest(a, b) === 0, lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    top
      .select(col("__own")("cell").as("cell"),
        round(sil * 1e6).cast("long").as("__sm"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        // Σmicro/(10⁶·n) is the census boundary class — boundary-exact
        // integer rounding (signed: silhouettes can be negative)
        graft.text.TextAnalysis.exactRound6Ratio(sum(col("__sm")),
          lit(1000000L) * count(lit(1))).as("mean_silhouette"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) — the
    * hybrid-retrieval combiner: given N independent rankings of the
    * same id space (lexical BM25, dense cosine, ...), score each id as
    * Σ 1/(kConst + rank_r) over the lists it appears in and keep the
    * global top `topK`. RRF is the standard way modern retrieval
    * stacks fuse sparse and dense signals without score calibration —
    * only ranks cross the boundary, so wildly different score scales
    * (BM25 vs cosine) compose safely.
    *
    * Determinism: each contribution is round(1e6/(kConst+rank)) summed
    * as a long — integer-exact on any engine, no FP-order sensitivity.
    * Ties break on id asc.
    *
    * Scale shape: the inputs are already top-k lists (each ≤ k_r rows
    * — the upstream operators did the corpus-sized work under their
    * own scale stories), so the fusion itself is a union + hash-agg
    * over Σk_r rows and a bounded final sort: corpus-size-independent.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              topK: Int, kConst: Int = 60): DataFrame = {
    require(rankings.nonEmpty && topK > 0 && kConst > 0,
      "need rankings, topK > 0, kConst > 0")
    val contribs = rankings.map(r =>
      r.select(col(idCol).cast("long").as(idCol),
        round(lit(1e6) / (lit(kConst) + col(rankCol).cast("int")))
          .cast("long").as("__c")))
      .reduce(_ unionByName _)
    val fused = contribs.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_lists"),
        sum(col("__c")).as("rrf_micro"))
    val w = Window.orderBy(col("rrf_micro").desc, col(idCol).asc)
    fused.orderBy(col("rrf_micro").desc, col(idCol).asc).limit(topK)
      .select(col(idCol), col("n_lists"), col("rrf_micro"),
        row_number().over(w).cast("int").as("rank"))
  }

  /** Label-separation report over a labeled embedding corpus — the
    * "are my classes actually separable in this embedding space"
    * diagnostic an embedding/eval pipeline runs before training on
    * the labels: per label pair, the cosine between class CENTROIDS
    * (between-class geometry) alongside each class's mean distance of
    * members to their own centroid (within-class spread) — the two
    * ingredients of a Fisher-style separation ratio, reported raw so
    * the consumer picks the criterion.
    *
    * Determinism: embeddings go to micro-units; centroids are
    * `round(Σx/n)` on exact long sums; every per-row distance rounds
    * to an integer micro before the class average, and the centroid
    * cosine is exact-integer dot/norms with two IEEE sqrts and one
    * division at the end (6 dp). No FP sum ever reorders.
    *
    * Scale shape: one explode + grouped agg to the (labels × dims)
    * centroid table (model-sized), broadcast back for the within pass
    * (map-only + one key agg); the pairwise-centroid stage is
    * label²×dims — driver-trivial at any corpus size.
    */
  def labelSeparation(emb: DataFrame, idCol: String, vecCol: String,
                      labelCol: String): DataFrame = {
    val x = emb.select(col(labelCol).cast("int").as("label"), col(idCol),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("label"), col(idCol), col("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("__xm"))
    val cent = x.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("__n"), sum(col("__xm")).as("__s1"))
      .select(col("label"), col("dim"),
        round(col("__s1").cast("double") / col("__n")).cast("long")
          .as("__cm"))
    val within = x
      .join(broadcast(cent), Seq("label", "dim"))
      .withColumn("__d2",
        (col("__xm") - col("__cm")) * (col("__xm") - col("__cm")))
      .groupBy(col("label"), col(idCol))
      .agg(sum(col("__d2")).as("__ss"))
      .select(col("label"),
        round(sqrt(col("__ss").cast("double"))).cast("long").as("__dist"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("__dist")).cast("double") / count(lit(1)))
          .cast("long").as("mean_within_micro"))
    val ca = cent.select(col("label").as("label_a"), col("dim"),
      col("__cm").as("__ca"))
    val cb = cent.select(col("label").as("label_b"), col("dim"),
      col("__cm").as("__cb"))
    val pairs = ca.join(cb, "dim")
      .where(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("__ca") * col("__cb")).as("__dot"),
        sum(col("__ca") * col("__ca")).as("__na2"),
        sum(col("__cb") * col("__cb")).as("__nb2"))
      .select(col("label_a"), col("label_b"),
        round(col("__dot").cast("double") /
          (sqrt(col("__na2").cast("double")) *
            sqrt(col("__nb2").cast("double"))), 6).as("centroid_cosine"))
    pairs
      .join(broadcast(within.select(col("label").as("label_a"),
        col("mean_within_micro").as("within_a_micro"))), "label_a")
      .join(broadcast(within.select(col("label").as("label_b"),
        col("mean_within_micro").as("within_b_micro"))), "label_b")
      .select(col("label_a"), col("label_b"), col("centroid_cosine"),
        col("within_a_micro"), col("within_b_micro"))
  }

  /** Exact hi/lo split sum of a per-row long product — the codegen-
    * friendly replacement for `sum(p.cast(decimal(38,0)))` on the n·d²
    * moment streams. ed71c05 moved these sums to decimal(38,0) to kill
    * a probe-caught n² long overflow; that fix was exact but paid a
    * per-row `Decimal` allocation through the hottest self-join in the
    * registry (bench r9: sim_dim_correlation 2.75× its anchor). The
    * split keeps the per-row work in plain long arithmetic instead.
    *
    * Identity (two's complement, arithmetic shift — exact for negative
    * products too): `p = (p >> 31)·2³¹ + (p & (2³¹−1))`, hence
    * `Σp = 2³¹·Σhi + Σlo` EXACTLY, with both partial sums plain longs
    * that whole-stage codegen keeps in registers. Overflow bounds per
    * aggregation group of n rows: Σlo ∈ [0, n·2³¹) → safe for
    * n < 2³² ≈ 4.3·10⁹ rows; |Σhi| ≤ n·max|p|/2³¹ → at micro-unit
    * embedding scale (|x| ≤ ~2·10⁶ ⇒ |p| ≤ 4·10¹²) safe to n ≈ 5·10¹⁵.
    *
    * The Σlo bound is PER AGGREGATION GROUP — and a 100 TB embedding
    * corpus (~10¹¹ rows) exceeds it, since every row lands in the same
    * d² moment cells. So every caller aggregates in TWO stages: group
    * by the moment key PLUS [[splitStratum]], sum hi/lo in long space
    * per stratum (bounded at ~n/S rows — safe while n < S·2³² rows,
    * with enormous skew tolerance since the id hash spreads rows
    * uniformly), then `sum(splitTotal(hi, lo))` across the strata in
    * decimal — exact, and the decimal arithmetic touches only d²·S
    * intermediate rows + d² outputs, never the n·d² input stream.
    * SimilaritySpec pins bit-equality against the decimal path on a
    * fixture whose plain-long sum provably overflows, at strata 1 AND
    * 1024.
    */
  private[graft] val SplitShift = 31
  private[graft] val SplitBase = 1L << SplitShift

  /** Stratum key for the two-stage split-sum aggregation: `strata = 1`
    * (the default everywhere) folds to a constant — same group count
    * and same speed as an unstratified aggregate, with the trivial
    * recombination stage kept so the plan shape never changes (and at
    * this strata=1 default the recombination is exchange-FREE: the
    * literal __st is folded out of the stage-1 grouping by Catalyst's
    * RemoveLiteralFromGroupExpressions, so stage 1's hash partitioning
    * on (key…) alone satisfies the stage-2 grouping and both aggregates
    * share one shuffle — plan-audited via Explain on
    * sim_dim_correlation. With REAL strata>1, HashPartitioning(key…,
    * __st) does NOT satisfy ClusteredDistribution(key…), so stage 2
    * pays one extra exchange — small, over only d²·S rows). At
    * corpus scale pass `strata ≈ n / 2³¹` (e.g. 64 covers ~2.7·10¹¹
    * rows): the measured cost of real strata at SMALL n is a group-
    * count explosion (S× more groups defeats map-side combine when
    * groups hold only a handful of rows — probe-caught: S=1024 took
    * sim_dim_correlation from 1.7 s back to 5.5 s at sf0.1), while at
    * the row counts that NEED strata each stratum still holds millions
    * of rows and partial aggregation keeps working.
    */
  private[graft] def splitStratum(id: Column, strata: Int): Column =
    if (strata > 1) pmod(xxhash64(id), lit(strata.toLong)) else lit(0L)
  private[graft] def splitSumHi(p: Column): Column =
    sum(shiftright(p, SplitShift))
  private[graft] def splitSumLo(p: Column): Column =
    sum(p.bitwiseAND(lit(SplitBase - 1)))
  private[graft] def splitTotal(hi: Column, lo: Column): Column =
    (hi.cast("decimal(38,0)") * lit(SplitBase) +
      lo.cast("decimal(38,0)")).cast("decimal(38,0)")

  /** Top-|correlation| embedding-dimension pairs — the redundancy
    * profile of a feature space: strongly correlated dimensions mean
    * wasted index width and motivate whitening/PCA before ANN (the
    * diagnostic behind [[standardizeEmbeddings]]'s "no dimension
    * should dominate" and PQ's subspace-independence assumption).
    *
    * Pearson r per dim pair from the five integer moment sums,
    * fractions cleared exactly as in [[standardizeEmbeddings]]:
    * r = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²) · √(n·Σy²−(Σy)²)) —
    * micro-unit longs inside, two IEEE sqrts + one division at the
    * end, 6 dp, rank by |r| with (dim_a, dim_b) tie-break.
    *
    * Scale shape: ONE self-join on the row id (64× amplification of
    * the exploded stream — the honest cost of exact pairwise moments;
    * d² partial-agg cells, corpus-size-independent output), then a
    * bounded-heap top-k. At 100 TB run it on a row sample — the
    * moments are sums, so any uniform sample estimates them.
    */
  def dimCorrelations(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int, strata: Int = 1): DataFrame = {
    require(k >= 1 && strata >= 1)
    val x = emb.select(col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("__id"), col("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("__xm"))
    val a = x.select(col("__id"), col("dim").as("dim_a"),
      col("__xm").as("__xa"))
    val b = x.select(col("__id"), col("dim").as("dim_b"),
      col("__xm").as("__xb"))
    // second moments via the exact stratified hi/lo long split
    // ([[splitSumHi]]): Σxy overflows a long past ~20k rows at
    // embedding scale (probe-caught bound, see topPrincipalDirection),
    // but the split partials stay plain codegen'd longs through the
    // n·d² self-join stream; the id-hash stratum key bounds every
    // long-space group at n/S rows, and decimal arithmetic runs only
    // on the d²·S stratum rows + d² OUTPUT groups below
    val m = a.join(b, "__id").where(col("dim_a") < col("dim_b"))
      .groupBy(col("dim_a"), col("dim_b"),
        splitStratum(col("__id"), strata).as("__st"))
      .agg(count(lit(1)).as("n0"),
        sum(col("__xa")).as("sx0"), sum(col("__xb")).as("sy0"),
        splitSumHi(col("__xa") * col("__xa")).as("xxh"),
        splitSumLo(col("__xa") * col("__xa")).as("xxl"),
        splitSumHi(col("__xb") * col("__xb")).as("yyh"),
        splitSumLo(col("__xb") * col("__xb")).as("yyl"),
        splitSumHi(col("__xa") * col("__xb")).as("xyh"),
        splitSumLo(col("__xa") * col("__xb")).as("xyl"))
      .groupBy(col("dim_a"), col("dim_b"))
      .agg(sum(col("n0")).as("__n"),
        sum(col("sx0")).as("__sx"), sum(col("sy0")).as("__sy"),
        sum(splitTotal(col("xxh"), col("xxl"))).cast("decimal(38,0)")
          .as("__sxx"),
        sum(splitTotal(col("yyh"), col("yyl"))).cast("decimal(38,0)")
          .as("__syy"),
        sum(splitTotal(col("xyh"), col("xyl"))).cast("decimal(38,0)")
          .as("__sxy"))
    val num = (col("__n") * col("__sxy") -
      col("__sx").cast("decimal(38,0)") * col("__sy")).cast("double")
    val vx = (col("__n") * col("__sxx") -
      col("__sx").cast("decimal(38,0)") * col("__sx")).cast("double")
    val vy = (col("__n") * col("__syy") -
      col("__sy").cast("decimal(38,0)") * col("__sy")).cast("double")
    val scored = m.select(col("dim_a"), col("dim_b"),
        when(vx > 0 && vy > 0,
          round(num / (sqrt(vx) * sqrt(vy)), 6)).as("corr"))
      .where(col("corr").isNotNull)
      .withColumn("abs_corr", abs(col("corr")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("abs_corr").desc, col("dim_a").asc, col("dim_b").asc)
    scored
      .orderBy(col("abs_corr").desc, col("dim_a").asc, col("dim_b").asc)
      .limit(k)
      .select(col("dim_a"), col("dim_b"), col("corr"),
        row_number().over(w).cast("int").as("rank"))
  }

  /** Round-half-away-from-zero to a long — the semantics BOTH Spark's
    * `round()` (BigDecimal HALF_UP) and DuckDB's `round()` use, which
    * JVM `math.round` does NOT share on negative halves (it rounds
    * toward +∞). Driver-side model math that an oracle replays must
    * use this, never `math.round`.
    */
  private def roundAway(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Top principal direction of the embedding covariance by FIXED-
    * COUNT power iteration (the von Mises iteration — the 2-line PCA
    * that needs no eigensolver library): the "what single axis carries
    * the most variance" diagnostic behind whitening and PQ subspace
    * rotation decisions.
    *
    * Split of labour: the CORPUS-sized work is one exact moment pass —
    * per-dim sums and the full d×d micro-unit product-moment matrix
    * (partial-agg'd; d² cells, corpus-size-independent) — after which
    * the iteration runs on the driver over model-sized state (d² longs,
    * the k-means-centroid precedent). Every driver step mirrors an
    * engine-replayable operation: integer mat-vec sums (exact longs),
    * pivot normalisation by the max-|component| entry (ties → lowest
    * dim; also pins the sign: the pivot component is always +10⁶),
    * and [[roundAway]] rounding of IEEE double divisions — so the
    * unrolled SQL twin reproduces every iterate BIT-FOR-BIT, which is
    * what makes an iterative eigensolver oracle-checkable at all.
    * The Rayleigh quotient λ uses sign·(|v| div 10⁴) down-scaling
    * (explicitly sign-symmetric: Spark's `div` truncates toward zero
    * while DuckDB's `//` floors — they disagree on negatives).
    *
    * Returns one row per dimension: (dim, loading_micro,
    * lambda_micro2) with the λ column constant (variance along the
    * direction, in micro² units).
    */
  def topPrincipalDirection(emb: DataFrame, idCol: String,
                            vecCol: String, iters: Int = 8,
                            strata: Int = 1): DataFrame = {
    require(iters >= 1 && strata >= 1)
    val spark = emb.sparkSession
    val x = emb.select(col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("__id"), col("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("__xm"))
    val d1 = x.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("__xm")).as("s1"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val d = d1.size
    val n = d1.values.head._1
    // product-moment sums via the exact stratified hi/lo long split:
    // Σxy overflows a long past ~5k rows at embedding scale — this
    // probe-caught bound is why the cleared fraction is BigInt on the
    // driver (the SQL twin is exact the same way: DuckDB sums into
    // HUGEINT). r19 shape: the old row-pair self-join streamed n·d²
    // rows through a struct-keyed hash agg; the split-lane vector
    // aggregator ([[graft.functions.VectorAgg.vecSplitProd]] —
    // elementwise the IDENTICAL `(p >> 31, p & (2³¹−1))` split, so the
    // BigInt recombination below is bit-equal to the decimal
    // splitTotal path) accumulates a whole covariance ROW per input
    // row instead: one map-side-combined pass over the n·d exploded
    // stream, buffers of 2d longs per (dim × stratum), nothing
    // row-scaled shuffled. The id-hash stratum key bounds every
    // lo-lane group at ~n/S rows exactly as before.
    val xv = emb.select(col(idCol).as("__id"),
      transform(col(vecCol),
        v => round(v.cast("double") * 1e6).cast("long")).as("__vm"))
    val prod = graft.functions.VectorAgg.vecSplitProd(d)
    val pm = xv
      .select(col("__id"), col("__vm"),
        posexplode(col("__vm")).as(Seq("i", "xi")))
      .groupBy(col("i"), splitStratum(col("__id"), strata).as("__st"))
      .agg(prod(col("xi"), col("__vm")).as("s"))
      .select(col("i"), col("s._1").as("hi"), col("s._2").as("lo"))
      .collect()
    val sxy = Array.fill(d, d)(BigInt(0))
    pm.foreach { r =>
      val i = r.getInt(0)
      val hi = r.getSeq[Long](1)
      val lo = r.getSeq[Long](2)
      var j = 0
      while (j < d) {
        sxy(i)(j) += (BigInt(hi(j)) << SplitShift) + BigInt(lo(j))
        j += 1
      }
    }
    val c = Array.ofDim[Long](d, d)
    for (i <- 0 until d; j <- 0 until d) {
      val cleared = BigInt(n) * sxy(i)(j) -
        BigInt(d1(i)._2) * BigInt(d1(j)._2)
      c(i)(j) = roundAway(cleared.toDouble / (n.toDouble * n.toDouble))
    }
    var v = Array.fill(d)(1000000L)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => c(i)(j) * v(j)).sum)
      val pivot = (0 until d).maxBy(i => (math.abs(w(i)), -i))
      v = w.map(wi => roundAway(wi.toDouble * 1e6 / w(pivot)))
    }
    val u = v.map(vi => math.signum(vi) * (math.abs(vi) / 10000L))
    val num = (for (i <- 0 until d; j <- 0 until d)
      yield u(i) * c(i)(j) * u(j)).sum
    val den = u.map(ui => ui * ui).sum
    val lambda = roundAway(num.toDouble / den.toDouble)
    import spark.implicits._
    v.zipWithIndex.map { case (vi, i) => (i, vi, lambda) }.toSeq
      .toDF("dim", "loading_micro", "lambda_micro2")
  }

  /** Per-dimension corpus standardization (feature whitening) — the
    * z-score transform an embedding pipeline applies before indexing
    * or distance thresholds so no dimension dominates by scale. The
    * published preprocessing step of SemDeDup-style dedup and of
    * whitened-PCA retrieval stacks.
    *
    * Determinism: FP sums reorder under partitioning, so each float
    * first rounds to an integer MICRO-unit; the per-dim first and
    * second moments are then exact long sums, and the z-score clears
    * its fractions to  z = (n·x − Σx) / √(n·Σx² − (Σx)²)  — exact
    * integers inside, one IEEE sqrt (correctly rounded on every
    * platform, unlike ln) and one division at the end, rounded to
    * 4 dp. A zero-variance dimension standardizes to NULL rather than
    * a division blow-up. The second moments sum as decimal(38,0) —
    * n·Σx² grows as n² and would overflow a long past ~20k rows at
    * embedding scale (a bound the replica scale probes caught:
    * BASELINE_HISTORY.md "Scale probe (events ×32 …)"), while decimal
    * keeps the cleared fraction exact to 10³⁸.
    *
    * Scale shape: one posexplode + ONE hash agg to the dim-sized
    * moment table (64 rows — model-sized), broadcast back onto the
    * exploded stream: map-only scoring, a single corpus shuffle.
    */
  def standardizeEmbeddings(emb: DataFrame, idCol: String,
                            vecCol: String, strata: Int = 1): DataFrame = {
    require(strata >= 1)
    val x = emb.select(col(idCol),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col(idCol), col("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("__x"))
    // second moments via the exact stratified hi/lo long split
    // ([[splitSumHi]]): Σx² overflows a long past ~20k rows at
    // embedding scale (probe-caught bound); the split partials stay
    // plain codegen'd longs per row in ~n/S-row stratum groups,
    // recombined into the exact decimal across d·S stratum rows
    val stats = x.groupBy(col("dim"),
        splitStratum(col(idCol), strata).as("__st"))
      .agg(count(lit(1)).as("n0"),
        sum(col("__x")).as("s10"),
        splitSumHi(col("__x") * col("__x")).as("s2h"),
        splitSumLo(col("__x") * col("__x")).as("s2l"))
      .groupBy(col("dim"))
      .agg(sum(col("n0")).as("__n"),
        sum(col("s10")).as("__s1"),
        sum(splitTotal(col("s2h"), col("s2l")))
          .cast("decimal(38,0)").as("__s2"))
      .withColumn("__varnum",
        col("__n") * col("__s2") -
          col("__s1").cast("decimal(38,0)") * col("__s1"))
    x.join(broadcast(stats), "dim")
      .select(col(idCol), col("dim"),
        when(col("__varnum") > 0,
          // + 0.0 clears IEEE -0.0 (engines disagree on round's sign
          // preservation for tiny negatives; +0.0 is sign-safe on both)
          round((col("__n") * col("__x") - col("__s1")).cast("double")
            / sqrt(col("__varnum").cast("double")), 4) + lit(0.0))
          .as("z"))
  }
}
