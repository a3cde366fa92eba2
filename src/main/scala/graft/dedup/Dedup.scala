package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs
import graft.text.TextAnalysis

/** Deduplication operators for LLM-training-data pipelines (north-star
  * extension). Four families:
  *
  *  - [[dedupExact]] — hash-groupBy exact dedup (keep the min-id copy).
  *  - MinHash + LSH — [[shingles]] → [[minhashSignature]] →
  *    [[lshCandidatePairs]] → [[withJaccard]]: the standard
  *    shingle/minhash/band/bucket-join pipeline (Broder '97), built
  *    entirely from codegen'd higher-order functions (`transform`,
  *    `aggregate`, `xxhash64`) — no UDFs.
  *  - SimHash — [[simhash64]] (Charikar '02): 64-bit fingerprint; near
  *    dups = fingerprints within small Hamming distance, found by the
  *    pigeonhole band join ([[simhashCandidatePairs]]) + `bit_count`
  *    verify.
  *  - [[ngramJaccardPairs]] — exact n-gram Jaccard over all pairs of a
  *    (bounded) corpus slice; the brute-force baseline the LSH paths are
  *    measured against.
  *
  * Scale design: candidate generation shuffles on (band, bucket-hash) —
  * cardinality ∝ corpus × bands, with each bucket small when bands/rows
  * are tuned to the target threshold. The only quadratic step is *within
  * buckets* (and the explicitly-bounded brute-force baseline). Signatures
  * are fixed-width arrays, so the shuffle payload is signature-sized, not
  * document-sized.
  */
object Dedup {

  /** Exact dedup: one survivor (min of `idCol`) per distinct `keyCol`,
    * plus the duplicate count. Hash-aggregate, shuffles |distinct keys|.
    */
  def dedupExact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping whole surviving rows (row_number over the key). */
  def dedupExactRows(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Word n-gram shingles from a token array; empty when the document is
    * shorter than `n` tokens.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      // codegen'd: one loop over the token array (first-occurrence-
      // distinct, same as array_distinct over the HOF spelling)
      graft.functions.VectorExprs.token_ngrams(toks, n, distinct = true))
      .otherwise(array(concat_ws(" ", toks)))

  /** Mersenne prime 2^31-1: hash values and permutation coefficients stay
    * below 2^31, so `a*x + b` fits a long without overflow.
    */
  val MinHashPrime: Long = 2147483647L

  /** Deterministic permutation coefficients (a odd, b any) drawn from a
    * fixed-seed PRNG — same on every run and every executor.
    */
  def permutations(numHashes: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((rnd.nextInt(Int.MaxValue - 1).toLong * 2 + 1) % MinHashPrime,
      rnd.nextInt(Int.MaxValue).toLong)
  }

  /** MinHash signature: for each permutation i, min over shingles of
    * `(a_i * h(s) + b_i) mod p` where `h` = xxhash64 folded into [0, p).
    * One fixed-width array column; computed in a single codegen'd
    * Project.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int, seed: Long = 42L): Column = {
    val perms = permutations(numHashes, seed)
    // native codegen'd expression — one pass over the shingles for all k
    // permutations; values identical to the HOF formulation
    // array(array_min(transform(...))) it replaces
    VectorExprs.minhash_signature(shingleCol, perms.map(_._1), perms.map(_._2), MinHashPrime)
  }

  /** Explode a signature into LSH bands: one row per (id, band_id,
    * band_hash). Banding theory: P(candidate) = 1-(1-j^r)^b for Jaccard
    * j, with b bands of r rows (b*r = signature length).
    */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = array((0 until bands).map { bi =>
      struct(lit(bi).as("band_id"),
        xxhash64(concat_ws(",", slice(col(sigCol), bi * rowsPerBand + 1, rowsPerBand)))
          .as("band_hash"))
    }: _*)
    df.select(col(idCol), explode(bandStructs).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_hash"))
  }

  /** Candidate pairs: ids sharing at least one LSH bucket. The self-join
    * shuffles on (band_id, band_hash); `<` orders the pair and drops
    * self-matches; distinct collapses multi-band hits.
    */
  def lshCandidatePairs(banded: DataFrame, idCol: String): DataFrame = {
    val l = banded.select(col("band_id"), col("band_hash"), col(idCol).as("id_a"))
    val r = banded.select(col("band_id"), col("band_hash"), col(idCol).as("id_b"))
    l.join(r, Seq("band_id", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact Jaccard over two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Boundary-exact round-6 Jaccard presentation: |a∩b|/|a∪b| is an
    * INT/INT rational, so it can land exactly ON a .5×10⁻⁶ rounding
    * boundary (reduced union ∈ {2ⁱ5ʲ : max(i,j)=7}, e.g. 640) where the
    * engines' float `round(x, 6)` legitimately disagree — the r15
    * census class (r16 sweep). Decided in integer arithmetic via
    * [[graft.text.TextAnalysis.exactRound6Ratio]].
    */
  def jaccard6(inter: Column, uni: Column): Column =
    TextAnalysis.exactRound6Ratio(inter, uni)

  /** Attach exact Jaccard to candidate pairs by joining the shingle sets
    * back in (two broadcast-or-shuffle hash joins on the id). Emits the
    * raw double `jaccard` plus the integer `__ji`/`__ju`
    * intersection/union sizes so presentations can round boundary-exact
    * (see [[jaccard6]]).
    */
  def withJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                  shingleCol: String): DataFrame = {
    val a = docs.select(col(idCol).as("id_a"), col(shingleCol).as("__sh_a"))
    val b = docs.select(col(idCol).as("id_b"), col(shingleCol).as("__sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("__ji",
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("long"))
      .withColumn("__ju",
        size(array_union(col("__sh_a"), col("__sh_b"))).cast("long"))
      .withColumn("jaccard", col("__ji").cast("double") / col("__ju"))
      .drop("__sh_a", "__sh_b")
  }

  /** Full MinHash-LSH near-dup pipeline: returns (id_a, id_b, jaccard)
    * for pairs whose exact Jaccard ≥ `threshold`, with LSH pruning the
    * candidate space. Defaults are the SHIPPED production banding: 32
    * hashes in 16 bands of 2, per-pair miss (1-j²)^16 ≈ 8e-8 at the
    * j=0.8 threshold. The old 16/8 default (miss ≈ 1.7e-4 at j=0.8) has
    * a MEASURED escape at scale: the round-13 sf1.0 sweep (~1e6
    * near-threshold pairs) caught it missing a true pair at j=0.818 —
    * do not narrow below 32/16 for recall-critical corpora.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 32,
                      bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val rowsPerBand = numHashes / bands
    // tokenize→shingle→minhash is the CPU-dense stage: spread an
    // under-split scan before it (guide §2.5; no-op at real scale)
    val withShingles = graft.Spread.spread(df)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), shingles(col("__toks"), shingleSize).as("__sh"))
    val signed = withShingles
      .withColumn("__sig", minhashSignature(col("__sh"), numHashes))
    val pairs = lshCandidatePairs(lshBands(signed, idCol, "__sig", bands, rowsPerBand), idCol)
    withJaccard(pairs, withShingles, idCol, "__sh")
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        jaccard6(col("__ji"), col("__ju")).as("jaccard"))
  }

  /** MinHash sketch-accuracy evaluation — the calibration loop for the
    * LSH dedup path: for every LSH candidate pair, the SIGNATURE
    * jaccard estimate (fraction of agreeing components — what a
    * sketch-only pipeline would act on) next to the EXACT jaccard over
    * the full shingle sets, plus the absolute error. Tells you whether
    * `numHashes` is sized right for the threshold BEFORE trusting the
    * sketch at corpus scale (E[err] ≈ √(j(1−j)/k)).
    *
    * Scale shape: identical to [[minhashNearDups]] (banded bucket join,
    * signature-sized shuffle) with one extra signature join — the
    * evaluation costs what the dedup costs, nothing extra. Defaults
    * follow the shipped 32/16 banding (see [[minhashNearDups]]).
    */
  def minhashEstimatePairs(df: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int = 3, numHashes: Int = 32,
                           bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    // spread rationale as [[minhashNearDups]]
    val withShingles = graft.Spread.spread(df)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), shingles(col("__toks"), shingleSize).as("__sh"))
    val signed = withShingles
      .withColumn("__sig", minhashSignature(col("__sh"), numHashes))
    val pairs = lshCandidatePairs(
      lshBands(signed, idCol, "__sig", bands, rowsPerBand), idCol)
    val sigs = signed.select(col(idCol).cast("long"), col("__sig"))
    val est = pairs
      .join(sigs.select(col(idCol).as("id_a"), col("__sig").as("__sa")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("__sig").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(aggregate(zip_with(col("__sa"), col("__sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast("double") / numHashes, 6)
          .as("est_jaccard"))
    withJaccard(est, withShingles, idCol, "__sh")
      // est_jaccard = m/numHashes (power-of-2 denominator: exact fp,
      // ≤6-digit decimal — exempt); exact_jaccard routes boundary-exact;
      // abs_err is a difference of two exact micro-multiples, so its
      // round(·, 6) can never sit on a .5×10⁻⁶ boundary — exempt
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        jaccard6(col("__ji"), col("__ju")).as("exact_jaccard"),
        round(abs(col("est_jaccard") -
          jaccard6(col("__ji"), col("__ju"))), 6).as("abs_err"))
  }

  /** LSH banding TUNER — turns the S-curve (Leskovec/Rajaraman/Ullman,
    * MMDS ch. 3: P[candidate] = 1−(1−s^r)^b) from folklore into a
    * measured decision table over THIS corpus's observed pair
    * distribution. For every (bands, rows-per-band) factorization of
    * `numHashes`, reports the characteristic threshold
    * s* = (1/b)^(1/r) and two data-weighted expectations over
    * `pairsWithJaccard`: `recall_hi` (mean catch probability over pairs
    * with jaccard ≥ `hiThreshold` — the near-dups the banding must not
    * miss) and `catch_lo` (mean catch probability below it — the
    * candidate-volume waste each config would admit). The config you
    * ship is the cheapest row whose recall_hi clears your SLO — sized
    * from data before a 100-TB run, not after.
    *
    * Scale shape: ONE aggregation pass over the pair table (itself
    * LSH-bounded, ≪ corpus²) computing every config's conditional sums
    * map-side-combined; the result explodes from a single driver-free
    * row. Determinism: `numHashes` and every b, r are powers of two, so
    * s^r and (·)^b are repeated SQUARINGS (identical IEEE multiply
    * chains in both engines — no libm `pow` ulp drift) and s* is
    * repeated `sqrt` (correctly rounded per IEEE-754 in both); per-pair
    * probabilities round to micro-units and sum as longs.
    */
  def lshBandingTune(pairsWithJaccard: DataFrame, jacCol: String,
                     numHashes: Int = 16,
                     hiThreshold: Double = 0.5): DataFrame = {
    def log2(n: Int): Int = {
      require(n > 0 && (n & (n - 1)) == 0, s"power of two required: $n")
      Integer.numberOfTrailingZeros(n)
    }
    def sq(c: Column, k: Int): Column = (1 to k).foldLeft(c)((a, _) => a * a)
    val configs = (0 to log2(numHashes))
      .map(j => (1 << j, numHashes >> j)) // (bands, rowsPerBand)
    val s = round(col(jacCol), 6)
    val micro = configs.map { case (b, r) =>
      val p = lit(1.0) - sq(lit(1.0) - sq(s, log2(r)), log2(b))
      (b, r, round(p * 1000000.0).cast("long"))
    }
    val aggs = Seq(
      sum(when(s >= hiThreshold, 1L).otherwise(0L)).as("n_hi"),
      sum(when(s < hiThreshold, 1L).otherwise(0L)).as("n_lo")) ++
      micro.flatMap { case (b, r, m) => Seq(
        sum(when(s >= hiThreshold, m).otherwise(0L)).as(s"hs_${b}_$r"),
        sum(when(s < hiThreshold, m).otherwise(0L)).as(s"ls_${b}_$r")) }
    val g = pairsWithJaccard.agg(aggs.head, aggs.tail: _*)
    val rows = configs.map { case (b, r) =>
      // driver constant: Math.sqrt is correctly rounded (IEEE-754), so
      // this equals the oracle's nested-sqrt expression bit-for-bit
      var x = 1.0 / b
      for (_ <- 1 to log2(r)) x = Math.sqrt(x)
      val sStar = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      struct(
        lit(b).cast("int").as("bands"),
        lit(r).cast("int").as("rows_per_band"),
        lit(sStar).as("s_star"),
        col("n_hi"), col("n_lo"),
        // den = n·10⁶ is the census boundary class (odd micro-sum over
        // an even count lands EXACTLY on .5×10⁻⁶) — boundary-exact
        // integer rounding, never the engines' float round (r16 sweep)
        when(col("n_hi") > 0,
          TextAnalysis.exactRound6Ratio(col(s"hs_${b}_$r"),
            col("n_hi") * lit(1000000L)))
          .as("recall_hi"),
        when(col("n_lo") > 0,
          TextAnalysis.exactRound6Ratio(col(s"ls_${b}_$r"),
            col("n_lo") * lit(1000000L)))
          .as("catch_lo"))
    }
    g.select(explode(array(rows: _*)).as("c")).select("c.*")
  }

  /** SimHash (64-bit): majority vote per bit over token hashes. Built as
    * a fold over bit positions of a fold over tokens — all codegen'd.
    */
  def simhash64(toks: Column): Column = VectorExprs.simhash64(toks)

  /** Pigeonhole candidates for Hamming distance ≤ h: split the 64-bit
    * fingerprint into h+1 chunks; any pair within distance h shares at
    * least one exact chunk. Join on (chunk_id, chunk), verify with
    * `bit_count(xor) <= maxHamming`. Tradeoff: larger h → narrower
    * chunks → bigger buckets (the within-bucket pass is quadratic), so
    * keep h modest (≤ 7 ⇒ 8-bit chunks minimum).
    *
    * Hot-bucket guard: common chunk values (all-zero bytes from empty /
    * templated docs) can concentrate a skewed corpus into one bucket and
    * go quadratic. Buckets over `maxBucketRows` are dropped from
    * candidate generation, bounding the join to n·maxBucketRows rows per
    * chunk — linear in n. A true near-dup pair is lost only if ALL h+1
    * of its shared-chunk buckets overflow; identical docs (the usual
    * cause of hot buckets) are exact-dup territory ([[dedupExact]]),
    * not SimHash's. Default 65536 is inert below ~16M docs per chunk
    * value; size it ≈ corpus/1000 at larger scales.
    */
  def simhashCandidatePairs(df: DataFrame, idCol: String, simCol: String,
                            maxHamming: Int = 7,
                            maxBucketRows: Long = 65536L): DataFrame = {
    val numChunks = maxHamming + 1
    // chunk ci covers bits [lo, hi): boundaries spread evenly over 64
    val chunks = array((0 until numChunks).map { ci =>
      val lo = ci * 64 / numChunks
      val hi = (ci + 1) * 64 / numChunks
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1
      struct(lit(ci).as("chunk_id"),
        shiftright(col(simCol), lo).bitwiseAND(lit(mask)).as("chunk"))
    }: _*)
    val exploded = df.select(col(idCol), col(simCol), explode(chunks).as("c"))
      .select(col(idCol), col(simCol), col("c.chunk_id"), col("c.chunk"))
    // bucket-size guard: a window count over the join key (shares the
    // join's hash partitioning) filters overflowing buckets before any
    // pair is generated
    val bounded = exploded
      .withColumn("__bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("chunk_id"), col("chunk"))))
      .where(col("__bucket_n") <= maxBucketRows)
      .drop("__bucket_n")
    val l = bounded.select(col("chunk_id"), col("chunk"),
      col(idCol).as("id_a"), col(simCol).as("__sim_a"))
    val r = bounded.select(col("chunk_id"), col("chunk"),
      col(idCol).as("id_b"), col(simCol).as("__sim_b"))
    l.join(r, Seq("chunk_id", "chunk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__sim_a").bitwiseXOR(col("__sim_b"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Shared reliable-dir-aware lineage truncation — see
    * [[graft.Checkpoints]]. LAZY here: the CC loop follows every
    * checkpoint with exactly one action (the fixpoint aggregate), which
    * materializes it — an eager checkpoint would run a second job per
    * round just to write the same blocks, doubling the per-round fixed
    * cost that dominates small-graph runs.
    */
  private def checkpoint(df: DataFrame): DataFrame =
    graft.Checkpoints.checkpoint(df, eager = false)

  /** Connected components over a near-duplicate pair graph — the cluster
    * step of corpus dedup: a near-dup PAIR list (from MinHash/SimHash/
    * embedding LSH) becomes disjoint clusters, and one canonical doc
    * (min id) is kept per cluster. The driver sees only per-round
    * fixpoint aggregates, never node data.
    *
    * Output: (id, label) — `label` = min node id reachable from `id`,
    * i.e. the cluster id. Only nodes that appear in `edges` are listed
    * (isolated docs are their own trivial cluster).
    *
    * Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14) — pointer-doubling
    * for edge lists: converges in O(log n) rounds regardless of graph
    * diameter, where min-label propagation needs diameter rounds (a
    * 10⁶-node chain = 10⁶ rounds; measured 16 rounds on a 20,000-node
    * chain, 21 on a 640,000-node one: BASELINE_HISTORY.md "round-7/8
    * rows"). `maxIters` caps the rounds; a capped run's labels are the
    * per-node minimum over the last round's edges, not yet the cluster
    * minimum.
    *
    *  - large-star: for every node u, hook each STRICTLY LARGER neighbor
    *    v > u onto m = min(Γ(u) ∪ {u}) — emit (v, m);
    *  - small-star: direct edges large→small; hook each smaller neighbor
    *    (and u itself) onto m = min(Γ⁻(u) ∪ {u}).
    *
    * Both steps preserve connectivity exactly (no approximation); at
    * fixpoint the edge set is a disjoint union of stars (v, root).
    * Per round: two window-min shuffles and one closing distinct over
    * the EDGE list (never a node×neighbor matrix), one fixpoint check.
    * Checkpointed each round ([[checkpoint]]: reliable dir when
    * configured, else local).
    *
    * Fixpoint test: the (count, wrapping-sum of xxhash64(src,dst))
    * signature of the canonical edge set — one cheap aggregate per
    * round; both steps are monotone (labels only decrease), so a stable
    * signature means a stable edge set.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 50): DataFrame = {
    // canonical direction: (big, small); self-loops dropped
    def canon(e: DataFrame): DataFrame =
      e.where(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct()

    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("src"), col("dst")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // r19 exchange-cut (guide §2.4): each star used a groupBy-min plus
    // a self-join on the same key — TWO shuffles of the edge list per
    // star (plus canon's distinct, a third). A whole-partition window
    // min over the same key computes Γ-min in ONE shuffle with no join,
    // and largeStar's dedup is deferred to smallStar's closing distinct
    // (both stars are set-semantics over neighbor MINIMA — duplicate
    // edges change no min, only row volume, and a round's duplicates
    // are bounded by the round's own output). Plan probe: 7 → 4
    // exchanges per round; output edge set bit-identical (same min per
    // star, same canonical distinct at round end — DedupSpec pins CC
    // labels).
    val wSrc = Window.partitionBy(col("src"))

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      // m = min(Γ(u) ∪ {u}) via one window over the hook key; emitted
      // rows (v, m) always have v > src ≥ m, so canonical orientation
      // holds by construction — no greatest/least, no distinct here
      sym.withColumn("__m", least(min(col("dst")).over(wSrc), col("src")))
        .where(col("dst") > col("src") && col("dst") =!= col("__m"))
        .select(col("dst").as("src"), col("__m").as("dst"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // already canonical (src > dst): Γ⁻(u) = all dst < u
      val j = e.withColumn("__m", min(col("dst")).over(wSrc))
      canon(
        j.where(col("dst") =!= col("__m"))
          .select(col("dst").as("src"), col("__m").as("dst"))
          .union(j.select(col("src"), col("__m").as("dst"))))
    }

    var e = checkpoint(canon(edges.select(
      col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))))
    var sig = signature(e)
    var iters = 0
    var stable = false
    while (!stable && iters < maxIters) {
      val next = checkpoint(smallStar(largeStar(e)))
      val nextSig = signature(next)
      stable = nextSig == sig
      sig = nextSig
      e = next
      iters += 1
    }
    // fixpoint edge set is stars (v, root); roots get their self row.
    // groupBy-min is a safety net if maxIters truncated the loop.
    e.select(col("src").as("id"), col("dst").as("label"))
      .union(e.select(col("dst").as("id"), col("dst").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
  }

  /** Brute-force exact n-gram Jaccard over all pairs of `df` — O(n²),
    * for bounded slices and as the LSH recall baseline. Caller bounds n.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, threshold: Double): DataFrame = {
    // quadratic spread (no byte gate): the O(n²) verify runs on the
    // stream side's partitions — one split = one core, and the bounded
    // slice is always under the byte gate despite its n² pair work
    val withShingles = graft.Spread.spreadQuadratic(df).select(col(idCol),
      shingles(TextAnalysis.tokens(col(textCol)), shingleSize).as("__sh"))
    val a = withShingles.select(col(idCol).as("id_a"), col("__sh").as("__sh_a"))
    val b = withShingles.select(col(idCol).as("id_b"), col("__sh").as("__sh_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("__ji",
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("long"))
      .withColumn("__ju",
        size(array_union(col("__sh_a"), col("__sh_b"))).cast("long"))
      .withColumn("jaccard", jaccard6(col("__ji"), col("__ju")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT n-gram Jaccard pairs via an inverted shingle index — the
    * set-similarity join (candidate + verify, the PPJoin shape):
    * explode (doc, shingle) postings, self-join on the shingle (only
    * docs SHARING a shingle ever pair — Σ df² candidate pairs, not n²),
    * then verify each candidate with the exact Jaccard of the two full
    * shingle sets, rounded (6 dp) before the threshold cutoff. With
    * `maxDf = 0` this is exact like [[ngramJaccardPairs]] (any J>0
    * pair shares a shingle, so candidates are complete) but
    * subquadratic on real corpora, where shingle document-frequencies
    * are small.
    *
    * 100 TB notes: the candidate-shuffle key is the shingle, so a
    * stop-shingle ("in the of") with df=d contributes d² pairs — cap
    * it with `maxDf`, which drops hot postings from CANDIDATE
    * GENERATION only; verification always scores the full sets, so the
    * cap can only miss a pair whose every shared shingle is ubiquitous
    * (the prefix-filter regime: a J≥0.8 pair shares ≥0.8/1.8 of its
    * union, so rare shingles exist unless the whole document is
    * stop-shingles), never mis-score a survivor. For
    * approximate-but-bounded work at any skew, [[minhashNearDups]] is
    * the LSH alternative.
    */
  def jaccardPairsInverted(df: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int, threshold: Double,
                           maxDf: Long = 0L): DataFrame = {
    // spread rationale as [[minhashNearDups]]
    val withSh = graft.Spread.spread(df)
      .select(col(idCol).cast("long").as("id"),
      shingles(graft.text.TextAnalysis.tokens(col(textCol)), shingleSize)
        .as("__sh"))
    val cands = jaccardCandidates(withSh, threshold, maxDf, prefixFilter = true)
    // verify stage: exact Jaccard over the two full shingle SETS — so
    // the maxDf cap can only MISS pairs, never mis-score survivors
    cands
      .join(withSh.select(col("id").as("id_a"), col("__sh").as("__sh_a")), "id_a")
      .join(withSh.select(col("id").as("id_b"), col("__sh").as("__sh_b")), "id_b")
      .withColumn("jaccard", jaccard6(
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("long"),
        size(array_union(col("__sh_a"), col("__sh_b"))).cast("long")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Candidate stage of [[jaccardPairsInverted]]: pairs of docs sharing
    * an INDEXED shingle. `withSh` is `(id: long, __sh: array<string>)`.
    *
    * With `prefixFilter` on, this is the PPJoin/all-pairs prefix filter
    * (Bayardo et al., WWW'07; Xiao et al., WWW'08): order every doc's
    * shingles by one GLOBAL total order — ascending document frequency,
    * ties broken by shingle value — and index only the first
    * `|s| − ⌈t·|s|⌉ + 1` of them. Completeness: J(a,b) ≥ t forces
    * `|a∩b| ≥ ⌈t·max(|a|,|b|)⌉ ≥ ⌈t·|a|⌉`, and a pair overlapping that
    * much must collide inside both prefixes under a common order (the
    * per-doc bound `⌈t·|s|⌉` only LENGTHENS the prefix vs the true
    * pair bound, so it is conservative-safe). On top of the prefix,
    * PPJoin's length and positional filters prune per collision row
    * (rationale at the join below). The three filters together drop
    * candidate volume — 3.8M → 409k (9.3×) beyond the prefix alone on
    * the ×32 probe corpus at t=0.8, 10.6× end-to-end since exact
    * verify dominates — while the surviving pair set, and hence the
    * verified output, is IDENTICAL (asserted in DedupSpec).
    *
    * 100 TB notes: candidate generation is the dominant shuffle of the
    * set-similarity join and the prefix filter shrinks exactly that —
    * the df ranking it needs is one extra shingle-keyed aggregation
    * (same key as the candidate join, so the exchange layout is
    * reused). Frequent shingles — the df² hot keys — land in the SUFFIX
    * of every doc and are never indexed, which also kills the skew the
    * `maxDf` cap existed for; the cap stays available for
    * stop-shingle-only corpora.
    *
    * Exactness under the cap: `__len` (and the prefix/length/positional
    * bounds built from it) is computed from the TRUE per-doc set size
    * (`size(__sh)`, carried through the explode map-side), not the
    * post-cap posting list — so the three filters prune exactly as in
    * the uncapped case and `maxDf > 0` loses precisely the pairs the
    * cap contract documents (those sharing only over-df shingles),
    * nothing more. Asserted against that contract in DedupSpec.
    */
  def jaccardCandidates(withSh: DataFrame, threshold: Double,
                        maxDf: Long = 0L,
                        prefixFilter: Boolean = true): DataFrame = {
    // every posting carries the doc's TRUE set size (size of __sh,
    // map-side free) so the prefix/length/positional bounds below stay
    // exact even when the maxDf cap shortens the posting list
    val postings = withSh.select(col("id"), size(col("__sh")).as("__len"),
      explode(col("__sh")).as("s"))
    val capped = if (maxDf > 0) {
      val dfs = postings.groupBy(col("s")).agg(count(lit(1)).as("__df"))
      postings.join(dfs.where(col("__df") <= maxDf), "s")
        .select(col("id"), col("__len"), col("s"))
    } else postings
    if (!prefixFilter) {
      capped.select(col("s"), col("id").as("id_a"))
        .join(capped.select(col("s"), col("id").as("id_b")), "s")
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
    } else {
      // global order = (df asc, shingle asc); per-doc prefix via one
      // groupBy(id): sort the (df, s) pairs and slice — no per-doc
      // window sort, and the df agg shuffles on the SAME key (s) as
      // the candidate join that follows. Each prefix posting carries
      // the doc's FULL set size and the shingle's 0-based position in
      // the global order, feeding the two per-collision filters below.
      // Under a maxDf cap the capped shingles have the LARGEST df, so
      // they occupy the suffix of the global order: dropping them moves
      // no surviving shingle's position, and slicing the TRUE-length
      // prefix from the capped order keeps every uncapped shingle of
      // the true prefix. Hence with maxDf > 0 the candidate set is
      // exactly "pairs sharing >=1 shingle with df <= maxDf in both
      // true prefixes" — the cap contract, with no extra pruning.
      val dfs = capped.groupBy(col("s")).agg(count(lit(1)).as("__df"))
      val pre = capped.join(dfs, "s")
        .groupBy(col("id"), col("__len"))
        .agg(sort_array(collect_list(struct(col("__df"), col("s")))).as("__ord"))
        .select(col("id"), col("__len"),
          posexplode(slice(col("__ord"), lit(1),
            (col("__len") - ceil(lit(threshold) * col("__len")) + 1)
              .cast("int"))))
        .select(col("id"), col("__len"), col("pos").as("__pos"),
          col("col.s").as("s"))
      // PPJoin's remaining two exact filters, applied per collision row
      // BEFORE the distinct — they prune the candidate pairs that feed
      // the expensive exact-verify array intersections:
      //  - length filter: J≥t ⇒ t·max(|a|,|b|) ≤ |a∩b| ≤ min(|a|,|b|);
      //  - positional filter: at the FIRST shared shingle (positions
      //    p_a, p_b in the common order) every shared element lies in
      //    both suffixes, so |a∩b| ≤ min(|a|−p_a, |b|−p_b); J≥t also
      //    forces |a∩b| ≥ t(|a|+|b|)/(1+t). A true pair always has a
      //    collision row satisfying both (its first shared shingle, in
      //    both prefixes by the prefix-length bound), so OR-over-rows +
      //    distinct keeps exactness. Comparisons carry a 1e-6 slack so
      //    inexact double t can never drop an exactly-at-threshold
      //    integer boundary (sizes ≤ 1e6 ⇒ ulp ≪ 1e-6 ≪ 1).
      val a = pre.select(col("s"), col("id").as("id_a"),
        col("__len").as("__la"), col("__pos").as("__pa"))
      val b = pre.select(col("s"), col("id").as("id_b"),
        col("__len").as("__lb"), col("__pos").as("__pb"))
      a.join(b, "s")
        .where(col("id_a") < col("id_b"))
        .where(greatest(col("__la"), col("__lb")) * lit(threshold) <=
               least(col("__la"), col("__lb")) + lit(1e-6))
        .where(least(col("__la") - col("__pa"), col("__lb") - col("__pb")) *
                 lit(1.0 + threshold) >=
               (col("__la") + col("__lb")) * lit(threshold) - lit(1e-6))
        .select(col("id_a"), col("id_b")).distinct()
    }
  }

  /** EXACT asymmetric containment pairs via the inverted shingle index:
    * `C(a→b) = |S_a ∩ S_b| / |S_a| ≥ t` — "a is t-contained in b", the
    * quote/excerpt/superset relation Jaccard misses (a 50-token excerpt
    * of a 5000-token doc has J ≈ 0.01 but C = 1.0). Output is
    * directional: `(id_a, id_b, containment)` with `id_a` the contained
    * side; both directions of a pair can appear.
    *
    * HYBRID execution (r15): two verify regimes, routed at PLAN time
    * from the input's optimizer stats — zero extra jobs (both timed at
    * sf0.1 and sf1.0: BASELINE_HISTORY.md "Hybrid containment verify"):
    *
    *  - BROADCAST regime (estimated full-shingle-array payload —
    *    `stats.sizeInBytes × (shingleSize+1)` — fits
    *    `maxVerifyBroadcastBytes`): PPJoin-style candidates + exact
    *    array verify. Candidates use the containment variant of the
    *    prefix filter (Bayardo et al. WWW'07): shingles ordered by
    *    global (df asc, hash asc); `C(a→b) ≥ t` forces `|a∩b| ≥
    *    ⌈t·|a|⌉`, so SOME shared shingle lands in a's first
    *    `|a| − ⌈t·|a|⌉ + 1` (pigeonhole) — only that prefix is indexed
    *    on the contained side, while the containing side indexes every
    *    posting and prunes per collision row with the POSITIONAL
    *    filter: at the pair's FIRST shared shingle (position `p_b` in
    *    b's sorted list) `|a∩b| ≤ |b| − p_b`, and `C ≥ t` forces
    *    `|b| − p_b ≥ t·|a|` — the filter that kills hot-shingle
    *    collisions (a high-df shingle sorts LATE, so its `|b| − p_b`
    *    is small). Survivors re-score the full STRING shingle sets
    *    through an explicitly-broadcast doc-side join (the routing
    *    guarantees it fits), so hash collisions in candidate
    *    generation only ever ADD candidates here. This was the r13
    *    sf1.0 plan (fast: the verify join never shuffles arrays) — but
    *    it dies the moment the doc side outgrows the broadcast (the
    *    r14 sf10 sweep measured a >75 GB array-payload sort-spill).
    *
    *  - COUNT regime (doc side too big to broadcast): co-occurrence-
    *    COUNT verify. Shingles are per-doc DISTINCT ([[shingles]]), so
    *    `|a∩b|` equals the number of co-occurring hashed shingles: one
    *    h-keyed join of A-postings × all postings (24 B rows — no
    *    arrays EVER shuffle), partial-aggregated counts, then the
    *    containment filter; a `|b| ≥ t·|a|` length filter prunes
    *    impossible pairs pre-aggregate. Join volume is
    *    Σ_h df_A(h)·df(h) ≤ Σ df² — UNGUARDED here: one shingle shared
    *    by d docs contributes d² rows, so a df-skewed corpus can blow
    *    this path up. Production entry is [[containmentPairsAuto]],
    *    which MEASURES Σ df² first and reroutes to the bounded sketch
    *    screen when it exceeds [[DefaultMaxCandidatePairs]]; call this method
    *    directly only on inputs whose skew you know (probes, batch
    *    mode against a bounded query slice). EXACTNESS CAVEAT:
    *    containment is counted over `xxhash64` hashes, so a 64-bit
    *    cross-shingle collision INFLATES the score (it is not screened
    *    by an array verify) — within a doc pair that needs colliding
    *    shingles in the two docs' sets (probability ≤ |a|·|b|/2⁶⁴ per
    *    pair); the broadcast regime keeps the string-exact contract.
    *
    * `aFilter` restricts the CONTAINED (`id_a`) side to a subset of
    * docs — the excerpt-detection regime: "which of these N quotes
    * appear inside the corpus" runs the prefix side over just the
    * query batch while the corpus side stays one linear posting pass.
    * Output equals the unrestricted join filtered to `id_a` in the
    * batch; at 100 TB this is THE way to run containment (the
    * unrestricted all-pairs self-join squares the candidate volume —
    * spill-bound long before CPU-bound). `aFilter` is resolved against
    * the CALLER'S input frame (write it over `idCol` / any input
    * column, e.g. `col("doc_id") % 2 === 1`) — it is evaluated before
    * the internal rename, then carried as a boolean through to the
    * prefix-side prune.
    *
    * 100 TB notes: the broadcast regime's candidate shuffle is
    * A-prefix × B-full postings on an 8-byte hash key, with the
    * positional filter cutting the hot tail before the distinct; the
    * count regime trades that pruning for array-free shuffles. At
    * corpus scale run [[containmentPairsAuto]] (measured gates) or the
    * `aFilter` batch mode (A-side a query slice — candidate volume
    * batch × corpus, one linear posting pass over the corpus).
    */
  def containmentPairsInverted(df: DataFrame, idCol: String, textCol: String,
                               shingleSize: Int, threshold: Double,
                               aFilter: Column = lit(true),
                               maxVerifyBroadcastBytes: Long =
                                 DefaultVerifyBroadcastBytes): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    // spread rationale as [[minhashNearDups]]; stats routing below
    // reads the ORIGINAL df's plan stats, unaffected by the exchange
    val withSh = graft.Spread.spread(df)
      .select(col(idCol).cast("long").as("id"),
      shingles(graft.text.TextAnalysis.tokens(col(textCol)), shingleSize)
        .as("__sh"),
      aFilter.as("__isA"))
    val postings = withSh
      .select(col("id"), col("__isA"), size(col("__sh")).as("__len"),
        explode(col("__sh")).as("__s"))
      .select(col("id"), col("__isA"), col("__len"),
        xxhash64(col("__s")).as("h"))
    // PLAN-time size routing (zero extra jobs): each input token lands
    // in ≤ shingleSize shingles plus joiners, so input bytes ×
    // (shingleSize+1) upper-estimates the materialized shingle-array
    // payload the broadcast regime ships. Compression can make this an
    // underestimate of in-memory size by a small constant — priced into
    // the default's order-of-magnitude headroom.
    val arrayBytesEst = BigDecimal(
      df.queryExecution.optimizedPlan.stats.sizeInBytes) * (shingleSize + 1)
    // COUNT regime (doc side too big to broadcast): see the method
    // scaladoc. No arrays ever shuffle; join volume Σ df_A·df is the
    // quantity [[containmentPairsAuto]] measures before landing here.
    if (arrayBytesEst > BigDecimal(maxVerifyBroadcastBytes)) {
      val a = postings.where(col("__isA"))
        .select(col("h"), col("id").as("id_a"), col("__len").as("__la"))
      val b = postings.select(col("h"), col("id").as("id_b"),
        col("__len").as("__lb"))
      return a.join(b, "h")
        .where(col("id_a") =!= col("id_b") &&
               col("__lb") >= col("__la") * lit(threshold) - lit(1e-6))
        .groupBy(col("id_a"), col("__la"), col("id_b"))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("containment",
          TextAnalysis.exactRound6Ratio(col("__cnt"), col("__la")))
        .where(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"), col("containment"))
    }
    // BROADCAST regime: prefix+positional candidates + exact
    // full-string-set array verify; the prefix pigeonhole keeps
    // exactness.
    val dfs = postings.groupBy(col("h")).agg(count(lit(1)).as("__df"))
    // ONE shared per-doc (df, h) sort feeds both sides (identical
    // subplan → exchange reuse): a takes the pigeonhole prefix, b
    // takes every posting plus its position in the same global order.
    // __isA is functionally dependent on id, so adding it to the
    // grouping key changes no group.
    val ord = postings.join(dfs, "h")
      .groupBy(col("id"), col("__isA"), col("__len"))
      .agg(sort_array(collect_list(struct(col("__df"), col("h")))).as("__ord"))
    // the prefix side prunes BEFORE the explode, so a query-sized
    // batch keeps the candidate join batch × corpus
    val a = ord.where(col("__isA"))
      .select(col("id"), col("__len"),
        explode(slice(col("__ord"), lit(1),
          (col("__len") - ceil(lit(threshold) * col("__len")) + 1)
            .cast("int"))).as("__p"))
      .select(col("__p.h").as("h"), col("id").as("id_a"),
        col("__len").as("__la"))
    val b = ord.select(col("id"), col("__len"),
        posexplode(col("__ord")).as(Seq("__pb", "__p")))
      .select(col("__p.h").as("h"), col("id").as("id_b"),
        col("__len").as("__lb"), col("__pb"))
    val cands = a.join(b, "h")
      .where(col("id_a") =!= col("id_b"))
      .where(col("__lb") - col("__pb") >=
             col("__la") * lit(threshold) - lit(1e-6))
      .select(col("id_a"), col("id_b")).distinct()
    // explicit broadcast — the r13 sf1.0 speed came from an AQE
    // auto-broadcast that stats drift could silently lose; pinning it
    // here makes the fast regime a plan property
    val vSh = broadcast(withSh.select(col("id"), col("__sh")))
    cands
      .join(vSh.select(col("id").as("id_a"), col("__sh").as("__sh_a")), "id_a")
      .join(vSh.select(col("id").as("id_b"), col("__sh").as("__sh_b")), "id_b")
      .withColumn("containment",
        TextAnalysis.exactRound6Ratio(
          size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("long"),
          size(col("__sh_a")).cast("long")))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Estimated-array-payload budget under which the containment verify
    * broadcasts the doc side (id → full shingle array). 128 MB of
    * ESTIMATE — plan-stats input bytes × (shingleSize+1) — is a few
    * hundred MB materialized: cheap in any executor profile, an order
    * of magnitude under the multi-GB regime where the r14 sf10 sweep
    * measured the array-verify sort-spill death.
    */
  val DefaultVerifyBroadcastBytes: Long = 128L << 20

  /** Measured-Σdf² boundary under which [[containmentPairsAuto]] keeps
    * the count-verify regime even when the arrays would broadcast: the
    * count join's row volume IS Σ df², and under ~2×10⁸ (long, long)
    * rows it is measured-cheap — the regime where r14 recorded the
    * count rewrite as FASTER than the prefix+array machinery.
    */
  val CountVerifyFastPairs: Long = 200000000L

  /** Default ceiling for [[containmentPairsAuto]]'s prefix-posting
    * volume (level 1/2) and Σdf² candidate-pair volume (level 3) —
    * named so diagnostics and the production gate share ONE constant
    * and cannot drift (the gate inputs measured per fixture are in
    * BASELINE_HISTORY.md "zipf-token leg" and BASELINE.md "sf100 gate
    * decisions").
    */
  val DefaultMaxPrefixPostings: Long = 2000000000L
  val DefaultMaxCandidatePairs: Long = 2000000000L

  /** How far below `threshold` [[containmentPairsAuto]]'s sketch screen
    * admits candidates (`minEst = threshold − SketchMargin`): the
    * hypergeometric miss tail is ~exp(−2·k·margin²) per pair, ~8.7e-3
    * at k=64.
    */
  private val SketchMargin: Double = 0.15

  /** Outcome of [[containmentPairsAuto]]'s measured gate, produced by
    * [[containmentGate]]: the route, and the Σdf² measurement when the
    * gate took it.
    */
  private[graft] case class ContainmentGate(
      df2: Option[Double], usesSketch: Boolean,
      // the level-3 measurement's full shape: df value → #hashes,
      // ascending (≤ √(2·Σdf) rows). Present iff the Σdf² job ran;
      // handed to [[containmentSketchPairs]] so the sketch path's
      // hot-shingle cap reuses the measurement instead of re-running
      // the h-keyed aggregation at construction time (r17 ADVICE)
      hist: Option[Array[(Long, Long)]] = None)

  /** Containment pairs with an AUTOMATIC all-pairs escape — the entry
    * point a 100 TB pipeline should call (VERDICT r12: make the escape
    * automatic instead of an operator-selection footnote).
    *
    * The exact all-pairs join ([[containmentPairsInverted]]) explodes a
    * `(1−t)·|a|` prefix for EVERY document — at t=0.5 half of every
    * document shuffles, and the ×128 probe records that join as
    * spill-bound. The sketch screen ([[containmentSketchPairs]]) caps
    * the A-side at `sketchK` postings per doc (constant) and re-scores
    * survivors EXACTLY, trading a bounded hypergeometric miss tail for
    * bounded shuffle volume. This method picks between them with a
    * THREE-level measured gate (levels 1–2 the
    * [[graft.etl.Aggregation.rfmScores]] pattern; level 3 added after
    * the r14 sf10 sweep):
    *
    *  1. PLAN time, zero extra jobs: distinct shingles per doc ≤ token
    *     count ≤ text bytes / 2 (every token costs ≥ 1 char + a
    *     separator), so `optimizedPlan.stats.sizeInBytes / 2 × (1−t)`
    *     upper-bounds the exact join's prefix-posting volume. Under
    *     `maxPrefixPostings` → posting volume fits, no scan. (A
    *     heuristic, not a hard bound, under extreme RLE compression —
    *     a mis-gate then costs one measuring scan, never correctness.)
    *  2. Only when that bound crosses: ONE pruned-column scan measures
    *     the true shingle total; posting volume fits iff the measured
    *     prefix volume does.
    *  3. Posting COUNT doesn't bound the count-verify regime's JOIN
    *     volume — that is Σ_h df(h)² (posting PAIRS), which one hot
    *     shingle can blow up at tiny posting counts — so one h-keyed
    *     aggregation MEASURES Σ df² against [[DefaultMaxCandidatePairs]];
    *     exact path iff it fits too. Short-circuit: Σ df² ≤ (Σ df)², so
    *     when the squared posting total (the level-2 measurement if it
    *     ran, else the level-1 plan bound) already fits, the gate
    *     settles WITHOUT this scan — tiny inputs keep the plan-time-only
    *     decision and its zero extra jobs. When the scan DID run, its
    *     value also selects the exact path's verify regime
    *     (≤ [[CountVerifyFastPairs]] → count-verify, measured-cheap;
    *     above → the broadcast array-verify via the size routing).
    *
    * Above the gate the plan is screen → exact verify: sketch
    * candidates at `minEst = threshold − SketchMargin` (0.15), then
    * re-score full shingle sets and keep `containment ≥ threshold` —
    * output schema and rounding identical to the exact path. Misses are
    * pairs whose bottom-`sketchK` estimate fell below that `minEst`:
    * impossible when a doc has ≤ `sketchK` distinct shingles (the
    * estimate is then ≥ the true containment), else a hypergeometric
    * tail ~exp(−2·k·margin²) per pair (~8.7e-3 at k=64), plus ≤
    * (#capped-hot shared shingles)/k of estimator bias from the sketch
    * join's hot-shingle cap (r17 — see [[containmentSketchPairs]]; the
    * margin absorbs it) — the documented recall trade for candidate
    * volume that scales with OUTPUT pairs instead of corpus².
    * Production defaults leave the brute-force form to tests and the
    * bench canary (`dedup_containment` registers the auto form; the
    * gate spec pins path parity on a forced-low threshold; the route
    * executed at sf100: BASELINE.md "sf100 containment EXECUTED leg").
    */
  def containmentPairsAuto(df: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int, threshold: Double,
                           maxPrefixPostings: Long = DefaultMaxPrefixPostings,
                           sketchK: Int = 64,
                           aFilter: Column = lit(true)): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0 && sketchK > 0)
    val gate = containmentGate(df, textCol, shingleSize, threshold,
      maxPrefixPostings)
    if (!gate.usesSketch) {
      // the level-3 measurement, when it ran, also SELECTS the verify
      // regime: Σ df² IS the count-verify join's row volume, so under
      // `CountVerifyFastPairs` the count path is measured-cheap — take
      // it (array-free, and faster than the prefix machinery at bench
      // scales: sf0.1 3.3 s vs 4.9 s). Above it, prefer the broadcast
      // array-verify via the size routing (sf1.0: 76 s vs the count
      // path's 316 s — the r14 regression this hybrid resolves), which
      // itself falls back to count-verify when the arrays can't
      // broadcast. Unmeasured (short-circuited) inputs are tiny — the
      // size routing alone decides, sub-second either way.
      val budget =
        if (gate.df2.exists(_ <= CountVerifyFastPairs)) 0L
        else DefaultVerifyBroadcastBytes
      containmentPairsInverted(df, idCol, textCol, shingleSize,
        threshold, aFilter, maxVerifyBroadcastBytes = budget)
    }
    else {
      // batch (aFilter) form on the sketch path: restrict the CONTAINED
      // side before the exact re-verify — a semi-join on the filtered
      // id set, skipped entirely for the trivially-true default
      val trivialA = org.apache.spark.sql.graft.bridge.expression(aFilter)
        .semanticEquals(
          org.apache.spark.sql.graft.bridge.expression(lit(true)))
      val screened0 = containmentSketchPairs(df, idCol, textCol,
          shingleSize, sketchK, math.max(0.0, threshold - SketchMargin),
          maxJoinPairs = DefaultMaxCandidatePairs,
          precomputedHist = gate.hist)
        .select(col("id_a"), col("id_b"))
      val screened = if (trivialA) screened0 else screened0.join(
        df.where(aFilter).select(col(idCol).cast("long").as("id_a")),
        Seq("id_a"), "left_semi")
      val withSh = df.select(col(idCol).cast("long").as("id"),
        shingles(graft.text.TextAnalysis.tokens(col(textCol)), shingleSize)
          .as("__sh"))
      withContainment(screened, withSh, "id", "__sh")
        .where(col("exact_containment") >= threshold)
        .select(col("id_a"), col("id_b"),
          col("exact_containment").as("containment"))
    }
  }

  /** The measured gate behind [[containmentPairsAuto]], factored out so
    * diagnostics run the PRODUCTION decision code (no mirror to drift):
    *  - level 1, plan time: `optimizedPlan.stats.sizeInBytes / 2 ×
    *    (1−t)` upper-bounds prefix-posting volume — zero extra jobs;
    *  - level 2, only when level 1 crosses: ONE pruned-column scan
    *    measures the true shingle total;
    *  - level 3: the count-verify join's row volume is Σ_h df(h)²
    *    (posting PAIRS — one shingle shared by 1M docs is 1e12 pairs
    *    from 1e6 postings), measured by one h-keyed aggregation, but
    *    ONLY when the squared posting total (measured if level 2 ran,
    *    else the plan bound) could possibly trip `maxCandidatePairs`
    *    (Σ df² ≤ (Σ df)²) — tiny inputs keep the zero-extra-jobs
    *    plan-time decision. Measured as the df HISTOGRAM (collect is
    *    ≤ √(2·Σdf) rows), Σ df² then exact in BigInt driver-side; the
    *    histogram rides along in the gate so the sketch path's
    *    hot-shingle cap reuses the measurement instead of re-running
    *    the h-keyed aggregation (r17 ADVICE).
    */
  private[graft] def containmentGate(
      df: DataFrame, textCol: String, shingleSize: Int, threshold: Double,
      maxPrefixPostings: Long = DefaultMaxPrefixPostings,
      maxCandidatePairs: Long = DefaultMaxCandidatePairs)
      : ContainmentGate = {
    val prefixFrac = 1.0 - threshold
    val planPostings = BigDecimal(
      df.queryExecution.optimizedPlan.stats.sizeInBytes) / 2
    val planBound = planPostings * prefixFrac
    // the gate's own measurement jobs tokenize+shingle the corpus —
    // the CPU-dense shape Spread exists for (no-op at real scale)
    val dfS = graft.Spread.spread(df)
    var measuredTotal: Option[Long] = None
    val postingsFit =
      if (planBound <= BigDecimal(maxPrefixPostings)) true
      else {
        val total = dfS.select(
            size(shingles(graft.text.TextAnalysis.tokens(col(textCol)),
              shingleSize)).cast("long").as("__n"))
          .agg(coalesce(sum(col("__n")), lit(0L))).head.getLong(0)
        measuredTotal = Some(total)
        total * prefixFrac <= maxPrefixPostings
      }
    val postBound = measuredTotal.map(BigDecimal(_)).getOrElse(planPostings)
    var df2Opt: Option[Double] = None
    var histOpt: Option[Array[(Long, Long)]] = None
    val usesSketch = !postingsFit ||
      (postBound * postBound > BigDecimal(maxCandidatePairs) && {
        // measured as the full df HISTOGRAM (df value → #hashes) rather
        // than a scalar sum(df²): same shuffle (the second-stage agg is
        // over ≤ √(2·Σdf) distinct df values), but the shape is exactly
        // what the sketch path's hot-shingle cap needs — when the gate
        // routes to sketch, [[containmentSketchPairs]] reuses this
        // measurement, so construction there runs no posting-scale
        // jobs EXCEPT the one bounded hot-VALUE collect when a binding
        // cap lands in the skew regime (r18: the histogram carries df
        // counts, not hash values, and the broadcast cut needs the
        // values — ≤ maxHotBroadcastHashes driver-side rows). Σdf² is
        // then exact in BigInt driver-side (the old double sum was a
        // bound in the overflow regime).
        val hist = dfS.select(
            explode(shingles(graft.text.TextAnalysis.tokens(col(textCol)),
              shingleSize)).as("__s"))
          .select(xxhash64(col("__s")).as("h"))
          .groupBy(col("h")).agg(count(lit(1)).as("__df"))
          .groupBy(col("__df")).agg(count(lit(1)).as("__nh"))
          .orderBy(col("__df")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        histOpt = Some(hist)
        val df2 = hist.iterator
          .map { case (v, nh) => BigInt(v) * BigInt(v) * BigInt(nh) }
          .foldLeft(BigInt(0))(_ + _)
        df2Opt = Some(df2.toDouble)
        df2 > BigInt(maxCandidatePairs)
      })
    ContainmentGate(df2Opt, usesSketch, histOpt)
  }

  /** APPROXIMATE all-pairs containment screen via a bottom-`k` sketch —
    * the bounded-cost candidate generator for the regime the exact
    * all-pairs join can't survive (its A-side prefix is `(1-t)·|a|`
    * postings per doc, so at t=0.5 HALF of every document shuffles;
    * the ×128 probe records that join as spill-bound).
    *
    * Sketch (bottom-k / KMV, Broder '97 one-permutation form): a doc's
    * sketch is its `k` SMALLEST distinct-shingle `xxhash64` values — a
    * deterministic, order-free, engine-reproducible uniform sample of
    * the shingle set (no random seeds, unlike banded MinHash).
    * `est C(a→b) = |bottomK(a) ∩ S_b| / min(k, |S_a|)` — exact when
    * `|S_a| ≤ k`, else a hypergeometric sample estimate with absolute
    * error O(1/√k). Join shape: A-side explodes at most `k` postings
    * per doc (CONSTANT, vs the prefix's `(1-t)·|a|`) against B's full
    * posting list on the 8-byte hash; per-pair match counts are one
    * hash agg. A cross-shingle hash collision can only nudge the
    * estimate up — survivors are re-scored exactly downstream, the
    * same contract as every candidate stage here.
    *
    * Returns `(id_a, id_b, est_containment)` for pairs with
    * `est ≥ minEst` — run with `minEst = t - margin` and feed the
    * survivors to the exact verifier (the [[jaccardPairsInverted]]
    * verify stage shape); the screen's miss probability is the
    * hypergeometric tail below `minEst`, the documented trade for
    * bounded shuffle volume.
    *
    * Under a BINDING hot-shingle cap (`maxJoinPairs`), the estimator
    * is additionally one-sidedly low by (capped shared shingles in
    * a's sketch)/ka — measured TIGHT on the r18 boundary fixture
    * (est = c·(1−hot_mass_fraction)), so `capCompensate` (default on)
    * credits every capped-hot hash in a's sketch as a potential match
    * when FILTERING against `minEst` (the emitted estimate stays raw).
    * Precision is unaffected (survivors re-verify exactly) and the
    * capped join volume is untouched — candidates still arise only
    * from cold-hash matches, so pairs sharing ONLY capped shingles
    * (the n²/4 blowup class) remain invisible by design. Compensation
    * is GUARDED by the cap's measured cut-mass fraction: when the cut
    * buckets carry ≥ `minEst` of all postings (a deep cap in the bulk
    * of the df spectrum, not a hot tail), the credit alone would clear
    * the threshold for typical pairs and the screen would stop
    * filtering — it then reverts to the raw-estimate filter and the
    * deep-cap recall trade is taken deliberately (see the inline
    * guard note). Caveat (r18 ADVICE): the guard is corpus-GLOBAL
    * while the credit is per-document, so a hot-heavy doc
    * subpopulation under a globally shallow cut still passes every
    * ≥1-cold-match pair of those docs to exact verify; `maxCreditFrac`
    * (default 1.0 = uncapped) bounds the worst doc's credit at
    * ⌊maxCreditFrac·ka⌋ when that verify inflation matters more than
    * full boundary recovery.
    */
  def containmentSketchPairs(df: DataFrame, idCol: String, textCol: String,
                             shingleSize: Int, k: Int,
                             minEst: Double,
                             maxJoinPairs: Long = 0L,
                             precomputedHist: Option[Array[(Long, Long)]] =
                               None,
                             capCompensate: Boolean = true,
                             maxHotBroadcastHashes: Long = 1000000L,
                             maxCreditFrac: Double = 1.0)
      : DataFrame = {
    // spread rationale as [[minhashNearDups]]
    val hashes = graft.Spread.spread(df)
      .select(col(idCol).cast("long").as("id"),
      array_sort(array_distinct(transform(
        shingles(graft.text.TextAnalysis.tokens(col(textCol)), shingleSize),
        s => xxhash64(s)))).as("__hs"))
    val a = hashes.select(col("id").as("id_a"),
      least(size(col("__hs")), lit(k)).as("__ka"),
      explode(slice(col("__hs"), 1, k)).as("h"))
    val b0 = hashes.select(col("id").as("id_b"), explode(col("__hs")).as("h"))
    // Hot-shingle cap (stop-shingle discipline, engaged by the auto
    // gate: maxJoinPairs=0 keeps the uncapped join for the unskewed
    // regimes every anchor measures). The candidate join's row volume
    // is Σ_h df_a(h)·df_b(h) ≤ Σ_h df(h)² — ONE ubiquitous shingle
    // (df ≈ n/2, the zipftok regime that trips the gate) alone is n²/4
    // join rows, i.e. the sketch screen inherits the exact path's
    // blowup unless the hot hashes leave the join. Cut rule: ascending
    // df, retain while the cumulative Σ df² fits `maxJoinPairs`, with
    // the lowest-df bucket as an explicit FLOOR (see the inline policy
    // note below). Estimator bias: a pair's est loses at most
    // (#dropped shared shingles)/ka; ubiquitous shingles are a
    // vanishing fraction of any doc's bottom-k and the sketch margin
    // absorbs the loss; survivors re-verify EXACTLY downstream, so
    // precision is unaffected (r17 zipftok-100× leg measures recall).
    val (b, bindingCap) =
      if (maxJoinPairs <= 0L) (b0, None)
      else {
        // df histogram (df value → #hashes, ascending; provably
        // ≤ √(2·Σdf) rows since distinct values are disjoint and each
        // ≥ its rank — bounded driver-side model state, the k-means/PQ
        // collect discipline). The AUTO path passes the gate's level-3
        // measurement through `precomputedHist`, sparing the
        // posting-scale h-keyed aggregation the cap used to re-run
        // eagerly (r17 ADVICE). Construction is NOT fully lazy in
        // every regime, though: a BINDING cap in the skew regime
        // additionally collects the hot hash VALUES below (one
        // bounded job, ≤ maxHotBroadcastHashes rows) because the
        // histogram carries counts, not values. Direct callers pay
        // one eager histogram collect — unavoidable: the cap is a
        // driver-side scalar that steers the join's plan SHAPE. (The
        // gate's histogram counts per-doc-distinct shingle hashes
        // without the b0 side's extra array_distinct over hash values;
        // they differ only on a within-doc xxhash64 collision — the
        // cap is a cost heuristic and survivors re-verify exactly.)
        val hist: Array[(Long, Long)] = precomputedHist.getOrElse {
          b0.groupBy(col("h")).agg(count(lit(1)).as("__df"))
            .groupBy(col("__df")).agg(count(lit(1)).as("__nh"))
            .orderBy(col("__df")).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        var acc = BigInt(0)
        var cap = 0L
        for ((v, nh) <- hist) {
          acc += BigInt(v) * BigInt(v) * BigInt(nh)
          if (acc <= BigInt(maxJoinPairs)) cap = v
        }
        // Lowest-bucket FLOOR — explicit policy, not an initialization
        // accident (r17 ADVICE): when even the lowest-df bucket alone
        // blows the budget, retain it anyway. An empty screen is a
        // SILENT 100% recall loss, strictly worse than an over-budget-
        // but-minimal join, and the floor join is the cheapest
        // non-vacuous candidate join any cut can produce (every
        // retained posting has minimum df). Corollary: a single-bucket
        // skewed corpus runs uncapped BY POLICY — there is nothing to
        // drop that doesn't drop everything; a caller needing a hard
        // ceiling there must shrink the corpus slice, not the cap.
        val floorCap = if (hist.isEmpty) 0L else math.max(cap, hist.head._1)
        // non-binding cap (total Σ df² fits the budget — every anchored
        // bench scale): keep the ORIGINAL uncapped join; the filter
        // join is pure overhead when it drops nothing
        // compensation guard (measured from the SAME histogram, zero
        // extra jobs): cutFrac = the cut buckets' share of all
        // postings ≈ the typical doc's hot-mass fraction. When
        // cutFrac ≥ minEst, the per-doc credit ALONE clears the screen
        // threshold for typical pairs — the compensated screen stops
        // filtering and the exact-verify stage inherits the full
        // candidate-join volume (measured: sf100 at a deep 2e8 cap
        // ENOSPC'd the verify arrays). Compensation therefore engages
        // only in the regime it was built for — few ubiquitous
        // shingles carrying a borderline pair's mass (zipftok:
        // cutFrac ≈ 1%; boundary fixture: 0.25) — and a cap cutting
        // into the BULK of the df spectrum reverts to the raw-est
        // filter, accepting the documented deep-cap recall trade (the
        // pair-volume bound takes precedence; the budget knob, not
        // the margin, is the recall lever there).
        def cutFrac(floorCap: Long): Double = {
          val total = hist.iterator
            .map { case (v, nh) => BigInt(v) * BigInt(nh) }.sum
          val cut = hist.iterator.filter(_._1 > floorCap)
            .map { case (v, nh) => BigInt(v) * BigInt(nh) }.sum
          if (total > 0) cut.toDouble / total.toDouble else 0.0
        }
        if (hist.isEmpty || floorCap >= hist.last._1) (b0, None)
        else {
          val hotHashCount = hist.iterator.filter(_._1 > floorCap)
            .map { case (_, nh) => BigInt(nh) }.sum
          if (hotHashCount <= BigInt(maxHotBroadcastHashes)) {
            // SKEW regime — the cap's home turf: the cut buckets hold
            // FEW distinct hashes (the histogram proves it BEFORE any
            // work: zipftok cuts ~16). Collect their VALUES once at
            // construction and spell the cut as a BROADCAST anti-join.
            // This deletes every extra posting-scale pass from the
            // executed plan: a ReuseProbe on the shuffle-join spelling
            // measured ZERO ReusedExchange across the cut/credit
            // subplans, i.e. the h-keyed aggregation re-ran once for
            // the cut and once for the credit — two full posting
            // passes. The price is ONE bounded construction job (the
            // hot-value collect, ≤ maxHotBroadcastHashes rows — the
            // same driver-side-model-state discipline as the
            // histogram itself).
            val sess = df.sparkSession
            import sess.implicits._
            val hot = b0.groupBy(col("h")).agg(count(lit(1)).as("__df"))
              .where(col("__df") > floorCap)
              .select(col("h")).collect().map(_.getLong(0))
            val hotDf = hot.toSeq.toDF("h")
            (b0.join(broadcast(hotDf), Seq("h"), "left_anti"),
              Some((floorCap, cutFrac(floorCap), Some(hotDf))))
          } else {
            // BULK-cut regime (unskewed volume trips, e.g. sf100 at a
            // reduced budget): too many hot hashes to collect — keep
            // the shuffle-join cut; the compensation guard disables
            // the credit in this regime anyway (cutFrac ≥ minEst), so
            // the plan carries exactly one extra posting pass
            val dfs = b0.groupBy(col("h")).agg(count(lit(1)).as("__df"))
            (b0.join(dfs.where(col("__df") <= floorCap).select(col("h")),
                "h"),
              Some((floorCap, cutFrac(floorCap), None)))
          }
        }
      }
    val matches = a.join(b, "h")
      .where(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("__ka"))
      .agg(count(lit(1)).as("__m"))
      .withColumn("est_containment",
        TextAnalysis.exactRound6Ratio(col("__m"), col("__ka")))
    val screened = bindingCap match {
      case Some((floorCap, cutFrac, hotDfOpt))
          if capCompensate && cutFrac < minEst =>
        // Capped-hot COMPENSATION (r18, from the boundary-recall
        // measurement): cutting a hot hash from the join makes the
        // estimator ONE-SIDEDLY low — a pair whose containment mass
        // rides the capped shingles loses exactly (capped shared in
        // a's sketch)/ka of est, which the margin cannot absorb when
        // hot mass dominates (measured TIGHT: est_capped = c·(1−hot
        // fraction) on the boundary fixture). Since survivors
        // re-verify EXACTLY downstream, the screen may be optimistic
        // for free: credit every capped-hot hash in a's sketch as a
        // potential match (__ahot — it *would* have joined B if B
        // contains it) and keep the pair when the credited estimate
        // clears minEst. The bounded join volume — the thing the cap
        // exists to protect — is untouched: candidate pairs are still
        // generated ONLY by cold-hash matches, so a pair sharing
        // nothing but capped shingles stays invisible (that IS the
        // n²/4 blowup class; its pairs are unrecoverable by design
        // and belong to the exact path's regime). Emitted
        // est_containment stays the RAW (uncredited) estimate.
        // credit source: the broadcast hot set when the skew regime
        // collected it (no shuffle, no posting recompute); else the
        // shuffle-derived hot set (bulk regime — in practice the
        // guard above already excluded it)
        val hotSet = hotDfOpt.map(broadcast).getOrElse {
          b0.groupBy(col("h")).agg(count(lit(1)).as("__df"))
            .where(col("__df") > floorCap).select(col("h"))
        }
        val aHot = a.join(hotSet, Seq("h"), "left_semi")
          .groupBy(col("id_a")).agg(count(lit(1)).as("__ahot"))
        // Per-doc credit bound (r18 ADVICE): the GLOBAL guard above
        // compares the corpus-wide cut fraction, but the credit is
        // per-document — a hot-heavy SUBPOPULATION under a globally
        // shallow cut (doc hot fraction ≥ minEst while cutFrac ≪
        // minEst) passes every ≥1-cold-match pair of those docs to
        // exact verify, including pairs whose partner holds NONE of
        // the hot mass (the credit assumes b contains a's capped
        // hashes — false for such partners). `maxCreditFrac` caps the
        // credit at ⌊maxCreditFrac·ka⌋ per doc, bounding the worst
        // doc's verify inflation: at f < minEst a credited pair still
        // needs ≥ (minEst−f)·ka REAL cold matches. Default 1.0 keeps
        // the uncapped credit (full boundary-recall recovery — the
        // documented trade is verify volume, never precision, since
        // survivors re-verify exactly).
        val credit = least(col("__ahot"),
          floor(col("__ka") * lit(maxCreditFrac)).cast("long"))
        matches.join(aHot, Seq("id_a"), "left")
          .withColumn("__ahot", coalesce(col("__ahot"), lit(0L)))
          .where(TextAnalysis.exactRound6Ratio(
            col("__m") + credit, col("__ka")) >= minEst)
          .drop("__ahot")
      case _ =>
        matches.where(col("est_containment") >= minEst)
    }
    screened.select(col("id_a"), col("id_b"), col("est_containment"))
  }

  /** Exact directional containment re-scored over full shingle sets
    * for a given pair list — the verify stage the sketch screen feeds.
    */
  def withContainment(pairs: DataFrame, withSh: DataFrame,
                      idCol: String, shCol: String): DataFrame =
    pairs
      .join(withSh.select(col(idCol).as("id_a"), col(shCol).as("__sh_a")), "id_a")
      .join(withSh.select(col(idCol).as("id_b"), col(shCol).as("__sh_b")), "id_b")
      .withColumn("exact_containment",
        TextAnalysis.exactRound6Ratio(
          size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("long"),
          size(col("__sh_a")).cast("long")))
      .drop("__sh_a", "__sh_b")
}
