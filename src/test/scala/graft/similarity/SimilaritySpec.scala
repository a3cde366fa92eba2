package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.VectorExprs.{NearestCells, SrpBandKeys}
import graft.model.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** LSH top-k as the registry's `sim_topk_lsh` composes it. */
  private def lshTopK(q: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    Similarity.rerankTopK(
      Similarity.lshCandidates(q, corpus, "vec_id", "embedding"),
      q, corpus, "vec_id", "embedding", k)

  test("cosine of known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),   // orthogonal
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f)),   // identical
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f))   // opposite
    ).toDF("a", "b")
    val out = df.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(out(0)) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
    assert(math.abs(out(2) + 1.0) < 1e-12)
  }

  test("brute-force top-k: ranks are 1..k, best-first, self excluded") {
    val emb = Tables.embeddings(spark, sf())
    val out = Similarity.bruteForceTopK(
      emb.where($"vec_id" < 3), emb, "vec_id", "embedding", k = 5)
    val rows = out.collect()
    assert(rows.length == 15)
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to 5))
      assert(sorted.map(_.getDouble(3)).toSeq.reverse.sorted.reverse ==
        sorted.map(_.getDouble(3)).toSeq, "scores must be non-increasing")
      assert(!rs.exists(_.getLong(1) == q), "self must be excluded")
    }
  }

  test("LSH top-k recall vs brute force is usable (> 0.5 on random data)") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = lshTopK(q, emb, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"LSH recall@10 = $recall%.2f (16 bands × 8 bits, Hamming-1 multi-probe)")
    assert(recall > 0.5, f"recall $recall%.2f too low")
  }

  test("recallAtK: per-query hit fraction with left-join semantics") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val out = Similarity.recallAtK(approx, exact)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3))).sortBy(_._1).toList
    // q1: found 10 but not 11 → 0.5; q2: both → 1.0; approx-only 99 ignored
    assert(out == List((1L, 2, 1, 0.5), (2L, 2, 2, 1.0)))
  }

  test("recallAtK agrees with the set-based recall on the real LSH path") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
    val approx = lshTopK(q, emb, 10)
    val perQuery = Similarity.recallAtK(approx, exact)
    val macroRecall = perQuery.agg(avg($"recall")).head().getDouble(0)
    val eSet = exact.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val aSet = approx.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val setRecall = (eSet intersect aSet).size.toDouble / eSet.size
    // equal-k queries make micro == macro recall
    assert(math.abs(macroRecall - setRecall) < 1e-6,
      s"recallAtK $macroRecall vs set recall $setRecall")
  }

  test("SRP band buckets are small: max bucket ≪ corpus (the subquadratic guard)") {
    // reproduce the banding exactly as cosineNearDups/lshCandidates build it
    // (16 bands × 8-bit keys over the fixed-seed hyperplanes) and assert
    // no bucket concentrates the corpus — a 2-bit key space would put
    // ~n/4 rows in every bucket and candidate generation would be Θ(n²)
    val emb = Tables.embeddings(spark, sf())
    val n = emb.count()
    val planes = Similarity.hyperplanes(128, 64)
    val keyed = emb.select($"vec_id", array((0 until 16).map { bi =>
      struct(lit(bi).as("band_id"),
        Similarity.srpSignature($"embedding",
          planes.slice(bi * 8, (bi + 1) * 8)).as("band_key"))
    }: _*).as("bands"))
      .select(explode($"bands").as("b"))
      .groupBy($"b.band_id", $"b.band_key").count()
    val maxBucket = keyed.agg(max("count")).as[Long].head()
    info(s"corpus=$n maxBucket=$maxBucket")
    assert(maxBucket <= math.max(8L, n / 8),
      s"hot bucket: $maxBucket of $n rows share one (band, key)")
  }

  test("srpPlan sizes bands/bits: key space grows with n, bands bounded") {
    val (bits1k, bands1k) = Similarity.srpPlan(1000, 0.45, 0.9)
    assert(bits1k == 8) // floor: key space 256 even for small corpora
    val (bitsB, _) = Similarity.srpPlan(1000000000L, 0.45, 0.9)
    assert(bitsB >= 23, s"1e9 rows need ~2^24 key space, got 2^$bitsB")
    assert(bands1k >= 4 && bands1k <= 128, s"bands1k=$bands1k")
    // multi-probe divides bands ~5× (used by lshCandidates on the query side)
    val (_, bandsMp) = Similarity.srpPlan(1000, 0.45, 0.9, multiProbe = true)
    assert(bandsMp < bands1k / 3, s"mp=$bandsMp vs $bands1k")
  }

  test("trainSampleModFor leaves ~128 rows per cell") {
    // 2,048,000 rows at the √(n·nprobe) cell count for nprobe = 4
    val n = 64000L * 32
    val cells = math.ceil(math.sqrt(n * 4.0)).toInt
    val mod = Similarity.trainSampleModFor(n, cells)
    val sampled = n / mod
    assert(sampled >= 100L * cells && sampled <= 300L * cells, s"mod=$mod")
  }

  test("nearestCells matches the naive (sim desc, cell desc) ordering, ties included") {
    val rnd = new scala.util.Random(5)
    // 3-dim corpus, 7 centroids, two of them IDENTICAL to force sim ties
    val base = Array.fill(6)(Seq.fill(3)(rnd.nextFloat()))
    val cents = (base :+ base(2)).map(v =>
      (v, math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)))
    val rows = Seq.tabulate(50)(i => (i.toLong, Seq.fill(3)(rnd.nextFloat())))
    val df = rows.toDF("id", "vec")
    val got = df.select($"id", Similarity.nearestCells(cents, 3)($"vec").as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    rows.foreach { case (id, v) =>
      val want = cents.zipWithIndex.map { case ((cv, cn), i) =>
        (v.zip(cv).map { case (a, b) => a.toDouble * b.toDouble }.sum / cn, i)
      }.sortBy { case (s, i) => (-s, -i) }.take(3).map(_._2).toList
      assert(got(id) == want, s"id=$id")
    }
  }

  test("IVF top-k recall vs brute force is usable (>= 0.7 with nprobe=8/16)") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the registry's sim_topk_ivf composition
    def ivfTopK() = Similarity.rerankTopK(
      Similarity.ivfCandidates(q, emb, "vec_id", "embedding",
        numCells = 16, nprobe = 8),
      q, emb, "vec_id", "embedding", 10)
    val approx = ivfTopK()
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"IVF recall@10 = $recall%.2f (nprobe 8 of 16 cells)")
    // trained (stratified-init + 1 Lloyd round) centroids give BALANCED
    // cells: honest pruning (each probe sees ~n·nprobe/numCells rows)
    // with recall still comfortably above the 0.7 floor
    assert(recall >= 0.7, f"recall $recall%.2f too low")
    val ranks = ivfTopK()
      .groupBy("query_id").agg(max("rank").as("m"), count(lit(1)).as("n"))
      .collect()
    ranks.foreach(r => assert(r.getInt(1) == r.getLong(2).toInt,
      "ranks must be dense 1..n per query"))
  }

  test("PQ ADC is EXACT when vectors are concatenations of codewords " +
    "(zero quantization error)") {
    // 2 subspaces × 2 codewords of dim 2; corpus vectors built from
    // codeword pairs → encode loses nothing → est_dot == exact dot
    val cbs: Array[Array[Seq[Float]]] = Array(
      Array(Seq(1f, 0f), Seq(0f, 2f)),
      Array(Seq(3f, 0f), Seq(0f, 1f)))
    def cat(a: Seq[Float], b: Seq[Float]) = (a ++ b).toArray
    val rows = Seq(
      (0L, cat(cbs(0)(0), cbs(1)(0))), // [1,0,3,0]
      (1L, cat(cbs(0)(1), cbs(1)(1))), // [0,2,0,1]
      (2L, cat(cbs(0)(0), cbs(1)(1))), // [1,0,0,1]
      (3L, cat(cbs(0)(1), cbs(1)(0)))) // [0,2,3,0]
    val df = rows.toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(df, "vec_id", "embedding", cbs)
    val out = Similarity.pqAdcTopK(df.where($"vec_id" === 0), codes, cbs,
        "vec_id", "embedding", k = 3)
      .orderBy($"rank")
      .select($"neighbor_id", $"est_dot").as[(Long, Double)].collect().toSeq
    // exact dots vs v0=[1,0,3,0]: v3 → 9, v2 → 1, v1 → 0
    assert(out == Seq((3L, 9.0), (2L, 1.0), (1L, 0.0)))
  }

  test("pqTrain is deterministic across partitionings; encode covers " +
    "all subspaces") {
    val emb = Tables.embeddings(spark, sf())
    val a = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, k = 8,
      iters = 1)
    val b = Similarity.pqTrain(emb.repartition(13), "vec_id", "embedding",
      m = 4, k = 8, iters = 1)
    assert(a.length == b.length &&
      a.zip(b).forall { case (x, y) =>
        x.length == y.length && x.zip(y).forall(p => p._1 == p._2) },
      "codebooks must be bit-identical whatever the partitioning")
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", a)
    val n = emb.count()
    assert(codes.count() == n * 4, "m rows per vector")
    assert(codes.groupBy("subspace").count().count() == 4)
  }

  test("PQ two-stage (ADC shortlist → exact re-rank) recall beats raw " +
    "ADC and clears the usable floor") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.where($"vec_id" < 8)
    val cbs = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16,
      iters = 2)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
    val exact = Similarity.bruteForceTopKDot(q, emb, "vec_id", "embedding", 10)
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double = {
      val r = Similarity.recallAtK(approx, exact)
        .agg(avg($"recall")).head().getDouble(0)
      r
    }
    val raw = meanRecall(
      Similarity.pqAdcTopK(q, codes, cbs, "vec_id", "embedding", 10))
    val reranked = meanRecall(Similarity.pqShortlistRerank(
      q, codes, cbs, emb, "vec_id", "embedding", k = 10, shortlist = 50))
    // measured on this corpus: raw ≈ 0.28, reranked ≈ 0.64 (random
    // embeddings are PQ's worst case — no cluster structure to quantize)
    assert(raw >= 0.15, s"raw ADC recall collapsed: $raw")
    assert(reranked >= 0.5, s"two-stage recall too low: $reranked")
    assert(reranked > raw, "re-ranking must buy recall back")
  }

  test("IVF×PQ composition: pair-scoring agrees with the full ADC " +
    "table, and the stacked index keeps usable recall") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.where($"vec_id" < 8)
    val cbs = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16,
      iters = 2)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
    // scoring a full all-pairs list must reproduce pqAdcTopK exactly
    val allPairs = q.select($"vec_id".as("query_id"))
      .crossJoin(emb.select($"vec_id".as("neighbor_id")))
      .where($"query_id" =!= $"neighbor_id")
    val viaPairs = Similarity.pqAdcScorePairs(allPairs, q, codes, cbs,
        "vec_id", "embedding")
      .select($"query_id", $"neighbor_id", $"__est_micro")
      .orderBy($"query_id", $"neighbor_id").collect().toSeq
    val viaTable = Similarity.pqAdcTopK(q, codes, cbs, "vec_id",
        "embedding", k = Int.MaxValue)
      .select($"query_id", $"neighbor_id",
        round($"est_dot" * 1e6, 0).cast("long").as("m"))
      .orderBy($"query_id", $"neighbor_id").collect().toSeq
    assert(viaPairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      viaTable.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    val cands = Similarity.ivfCandidates(q, emb, "vec_id", "embedding",
      numCells = 16, nprobe = 8)
    val stacked = Similarity.ivfPqTopK(q, emb, cands, codes, cbs,
      "vec_id", "embedding", k = 10, shortlist = 50)
    val exact = Similarity.bruteForceTopKDot(q, emb, "vec_id", "embedding", 10)
    val recall = Similarity.recallAtK(stacked, exact)
      .agg(avg($"recall")).head().getDouble(0)
    assert(recall >= 0.4, s"stacked IVF×PQ recall too low: $recall")
  }

  test("residual IVFPQ: residuals quantize with less error than raw " +
    "vectors, and the stacked recall holds") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.where($"vec_id" < 8)
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
      numCells = 16, iters = 1)
    val resid = Similarity.residuals(emb, "vec_id", "embedding", cents)
    // residual mass must be well below raw vector mass — that's WHY
    // the published form quantizes residuals
    val rawNorm = emb.select(
      Similarity.l2Norm($"embedding").as("n")).agg(avg($"n")).head().getDouble(0)
    val resNorm = resid.select(
      Similarity.l2Norm($"__resid").as("n")).agg(avg($"n")).head().getDouble(0)
    assert(resNorm < rawNorm,
      s"residuals ($resNorm) should be smaller than raw vectors ($rawNorm)")
    val cbs = Similarity.pqTrain(resid, "vec_id", "__resid", m = 8, k = 16,
      iters = 2)
    val codes = Similarity.pqEncode(resid, "vec_id", "__resid", cbs)
    val cells = resid.select($"vec_id".as("neighbor_id"), $"cell")
    val cands = Similarity.ivfProbe(q, "vec_id", "embedding", cents,
      cells, nprobe = 8)
    val out = Similarity.ivfPqResidualTopK(q, emb, cands,
      resid.select("vec_id", "cell"), codes, cents, cbs,
      "vec_id", "embedding", k = 10, shortlist = 50)
    val exact = Similarity.bruteForceTopKDot(q, emb, "vec_id", "embedding", 10)
    val recall = Similarity.recallAtK(out, exact)
      .agg(avg($"recall")).head().getDouble(0)
    assert(recall >= 0.4, s"residual IVFPQ recall too low: $recall")
  }

  test("cosineNearDups finds the corpus' top pairs and nothing below threshold") {
    val emb = Tables.embeddings(spark, sf())
    val out = Similarity.cosineNearDups(emb, "vec_id", "embedding", 0.4).collect()
    assert(out.forall(_.getDouble(2) >= 0.4))
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    // recall vs the exact pair set (bounded 500-row corpus → crossJoin ok
    // in-test). S-curve predicts ≈0.8 at s=0.4 for 64 bands × 8 bits
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("vb"))
    val exact = a.crossJoin(b).where($"id_a" < $"id_b")
      .where(Similarity.cosine($"va", $"vb") >= 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSet = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect gotSet).size.toDouble / math.max(1, exact.size)
    info(f"near-dup recall = $recall%.2f (${gotSet.size}/${exact.size} pairs)")
    assert(recall >= 0.7, f"near-dup recall $recall%.2f below floor")
    assert((gotSet diff exact).isEmpty, "LSH must not emit sub-threshold pairs")
  }

  test("kmeans: Lloyd rounds improve the clustering objective, deterministically") {
    val emb = Tables.embeddings(spark, sf())
    def objective(cents: Array[(Seq[Float], Double)]): Double =
      emb.select(array_max(array(cents.zipWithIndex.map { case ((cv, cn), i) =>
          Similarity.dot($"embedding", array(cv.map(lit): _*)) /
            (lit(cn) * Similarity.l2Norm($"embedding"))
        }: _*)).as("best"))
        .agg(sum("best")).as[Double].head()
    val c0 = Similarity.trainCentroids(emb, "vec_id", "embedding", 8, iters = 0)
    val c3 = Similarity.trainCentroids(emb, "vec_id", "embedding", 8, iters = 3)
    val (o0, o3) = (objective(c0), objective(c3))
    info(f"objective (mean best-cosine × n): init=$o0%.2f after3=$o3%.2f")
    assert(o3 > o0, s"Lloyd rounds must improve the objective: $o0 -> $o3")
    // deterministic: same data → identical model
    val c3b = Similarity.trainCentroids(emb, "vec_id", "embedding", 8, iters = 3)
    assert(c3.map(_._1) sameElements c3b.map(_._1))
    assert(c3.length >= 6, s"expected ~8 non-empty cells, got ${c3.length}")
  }

  test("dim is derived from the data: LSH works on a non-64-dim corpus " +
    "and a mixed-dim corpus fails loudly") {
    // 16-dim corpus: two tight clusters + noise. With hard-coded 64-dim
    // planes this would throw (and before the guard, silently hash
    // truncated projections); with derived dim the cluster twin must be
    // every point's top-1 neighbor.
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + rnd.nextGaussian().toFloat * 0.01f)
    val base1 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base2 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val rows = (0L until 40L).map { i =>
      val v = if (i < 10) jitter(base1)
        else if (i < 20) jitter(base2)
        else Array.fill(16)(rnd.nextGaussian().toFloat)
      (i, v)
    }
    val emb16 = rows.toDF("vec_id", "embedding")
    assert(Similarity.vecDim(emb16, "embedding") == 16)
    val out = lshTopK(emb16.where($"vec_id" < 5), emb16, k = 3).collect()
    assert(out.nonEmpty)
    val top1 = out.filter(_.getInt(2) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach { q =>
      assert(top1.contains(q) && top1(q) < 10,
        s"query $q top-1 should be a cluster-1 twin, got ${top1.get(q)}")
    }
    // near-dups on the same 16-dim corpus: cluster pairs only
    val nd = Similarity.cosineNearDups(emb16, "vec_id", "embedding", 0.9)
      .collect()
    assert(nd.nonEmpty)
    assert(nd.forall(r => (r.getLong(0) < 10) == (r.getLong(1) < 10)))
    // mixed-dim corpus: the signature expression must raise, not truncate
    val mixed = emb16.union(Seq((99L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding"))
    val ex = intercept[Exception] {
      Similarity.lshCandidates(mixed.where($"vec_id" < 5), mixed,
        "vec_id", "embedding").count()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage match {
      case null => false
      case m => m.contains("dim")
    }), s"expected a dimension-mismatch error, got $ex")
  }

  test("deterministic across runs: same seed → same LSH output") {
    val emb = Tables.embeddings(spark, sf())
    def run() = lshTopK(emb.where($"vec_id" < 3), emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(run() == run())
  }

  test("semanticDedup matches a plain-Scala within-cell reference " +
    "and never drops across cells") {
    val emb = Tables.embeddings(spark, sf())
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
      numCells = 8, iters = 3)
    val t = 0.38
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding", cents, t)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap

    // plain-Scala reference over the collected corpus
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val cellOf = out.map { case (id, (c, _)) => id -> c }
    val refKeep = vecs.keys.map { id =>
      id -> !vecs.keys.exists(o => o < id && cellOf(o) == cellOf(id) &&
        cos(vecs(o), vecs(id)) >= t)
    }.toMap
    assert(out.size == vecs.size)
    val drops = out.count(!_._2._2)
    assert(drops > 0, "threshold should drop at least one near-dup")
    out.foreach { case (id, (_, keep)) =>
      assert(keep == refKeep(id), s"vec $id keep=$keep ref=${refKeep(id)}")
    }
  }

  test("hardNegatives: positives excluded, margin to best positive, " +
    "null margin when the anchor has no positive") {
    import spark.implicits._
    // 2-D fixture: anchor 0 = (1,0) has one positive (id 1, cos
    // ≈ 0.99995 ≥ 0.9) and negatives id 2 (cos 0.707107), id 3 (0.0),
    // id 4 (-1.0); anchor 4 = (-1,0) has NO positive at 0.9
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.01f)), (2L, Array(1f, 1f)),
      (3L, Array(0f, 1f)), (4L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(
      emb.where($"vec_id".isin(0L, 4L)), emb, "vec_id", "embedding",
      k = 2, posThreshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getInt(2)) ->
        ((r.getLong(1), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    // anchor 0: positive id 1 never appears; top-2 negatives ranked
    assert(out((0L, 1)) == ((2L, 0.707107, Some(0.292843))))
    assert(out((0L, 2)) == ((3L, 0.0, Some(0.99995))))
    // anchor 4: no positive → null margins; best negative is id 3
    assert(out((4L, 1)) == ((3L, 0.0, None)))
    assert(out((4L, 2)) == ((2L, -0.707107, None)))
    assert(out.size == 4)
  }

  test("mmrRerank: greedy diversity selection, per-query groups, " +
    "k capped at group size") {
    import spark.implicits._
    // query 0: cand 2 duplicates cand 1's direction (sim 1.0) so MMR
    // must skip it for the orthogonal 3 and 4 despite higher rel
    val cands = Seq(
      (0L, 1L, 0.9, Seq(1.0, 0.0, 0.0)),
      (0L, 2L, 0.85, Seq(1.0, 0.0, 0.0)),
      (0L, 3L, 0.8, Seq(0.0, 1.0, 0.0)),
      (0L, 4L, 0.7, Seq(0.0, 0.0, 1.0)),
      (1L, 7L, 0.5, Seq(1.0, 0.0, 0.0)),
      (1L, 9L, 0.6, Seq(0.0, 1.0, 0.0)))
      .toDF("query_id", "cand_id", "rel", "vec")
    val out = Similarity.mmrRerank(cands, k = 3, lambda = 0.7)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      (0L, 1) -> ((1L, 0.9)), (0L, 2) -> ((3L, 0.56)),
      (0L, 3) -> ((4L, 0.49)),
      (1L, 1) -> ((9L, 0.6)), (1L, 2) -> ((7L, 0.35))))
  }

  test("clusterSilhouette: per-cell mean of (b-a)/max(a,b)") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f)),     // own c0: a=0, b=1   → s=1
      (1L, Array(0f, 1f)),     // own c1: a=0, b=1   → s=1
      (2L, Array(0.6f, 0.8f))) // own c1: a=0.2, b=0.4 → s=0.5
      .toDF("vec_id", "embedding")
    val cents = Array((Seq(1f, 0f), 1.0), (Seq(0f, 1f), 1.0))
    val out = Similarity.clusterSilhouette(emb, "vec_id", "embedding", cents)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out == Map(0 -> ((1L, 1.0)), 1 -> ((2L, 0.75))))
  }

  test("rrfFuse: micro-unit RRF, id tie-break, topK cut") {
    import spark.implicits._
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (10L, 2), (40L, 3)).toDF("id", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), "id", "rank", topK = 3)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    // contributions: rank1 → 16393 (1e6/61), rank2 → 16129, rank3 → 15873
    // 10: 16393+16129 = 32522; 20: 16129+16393 = 32522 (tie → id asc);
    // 30: 15873; 40: 15873 (cut by topK=3 after the 30 tie-break)
    assert(out.toSeq == Seq(
      (10L, 2, 32522L, 1), (20L, 2, 32522L, 2), (30L, 1, 15873L, 3)))
  }

  test("topPrincipalDirection: exactly colinear data recovers the " +
    "axis ratio and Rayleigh variance") {
    import spark.implicits._
    // y = 2x exactly → C = [[a,2a],[2a,4a]] with a = 35e12/16; any
    // start lands on direction (1,2) after one mat-vec, pivot dim 1 →
    // loadings (500000, 1000000); λ = 5a = 10.9375e12
    val emb = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(2.0f, 4.0f)),
      (3L, Array(3.0f, 6.0f)), (4L, Array(-1.0f, -2.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.topPrincipalDirection(emb, "vec_id", "embedding")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    assert(out == Seq((0, 500000L, 10937500000000L),
      (1, 1000000L, 10937500000000L)))
  }

  test("dimCorrelations: hand-computed signs and magnitudes; " +
    "constant dims drop out") {
    import spark.implicits._
    // dim1 = dim0 (r=+1), dim2 = −dim0 (r=−1), dim3 constant (no r)
    val emb = Seq(
      (1L, Array(1.0f, 1.0f, -1.0f, 5.0f)),
      (2L, Array(2.0f, 2.0f, -2.0f, 5.0f)),
      (3L, Array(4.0f, 4.0f, -4.0f, 5.0f))).toDF("vec_id", "embedding")
    val out = Similarity.dimCorrelations(emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0, 1, 1.0), (0, 2, -1.0), (1, 2, -1.0)))
  }

  test("labelSeparation: hand-computed two-class geometry") {
    import spark.implicits._
    // class 0 at (1,0)±nothing, class 1 centered (0,1): orthogonal
    // centroids → cosine 0; class-0 members sit ON the centroid →
    // within 0; class-1 members at (0,0.9)/(0,1.1) → dist 1e5 each
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 0.9f), 1),
      (4L, Array(0.0f, 1.1f), 1)).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelSeparation(emb, "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(r == Seq((0, 1, 0.0, 0L, 100000L)))
  }

  test("standardizeEmbeddings: hand-computed z-scores, zero-variance " +
    "dim yields null") {
    import spark.implicits._
    // dim0: 1,3,5 → z = ∓1.2247, 0; dim1: 10,10,40 → −0.7071 ×2,
    // 1.4142; dim2: constant → varnum 0 → NULL
    val emb = Seq(
      (1L, Array(1.0f, 10.0f, 7.0f)),
      (2L, Array(3.0f, 10.0f, 7.0f)),
      (3L, Array(5.0f, 40.0f, 7.0f))).toDF("vec_id", "embedding")
    val got = Similarity.standardizeEmbeddings(emb, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got((1L, 0)) == Some(-1.2247) && got((2L, 0)) == Some(0.0) &&
      got((3L, 0)) == Some(1.2247))
    assert(got((1L, 1)) == Some(-0.7071) && got((3L, 1)) == Some(1.4142))
    assert(got((1L, 2)).isEmpty && got((3L, 2)).isEmpty)
  }

  test("hi/lo split moment sums: bit-equal to the decimal(38,0) path on " +
    "a long-overflow-provoking fixture; no decimal Sum left in the agg") {
    // values up to ±3000 → micro up to ±3·10⁹ → per-row products up to
    // ~9·10¹⁸ (just inside a long); 4000 rows push Σx² to ~10²² ≫ 2⁶³,
    // so a plain long sum cannot represent these moments — equality
    // with the decimal twin proves the split is exact where it matters
    val n = 4000
    val emb = spark.range(n).select(col("id").as("vec_id"),
      array(
        (col("id") % 7 * 857.0 - 3000.0).cast("float"),
        (col("id") % 11 * 545.0 - 2900.0).cast("float"),
        (col("id") % 13 * 461.0 - 2800.0).cast("float")).as("embedding"))
    val x = emb.select(col("vec_id").as("__id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("__id"), col("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("__xm"))
    val a = x.select(col("__id"), col("dim").as("dim_a"),
      col("__xm").as("__xa"))
    val b = x.select(col("__id"), col("dim").as("dim_b"),
      col("__xm").as("__xb"))
    def pairs = a.join(b, "__id").where(col("dim_a") < col("dim_b"))
      .groupBy(col("dim_a"), col("dim_b"))
    val dec = pairs
      .agg(sum((col("__xa") * col("__xa")).cast("decimal(38,0)")).as("sxx"),
        sum((col("__xb") * col("__xb")).cast("decimal(38,0)")).as("syy"),
        sum((col("__xa") * col("__xb")).cast("decimal(38,0)")).as("sxy"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (BigInt(r.getDecimal(2).toBigInteger),
          BigInt(r.getDecimal(3).toBigInteger),
          BigInt(r.getDecimal(4).toBigInteger))).toMap
    val spl = pairs
      .agg(Similarity.splitSumHi(col("__xa") * col("__xa")).as("xxh"),
        Similarity.splitSumLo(col("__xa") * col("__xa")).as("xxl"),
        Similarity.splitSumHi(col("__xb") * col("__xb")).as("yyh"),
        Similarity.splitSumLo(col("__xb") * col("__xb")).as("yyl"),
        Similarity.splitSumHi(col("__xa") * col("__xb")).as("xyh"),
        Similarity.splitSumLo(col("__xa") * col("__xb")).as("xyl"))
      .select(col("dim_a"), col("dim_b"),
        Similarity.splitTotal(col("xxh"), col("xxl")).as("sxx"),
        Similarity.splitTotal(col("yyh"), col("yyl")).as("syy"),
        Similarity.splitTotal(col("xyh"), col("xyl")).as("sxy"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (BigInt(r.getDecimal(2).toBigInteger),
          BigInt(r.getDecimal(3).toBigInteger),
          BigInt(r.getDecimal(4).toBigInteger))).toMap
    assert(spl == dec, "split sums must recombine to the exact decimal sums")
    // the fixture genuinely provokes overflow: the exact Σx² exceeds
    // what any plain-long accumulator can hold
    assert(dec.values.exists(_._1 > BigInt(Long.MaxValue)),
      "fixture must push a moment sum past Long.MaxValue")
    // the production path's ROW-LEVEL aggregate must carry NO decimal
    // Sum — that per-row Decimal allocation was the r9 perf
    // regression. Decimal sums are allowed ONLY in the stratum-
    // recombination aggregate, whose input is itself an aggregate
    // (d²·S stratum rows, never the n·d² stream).
    val out = Similarity.dimCorrelations(emb, "vec_id", "embedding", 3)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
    def hasDecimalSum(agg: Aggregate): Boolean =
      agg.aggregateExpressions.exists(_.collectFirst {
        case ae: AggregateExpression
          if ae.aggregateFunction.isInstanceOf[Sum] &&
            ae.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] => ae
      }.isDefined)
    def throughProjects(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => throughProjects(pr.child)
      case other => other
    }
    val aggs = out.queryExecution.optimizedPlan.collect {
      case agg: Aggregate => agg
    }
    val offenders = aggs.filter(a => hasDecimalSum(a) &&
      !throughProjects(a.child).isInstanceOf[Aggregate])
    assert(offenders.isEmpty,
      s"decimal-typed Sum over a row-level stream: $offenders")
    // and the stratified recombination stage must exist (the 100 TB
    // group-size escape: without it one dim pair aggregates the whole
    // corpus into a single long-space group)
    assert(aggs.exists(a => hasDecimalSum(a) &&
      throughProjects(a.child).isInstanceOf[Aggregate]),
      "expected the stratum-recombination aggregate stage")
    // end-to-end: correlations are sane on the overflow-scale fixture
    val rows = out.collect()
    assert(rows.length == 3 &&
      rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
    // the corpus-scale strata escape is EXACT: results identical at
    // strata 1 (default) and 1024 (the >4·10⁹-rows-per-group form),
    // on the same overflow-provoking fixture
    val strat = Similarity.dimCorrelations(emb, "vec_id", "embedding", 3,
      strata = 1024).collect()
    assert(strat.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2),
        r.getInt(3))).toSeq ==
      rows.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2),
        r.getInt(3))).toSeq,
      "stratified split sums must be bit-identical to the default")
    val stdDefault = Similarity.standardizeEmbeddings(
      emb, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val stdStrat = Similarity.standardizeEmbeddings(
      emb, "vec_id", "embedding", strata = 1024).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(stdStrat == stdDefault)
    // and the power-iteration path (same split inside) still runs
    // clean, with the strata escape bit-identical there too
    val pid = Similarity.topPrincipalDirection(emb, "vec_id", "embedding")
      .collect()
    assert(pid.length == 3 && pid.exists(_.getLong(1) == 1000000L),
      "pivot loading must be +10^6")
    val pidStrat = Similarity.topPrincipalDirection(emb, "vec_id",
      "embedding", strata = 1024).collect()
    assert(pidStrat.map(_.toSeq).toSeq == pid.map(_.toSeq).toSeq)
  }

  test("cosineNearDupsAuto: measured gate reroutes a background-tail " +
    "threshold to the cell-bounded operator, bands above it; planted " +
    "exact dups survive both routes") {
    // deterministic corpus: 300 seeded gaussian 64-dim vectors (background
    // cosine ~N(0, 1/8): p99 ≈ 0.29) + 5 EXACT duplicate pairs — an exact
    // dup shares every band key and every kmeans cell, so both routes must
    // find it regardless of plane draws
    val rnd = new scala.util.Random(42)
    val base = (0 until 300).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 5).map(j => (1000L + j, base(j)._2))
    val corpus = (base ++ dups).toDF("vec_id", "embedding")

    val bg = Similarity.measuredBgSim(corpus, "vec_id", "embedding", 0.95)
    info(f"measured bg: mean=${bg.mean}%.3f p99=${bg.p99}%.3f " +
      f"frac>=0.95=${bg.fracAtOrAbove}%.5f over ${bg.nPairs} pairs")
    assert(bg.nPairs > 10000 && math.abs(bg.mean) < 0.1 &&
      bg.p99 > 0.15 && bg.p99 < 0.45, "sampled background must look gaussian")

    // threshold INSIDE the background tail -> cell-bounded reroute
    val n = corpus.count()
    assert(Similarity.nearDupsReroute(bg, n, 0.2),
      "threshold 0.2 <= p99+margin must reroute to cells")
    val cellOut = Similarity.cosineNearDupsAuto(
      corpus, "vec_id", "embedding", threshold = 0.2)
    assert(plants[NearestCells](cellOut) && !plants[SrpBandKeys](cellOut),
      "the rerouted frame must assign cells, not key bands")
    // threshold far ABOVE the tail -> banded route
    assert(!Similarity.nearDupsReroute(bg, n, 0.95),
      "threshold 0.95 must stay on the banded route")
    val bandOut = Similarity.cosineNearDupsAuto(
      corpus, "vec_id", "embedding", threshold = 0.95)
    assert(plants[SrpBandKeys](bandOut) && !plants[NearestCells](bandOut),
      "the banded frame must key bands, not assign cells")

    val planted = (0 until 5).map(j => (j.toLong, 1000L + j)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bandPairs = pairs(bandOut)
    val cellPairs = pairs(cellOut)
    planted.foreach { p =>
      assert(bandPairs.get(p).contains(1.0), s"banded route must find $p")
      assert(cellPairs.get(p).contains(1.0), s"cell route must find $p")
    }
    // every emitted pair is exact-verified at or above its threshold
    assert(bandPairs.values.forall(_ >= 0.95))
    assert(cellPairs.values.forall(_ >= 0.2))
    // and each route's output is a subset of the brute-force truth
    val brute = pairs(Similarity.cosineNearDupsFromCandidates(
      corpus.select($"vec_id".as("id_a")).crossJoin(
        corpus.select($"vec_id".as("id_b"))).where($"id_a" < $"id_b"),
      corpus, "vec_id", "embedding", 0.2))
    assert(cellPairs.keySet.subsetOf(brute.keySet))
    assert(bandPairs.keySet.subsetOf(brute.keySet))
  }

  test("cosineNearDupsAuto: a DEGENERATE high-background space (byte-" +
    "histogram features, bg p99 near the threshold) reroutes to cells " +
    "and still finds planted exact dups") {
    // histogram-like corpus: all-positive 16-dim vectors around a shared
    // profile — the multimodal block-hash regime (measured sf10: bg mean
    // 0.76, p99 0.93, frac>=0.95 = 1.1e-3). Threshold 0.95 sits inside
    // the background tail, so the measured gate MUST reroute: banding's
    // S-curve gap is 0.95-vs-p99 where rho -> 1 (the r15 measured >50 GB
    // spill), and no band/probe sizing can prune output that IS the
    // background.
    val rnd = new scala.util.Random(7)
    val profile = Array.fill(16)(0.5 + rnd.nextDouble())
    val base = (0 until 400).map { i =>
      (i.toLong, profile.map(p =>
        (p * (0.55 + 0.9 * rnd.nextDouble())).toFloat))
    }
    val dups = (0 until 5).map(j => (2000L + j, base(j)._2))
    val corpus = (base ++ dups).toDF("media_id", "features")

    val bg = Similarity.measuredBgSim(corpus, "media_id", "features", 0.95)
    info(f"degenerate bg: mean=${bg.mean}%.3f p99=${bg.p99}%.3f " +
      f"frac>=0.95=${bg.fracAtOrAbove}%.5f")
    assert(bg.mean > 0.6 && bg.p99 > 0.85,
      "fixture must reproduce the high-background histogram regime")

    assert(Similarity.nearDupsReroute(bg, corpus.count(), 0.95),
      "threshold inside the measured background tail must reroute to cells")
    val out = Similarity.cosineNearDupsAuto(
      corpus, "media_id", "features", threshold = 0.95)
    assert(plants[NearestCells](out) && !plants[SrpBandKeys](out),
      "the rerouted frame must assign cells, not key bands")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    (0 until 5).foreach { j =>
      val p = (j.toLong, 2000L + j)
      assert(got.get(p).contains(1.0),
        s"cell route must find planted exact dup $p")
    }
    assert(got.values.forall(_ >= 0.95), "every pair exact-verified")
  }

  test("srpPlan multiProbe: fewer bands at design recall, and the probed " +
    "candidate path holds usable recall vs brute force") {
    val emb = Tables.embeddings(spark, sf())
    val n = emb.count()
    val (bits, bandsMp) = Similarity.srpPlan(n, 0.45, 0.9, multiProbe = true)
    val (_, bandsNo) = Similarity.srpPlan(n, 0.45, 0.9)
    assert(bandsMp < bandsNo,
      s"multi-probe must need fewer bands ($bandsMp vs $bandsNo)")
    val q = emb.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
    // lshCandidates multi-probes the query side -- the shape srpPlan's
    // multiProbe=true prices; run it at the plan's own sizing
    val approx = Similarity.rerankTopK(
      Similarity.lshCandidates(q, emb, "vec_id", "embedding",
        numPlanes = bits * bandsMp, bands = bandsMp),
      q, emb, "vec_id", "embedding", 10)
    val recall = Similarity.recallAtK(approx, exact)
      .agg(avg($"recall")).head().getDouble(0)
    info(f"multiProbe-sized probe-path recall@10 = $recall%.2f " +
      s"($bandsMp bands x $bits bits)")
    assert(recall > 0.5, f"probe-path recall $recall%.2f too low")
  }

  test("cellRouteRecall: same-cell fraction of true sample pairs, " +
    "exact on a hand-built four-direction corpus (r15 #5)") {
    // four PURE directions (orthogonal axes), magnitudes varying within
    // each: cosine is scale-free, so within-direction pairs are exactly
    // 1.0 and MUST assign to the same nearest centroid whatever the
    // quantizer does; cross-direction pairs are exactly 0.0 and fall
    // below every threshold — recall must be exactly 1.0. (A cluster
    // with internal angular spread CAN legitimately split across cells
    // — that cross-cell miss is the quantity this measures.)
    val rows = (0 until 64).map { i =>
      val v = Array(0f, 0f, 0f, 0f)
      v(i % 4) = 1.0f + (i % 7)
      (i.toLong, v)
    }
    val df = rows.toDF("id", "vec")
    val out = CellRouteRecall.cellRouteRecall(df, "id", "vec",
        Seq(0.9, 0.99), sampleN = 64, targetCellRows = 16)
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    // 4 directions × 16 rows → 4·C(16,2) = 480 true pairs at both
    // thresholds; all same-cell
    val (t9, f9, rec9) = out(0.9)
    assert(t9 == 480, s"expected 480 within-direction pairs, got $t9")
    assert(f9 == t9 && rec9 == 1.0,
      s"cosine-identical pairs must be same-cell: $out")
    val (t99, f99, rec99) = out(0.99)
    assert(t99 == 480 && f99 == t99 && rec99 == 1.0, s"$out")
  }

  test("cellRoutePlantedRecall: eps=0 analog (tiny eps) is found; " +
    "recall and mean sim are monotone-sane (r15 #5)") {
    val emb = Tables.embeddings(spark, sf()).limit(512)
    val out = CellRouteRecall.cellRoutePlantedRecall(emb, "vec_id", "embedding",
        Seq(0.01, 0.2), nPlant = 32, targetCellRows = 64)
      .collect().map(r => r.getDouble(0) ->
        (r.getDouble(1), r.getLong(2), r.getDouble(4))).toMap
    val (sim1, n1, rec1) = out(0.01)
    val (sim2, n2, rec2) = out(0.2)
    assert(n1 == 32 && n2 == 32)
    // cosine((1+e)x_even,(1-e)x_odd form) = analytic (1-e^2)/sqrt-ish:
    // at eps=0.01 the copy is ~0.9998-similar, at 0.2 ~0.92
    assert(sim1 > 0.999 && sim1 <= 1.0 + 1e-9, s"sim1=$sim1")
    assert(sim2 < sim1, s"larger eps must lower planted sim: $sim2 >= $sim1")
    assert(rec1 >= 0.0 && rec1 <= 1.0 && rec2 >= 0.0 && rec2 <= 1.0)
    // a ~0.9998-similar copy lands in its original's cell essentially
    // always; allow one boundary straggler out of 32
    assert(rec1 >= 31.0 / 32.0, s"near-identical planted recall: $rec1")
  }

}
