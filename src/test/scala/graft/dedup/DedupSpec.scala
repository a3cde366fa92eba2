package graft.dedup

import org.apache.spark.sql.functions._
import graft.{JobCounter, SparkSpec}
import graft.model.Tables
import graft.text.TextAnalysis

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("dedupExact keeps min-id survivor with copy counts") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "t")
    val out = dedupExactMap(Dedup.dedupExact(df, "t", "id"))
    assert(out == Map("x" -> (1L, 2L), "y" -> (3L, 1L)))
  }

  private def dedupExactMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** SimHash near-dups as the registry's `dedup_simhash` composes them. */
  private def simhashPairs(df: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String, maxHamming: Int,
                           maxBucketRows: Long = 65536L) =
    Dedup.simhashCandidatePairs(
      df.select(col(idCol), Dedup.simhash64(TextAnalysis.tokens(col(textCol))).as("fp")),
      idCol, "fp", maxHamming, maxBucketRows)

  test("shingles produce n-grams; short docs collapse to one shingle") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "t")
    val sh = df.select($"id",
      Dedup.shingles(TextAnalysis.tokens($"t"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq("a b"))
  }

  test("minhash LSH near-dups == exact brute-force pairs on documents") {
    val docs = Tables.documents(spark, sf())
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    // legacy 16/8 banding: adequate at this corpus size (miss ≈ 1.7e-4
    // per pair at j=0.8 — fine for ~10² true pairs, NOT for ~1e6)
    val lsh168 = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.8)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh168 == exact, s"LSH 16/8 missed/invented pairs: " +
      s"missed=${exact -- lsh168}, extra=${lsh168 -- exact}")
    // shipped DEFAULT banding (32/16, per-pair miss ≈ 8e-8): the
    // config every production call site runs must also match exact
    val lshDefault = Dedup.minhashNearDups(docs, "doc_id", "text")
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lshDefault == exact, s"LSH 32/16 missed/invented pairs: " +
      s"missed=${exact -- lshDefault}, extra=${lshDefault -- exact}")
  }

  test("minhash signature approximates jaccard") {
    // two docs sharing ~half their shingles: signature agreement ≈ j
    val df = Seq(
      (1L, (0 until 40).map(i => s"w$i").mkString(" ")),
      (2L, (20 until 60).map(i => s"w$i").mkString(" "))
    ).toDF("id", "t")
    val sh = df.select($"id", Dedup.shingles(TextAnalysis.tokens($"t"), 3).as("sh"))
    val sig = sh.select($"id", Dedup.minhashSignature($"sh", 128).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agree = sig(1L).zip(sig(2L)).count { case (a, b) => a == b } / 128.0
    val trueJ = sh.as[(Long, Seq[String])].collect().toMap match {
      case m => m(1L).toSet.intersect(m(2L).toSet).size.toDouble /
        m(1L).toSet.union(m(2L).toSet).size
    }
    assert(math.abs(agree - trueJ) < 0.15,
      s"signature agreement $agree should approximate true jaccard $trueJ")
  }

  test("minhashEstimatePairs: estimate == signature agreement, error bounded") {
    // two docs sharing ~half their shingles (j ≈ 1/3) collide in LSH
    // at 2-row bands (P ≈ 1-(1-j²)^64 ≈ 1); the estimate must equal
    // the manual signature-agreement fraction and sit near true jaccard
    val df = Seq(
      (1L, (0 until 40).map(i => s"w$i").mkString(" ")),
      (2L, (20 until 60).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "t")
    val out = Dedup.minhashEstimatePairs(df, "doc_id", "t",
        shingleSize = 3, numHashes = 128, bands = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.length == 1, "the overlapping pair must be an LSH candidate")
    val (a, b, est, exact, err) = out.head
    assert((a, b) == (1L, 2L))
    val sh = df.select($"doc_id",
      Dedup.shingles(TextAnalysis.tokens($"t"), 3).as("sh"))
    val sig = sh.select($"doc_id", Dedup.minhashSignature($"sh", 128).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agree = sig(1L).zip(sig(2L)).count { case (x, y) => x == y } / 128.0
    assert(est == math.rint(agree * 1e6) / 1e6, s"est $est vs agreement $agree")
    assert(err == math.rint(math.abs(est - exact) * 1e6) / 1e6)
    assert(err < 0.15, s"128-hash estimate should be close, err=$err")
  }

  test("simhash: identical docs get identical fingerprints; near-dups within hamming 3") {
    val docs = Tables.documents(spark, sf())
    val planted = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sims = simhashPairs(docs, "doc_id", "text", maxHamming = 7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash at hamming≤7 must recover the strongly-planted pairs
    assert(planted.subsetOf(sims),
      s"simhash missed planted dups: ${planted -- sims}")
  }

  test("simhash hamming distance is 0 for identical token streams") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("id", "t")
    val out = simhashPairs(df, "id", "t", maxHamming = 0).collect()
    assert(out.length == 1 && out.head.getInt(2) == 0)
  }

  test("connectedComponents: chains, disjoint clusters, multi-round convergence") {
    // chain 1-2-3-4-5 (diameter 4 forces >1 propagation round),
    // triangle 10-11-12, isolated edge 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges, "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp(_) == 1L), comp.toString)
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(comp(20L) == 20L && comp(21L) == 20L)
    assert(comp.size == 10)
  }

  test("jaccardPairsInverted == brute-force crossJoin on a corpus slice; " +
    "maxDf guard only drops stop-shingle-only pairs") {
    val docs = graft.model.Tables.documents(spark, sf()).where($"doc_id" < 150)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = pairs(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8))
    val inv = pairs(Dedup.jaccardPairsInverted(docs, "doc_id", "text", 3, 0.8))
    assert(inv == brute, "inverted index must be EXACT")
    // the maxDf cap contract is EXACT (not just "subset"): capped output
    // == brute pairs sharing >=1 under-cap shingle — the PPJoin bounds
    // use the TRUE set size, so the cap never over-prunes beyond its
    // documented may-miss set
    import org.apache.spark.sql.functions.col
    val shSets = docs.select(col("doc_id").cast("long"),
        Dedup.shingles(graft.text.TextAnalysis.tokens(col("text")), 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val dfCount = shSets.values.toSeq.flatten
      .groupBy(identity).map { case (s, xs) => s -> xs.size }
    for (maxDf <- Seq(2L, 3L, 5L)) {
      val capped = pairs(Dedup.jaccardPairsInverted(docs, "doc_id", "text", 3,
        0.8, maxDf = maxDf))
      val expected = brute.filter { case ((a, b), _) =>
        shSets(a).intersect(shSets(b)).exists(s => dfCount(s) <= maxDf) }
      assert(capped == expected,
        s"maxDf=$maxDf must equal the cap contract exactly " +
          s"(got ${capped.size}, want ${expected.size} of ${brute.size})")
    }
    // maxDf=1 is the degenerate cap: every shared shingle has df >= 2,
    // so the contract set — and the output — must be empty
    assert(pairs(Dedup.jaccardPairsInverted(docs, "doc_id", "text", 3,
      0.8, maxDf = 1)).isEmpty)
  }

  test("PPJoin prefix filter: candidate volume shrinks, candidate set is a " +
    "subset, and the verified output is unchanged") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val docs = graft.model.Tables.documents(spark, sf()).where($"doc_id" < 300)
    val withSh = docs.select(col("doc_id").cast("long").as("id"),
      Dedup.shingles(graft.text.TextAnalysis.tokens(col("text")), 3).as("__sh"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairSet(Dedup.jaccardCandidates(withSh, 0.8, prefixFilter = false))
    val pref = pairSet(Dedup.jaccardCandidates(withSh, 0.8, prefixFilter = true))
    assert(pref.subsetOf(full), "prefix filter may only DROP candidates")
    info(s"candidates: ${full.size} -> ${pref.size} " +
      f"(${full.size.toDouble / pref.size}%.1fx reduction at t=0.8)")
    assert(pref.size * 2 <= full.size,
      s"prefix filter should cut candidates >=2x, got ${full.size} -> ${pref.size}")
    // survivors: every true pair still found (exactness), scored identically
    def scored(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = scored(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8))
    val inv = scored(Dedup.jaccardPairsInverted(docs, "doc_id", "text", 3, 0.8))
    assert(inv == brute, "prefix-filtered join must stay EXACT")
  }

  /** Min-label propagation, the reference connectedComponents is checked
    * against: each round every node takes the min label over itself and
    * its neighbours, so a label moves one hop per round (diameter
    * rounds). Returns the labels and the rounds run, at most `maxIters`;
    * the round that changes nothing counts.
    */
  private def minLabel(edges: Seq[(Long, Long)],
                       maxIters: Int = 50): (Map[Long, Long], Int) = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var labels = nbrs.keys.map(n => n -> n).toMap
    var rounds = 0
    var changed = true
    while (changed && rounds < maxIters) {
      val next = labels.map { case (n, l) => n -> nbrs(n).map(labels).min.min(l) }
      changed = next != labels
      labels = next
      rounds += 1
    }
    (labels, rounds)
  }

  test("connectedComponents: alternating == minlabel on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val alternating = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
        "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alternating == minLabel(edges)._1)
  }

  test("connectedComponents: alternating converges in O(log n) rounds on " +
    "a long chain where minlabel needs diameter rounds") {
    // 512-node chain: diameter 511. minlabel moves the min one hop per
    // round; alternating's star contractions collapse it in ~log n.
    // Every round runs the same jobs (one pin, one signature action), so
    // the job count of a run read against two capped runs gives the
    // rounds it took: a loop whose stable-signature stop never fires
    // runs to the 25-round cap.
    val chain = (0L until 511L).map(i => (i, i + 1))
    def run(maxIters: Int): (Map[Long, Long], Int) =
      JobCounter.count(spark.sparkContext)(Dedup.connectedComponents(
          chain.toDF("id_a", "id_b"), "id_a", "id_b", maxIters = maxIters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val (m2, j2) = run(2)
    val (_, j3) = run(3)
    val (m, j25) = run(25)
    val perRound = j3 - j2
    assert(perRound > 0, "a further round must run further jobs")
    assert((j25 - j2) % perRound == 0, s"jobs $j2, $j3, $j25")
    val rounds = 2 + (j25 - j2) / perRound
    assert(rounds <= 15 && rounds < 25,
      s"expected O(log 512) ≈ <=15 rounds, ran $rounds of a 25 cap")
    assert(m.size == 512)
    assert(m.values.count(_ != 0L) == 0)
    assert(m2.values.count(_ != 0L) > 0,
      "2 rounds must not finish a 512-chain: the cap has to bind")
    // and minlabel demonstrably can NOT finish the chain in that budget
    val (_, mlRounds) = minLabel(chain, maxIters = 16)
    assert(mlRounds == 16, "minlabel should exhaust its budget on a chain")
  }

  test("connectedComponents uses a reliable checkpoint dir when configured") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
      val m = Dedup.connectedComponents(edges, "id_a", "id_b").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      // checkpoint blocks must have landed under the configured dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no checkpoint files written to the reliable dir")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("simhash hot-bucket guard bounds a skewed corpus (many identical docs)") {
    // 2000 identical docs → one fingerprint → every (chunk_id, chunk)
    // bucket holds all 2000 rows → ungated candidates would be
    // 2000²/2 ≈ 2M pairs (quadratic). The guard drops overflowing
    // buckets; two distinct near-dup docs in their own buckets survive.
    val skewed = (1L to 2000L).map(i => (i, "the same short template text"))
      .toDF("id", "t")
      .union(Seq((9001L, "zebra quartz jumble vortex nimbus krypton"),
        (9002L, "zebra quartz jumble vortex nimbus krypton")).toDF("id", "t"))
    val gated = simhashPairs(skewed, "id", "t", maxHamming = 7,
      maxBucketRows = 100)
    val rows = gated.collect()
    // the hot bucket is gone: no pair of the 2000 identical docs remains
    assert(!rows.exists(r => r.getLong(0) <= 2000L && r.getLong(1) <= 2000L),
      s"hot-bucket pairs leaked: ${rows.length}")
    // the isolated near-dup pair survives the guard
    assert(rows.exists(r => r.getLong(0) == 9001L && r.getLong(1) == 9002L),
      "guard must not drop small buckets")
    // inert default: same corpus, default cap → identical-doc pairs found
    val ungated = simhashPairs(skewed.where($"id" <= 50), "id", "t",
      maxHamming = 7)
    assert(ungated.where($"id_a" <= 50 && $"id_b" <= 50).count() == 50L * 49 / 2)
  }

  test("substring dedup spans == brute force over the documents corpus") {
    val n = 8
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val got = TextAnalysis.substringDupSpans(docs, "doc_id", "text", n)
      .select("doc_id", "span_start", "span_end")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // brute force: count every stride-1 window corpus-wide, mark
    // duplicated offsets, merge with the same off > prev+n gap rule
    val corpus = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val winCount = scala.collection.mutable.Map.empty[String, Int]
    for ((_, toks) <- corpus; i <- 0 to toks.length - n) {
      val w = toks.slice(i, i + n).mkString(" ")
      winCount(w) = winCount.getOrElse(w, 0) + 1
    }
    val want = scala.collection.mutable.Set.empty[(Long, Int, Int)]
    for ((id, toks) <- corpus) {
      val offs = (0 to toks.length - n)
        .filter(i => winCount(toks.slice(i, i + n).mkString(" ")) > 1)
      var start = -1; var end = -1
      for (o <- offs) {
        if (start < 0) { start = o; end = o + n }
        else if (o > end) { want += ((id, start, end)); start = o; end = o + n }
        else end = o + n
      }
      if (start >= 0) want += ((id, start, end))
    }
    assert(got == want, s"missed=${want -- got}, extra=${got -- want}")
    assert(got.nonEmpty, "corpus should contain duplicated substrings")
  }

  test("substring apply's cleaned corpus agrees with the span accounting") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val kept = TextAnalysis.substringDedupApply(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val summary = TextAnalysis
      .substringDedupSummary(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(kept.keySet == summary.keySet)
    for ((id, (text, n)) <- kept) {
      assert(n.toLong == summary(id),
        s"doc $id: apply kept $n, summary says ${summary(id)}")
      // the emitted text really has n tokens (empty → zero)
      val toks = if (text.isEmpty) 0 else text.split("\\s+").length
      assert(toks == n, s"doc $id: clean_text has $toks tokens, n_kept=$n")
    }
  }

  test("substring dedup degenerates safely when n exceeds every doc") {
    val df = Seq((1L, "a b c"), (2L, "a b c")).toDF("id", "t")
    // n=8 > 3 tokens: no windows exist, so no spans — and apply returns
    // the corpus untouched
    assert(TextAnalysis.substringDupSpans(df, "id", "t", 8).count() == 0)
    val kept = TextAnalysis.substringDedupApply(df, "id", "t", 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(kept(1L) == (("a b c", 3)) && kept(2L) == (("a b c", 3)))
    // at n=3 the two identical docs are one duplicated window each →
    // fully removed
    val gone = TextAnalysis.substringDedupApply(df, "id", "t", 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(gone(1L) == 0 && gone(2L) == 0)
  }

  test("containmentPairsInverted == brute force on a corpus slice and " +
    "catches an excerpt Jaccard misses") {
    import org.apache.spark.sql.functions.col
    val docs = graft.model.Tables.documents(spark, sf()).where($"doc_id" < 150)
    val got = Dedup.containmentPairsInverted(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shSets = docs.select(col("doc_id").cast("long"),
        Dedup.shingles(graft.text.TextAnalysis.tokens(col("text")), 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val brute = (for {
      (a, sa) <- shSets; (b, sb) <- shSets; if a != b
      c = math.rint(sa.intersect(sb).size.toDouble / sa.size * 1e6) / 1e6
      if c >= 0.5
    } yield (a, b) -> c).toMap
    assert(got == brute, "containment join must be EXACT vs brute force")
    // directional semantics: a 10-token excerpt of a 100-token doc is
    // fully contained (C=1.0) yet far below any Jaccard threshold
    val big = (1 to 100).map(i => s"w$i").mkString(" ")
    val excerpt = (21 to 30).map(i => s"w$i").mkString(" ")
    val two = Seq((1L, excerpt), (2L, big)).toDF("doc_id", "text")
    val dir = Dedup.containmentPairsInverted(two, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(dir.toSeq == Seq((1L, 2L, 1.0)),
      "only the excerpt→big direction, at C=1.0")
    assert(Dedup.ngramJaccardPairs(two, "doc_id", "text", 3, 0.5).count() == 0,
      "Jaccard misses the excerpt relation")
  }

  test("containment aFilter batch form == unrestricted result filtered " +
    "to the batch") {
    import org.apache.spark.sql.functions.col
    val docs = graft.model.Tables.documents(spark, sf()).where($"doc_id" < 150)
    val full = Dedup.containmentPairsInverted(docs, "doc_id", "text", 3, 0.5)
      .where(col("id_a") % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.containmentPairsInverted(docs, "doc_id", "text", 3, 0.5,
        aFilter = col("doc_id") % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch == full, "aFilter must only restrict the contained side")
    assert(batch.nonEmpty, "fixture must exercise the batch path")
  }

  test("containment sketch: exact when |S_a| <= k, screens the planted " +
    "excerpt, high recall vs the exact join on the corpus") {
    import org.apache.spark.sql.functions.col
    // planted pair: 10-token excerpt (8 shingles = k, so the sketch IS
    // the full set) inside a 100-token doc → est must be exactly 1.0
    val big = (1 to 100).map(i => s"w$i").mkString(" ")
    val excerpt = (21 to 30).map(i => s"w$i").mkString(" ")
    val two = Seq((1L, excerpt), (2L, big)).toDF("doc_id", "text")
    val sk = Dedup.containmentSketchPairs(two, "doc_id", "text", 3, 8, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sk((1L, 2L)) == 1.0, s"excerpt sketch must be exact: $sk")
    assert(!sk.contains((2L, 1L)), "big doc is not contained in the excerpt")

    // corpus: every exact t=0.5 pair must survive the minEst=0.3 screen
    // for docs the sketch covers fully, and near-all overall (the
    // hypergeometric tail is tiny at j≈0.95 planted dups)
    val docs = graft.model.Tables.documents(spark, sf()).where($"doc_id" < 250)
      .select("doc_id", "text")
    val exact = Dedup.containmentPairsInverted(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val screened = Dedup.containmentSketchPairs(docs, "doc_id", "text", 3, 8, 0.3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain containment pairs")
    val recall = (exact & screened).size.toDouble / exact.size
    assert(recall >= 0.9, s"screen recall $recall over ${exact.size} pairs")
  }

  test("containment sketch hot-shingle cap: ubiquitous shingle leaves the " +
    "join, planted excerpt keeps its exact estimate") {
    // 58 docs share ONE ubiquitous phrase (df=58; df²=3364 — the
    // zipftok shape at toy scale) plus 4 unique tokens each; docs 1/2
    // are a planted excerpt pair whose shingles avoid the hot phrase
    val big = (1 to 20).map(i => s"w$i").mkString(" ") + " hot1 hot2 hot3"
    val excerpt = (5 to 16).map(i => s"w$i").mkString(" ")
    val noise = (3 to 60).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d hot1 hot2 hot3"))
    val docs = (Seq((1L, excerpt), (2L, big)) ++ noise).toDF("doc_id", "text")
    def pairs(maxJoinPairs: Long) =
      Dedup.containmentSketchPairs(docs, "doc_id", "text", 3, 16, 0.1,
          maxJoinPairs = maxJoinPairs)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    val uncapped = pairs(0L)
    // budget 1000 < the hot shingle's df² alone → the cap must cut it;
    // every df≤2 shingle stays (Σ df²·nh over those ≈ a few hundred)
    val capped = pairs(1000L)
    // noise docs share ONLY the hot shingle: est 1/5 = 0.2 ≥ 0.1 →
    // present uncapped, gone capped (the cap's entire purpose)
    assert(uncapped.contains((3L, 4L)),
      s"uncapped screen must see hot-only pairs: ${uncapped.size}")
    assert(!capped.contains((3L, 4L)),
      "capped screen must drop pairs that share only the capped shingle")
    // the planted excerpt pair's shingles are all df≤2 → estimate
    // IDENTICAL under the cap (exact 1.0: 10 shingles ≤ k=16)
    assert(uncapped((1L, 2L)) == 1.0 && capped((1L, 2L)) == 1.0,
      s"cap must not touch cold-shingle pairs: ${capped.get((1L, 2L))}")
    // candidate volume actually shrank
    assert(capped.size < uncapped.size / 10,
      s"cap must collapse the hot-join volume: ${capped.size} vs " +
        s"${uncapped.size}")

    // gate-reuse parity (r17 ADVICE): the auto path hands the gate's
    // level-3 histogram to the sketch so construction is lazy — the
    // precomputed-hist form must choose the IDENTICAL cap
    val gate = Dedup.containmentGate(docs, "text", 3, 0.5,
      maxCandidatePairs = 1L)
    assert(gate.hist.isDefined,
      "a 1-pair budget must force the level-3 histogram measurement")
    val viaGateHist =
      Dedup.containmentSketchPairs(docs, "doc_id", "text", 3, 16, 0.1,
          maxJoinPairs = 1000L, precomputedHist = gate.hist)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    assert(viaGateHist == capped,
      "precomputed gate histogram must reproduce the self-measured cap")
  }

  test("containment sketch cap floor: lowest-df bucket survives a blown " +
    "budget (non-vacuous screen); single-bucket corpus runs uncapped") {
    // every doc has an identical twin → EVERY shingle has df = 2: the
    // histogram is a single bucket whose Σ df²·nh blows any tiny budget
    val base = (1 to 20).map(i =>
      s"v${i}a v${i}b v${i}c v${i}d v${i}e v${i}f")
    val docs = base.zipWithIndex.flatMap { case (t, i) =>
      Seq((2L * i, t), (2L * i + 1, t)) }.toDF("doc_id", "text")
    def pairs(maxJoinPairs: Long) =
      Dedup.containmentSketchPairs(docs, "doc_id", "text", 3, 16, 0.1,
          maxJoinPairs = maxJoinPairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(0L)
    assert(uncapped.contains((0L, 1L)) && uncapped.contains((1L, 0L)),
      "twins must screen as containment pairs")
    // budget 1 < the single df=2 bucket's Σ df²·nh → the FLOOR policy
    // retains the lowest bucket anyway: dropping it would return an
    // empty screen (silent 100% recall loss). Single-bucket corpus →
    // floorCap == hist.last → the uncapped join, BY POLICY.
    assert(pairs(1L) == uncapped,
      "single-bucket corpus must run uncapped (floor == last bucket)")
    // two buckets, budget below BOTH: floor keeps df=2 (twin pairs
    // survive), cuts the df=42 hot shingle (hot-only pairs vanish)
    val hot = base.zipWithIndex.flatMap { case (t, i) =>
      val s = s"$t hotx hoty hotz"
      Seq((2L * i, s), (2L * i + 1, s)) }
      .++(Seq((100L, "hotx hoty hotz"))).toDF("doc_id", "text")
    val hotFloor =
      Dedup.containmentSketchPairs(hot, "doc_id", "text", 3, 16, 0.1,
          maxJoinPairs = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hotFloor.contains((0L, 1L)),
      "floor must keep the lowest-df bucket: twin pairs survive")
    assert(!hotFloor.exists(p => p._1 == 100L || p._2 == 100L),
      "hot-only doc must leave the screen once the hot bucket is cut")
  }

  test("capped-sketch boundary recall (r17 #2): bias bound TIGHT, " +
    "uncompensated collapse where c(1-h) < minEst, compensation restores " +
    "every cold-sharing pair") {
    // 12 cells: c in [.375,.556] x hot-mass fraction in {.83,.5,.25};
    // tiny budget binds the cap on the 192-doc fixture (hot df = 192,
    // hot sum-df2 = 368k > 100k budget > cold sum-df2 ~ 26k)
    val cells = CapRecallFixture.measure(spark, pairsPerCell = 8,
      budget = 100000L)
    assert(cells.size == 12, s"expected 12 cells, got ${cells.size}")
    val minEst = 0.35
    // deterministic regime: |S_A| <= k=64 -> the sketch IS the full
    // shingle set, so estimates are exact and recall is 0/1 per cell
    val det = cells.filter(c => c.m + c.q + 10 <= 64)
    assert(det.nonEmpty)
    det.foreach { c =>
      assert(c.recallUncapped == 1.0, s"uncapped must see $c")
      val expCap = if (c.floor >= minEst) 1.0 else 0.0
      assert(c.recallCapped == expCap,
        s"uncompensated capped recall must be exactly the floor rule: $c")
      assert(c.recallCompensated == 1.0,
        s"compensation must restore every cold-sharing planted pair: $c")
      // bias bound TIGHT: the capped estimate (emitted raw by the
      // compensated screen) is exactly c(1-h) = m/|S_A| (6dp rounding)
      assert(math.abs(c.meanEstCompensated - c.floor) < 2e-6,
        s"capped est must sit exactly on the analytic floor: $c")
    }
    // at-threshold cells (c >= 0.5) are the recall CONTRACT: the
    // 0.15 margin must hold them through the screen
    val atThr = cells.filter(_.cTrue >= 0.5)
    assert(atThr.size == 6)
    atThr.foreach { c =>
      assert(c.recallUncapped >= 0.9, s"uncapped at-threshold recall: $c")
      assert(c.recallCompensated >= 0.9 &&
        c.recallCompensated >= c.recallCapped,
        s"compensated at-threshold recall: $c")
    }
    // the headline defect this fixture exists to measure: at hot-mass
    // >= 0.5 the uncompensated cap misses AT-THRESHOLD true pairs
    // (floor c(1-h) <= 0.28 < minEst) -- the r17 'margin absorbs it'
    // claim is FALSE there, and only compensation closes it
    val collapsed = cells.filter(c => c.cTrue >= 0.5 && c.hotFrac >= 0.5)
    assert(collapsed.nonEmpty &&
      collapsed.forall(c => c.recallCapped == 0.0 &&
        c.recallCompensated == 1.0),
      s"hot-mass collapse + compensation recovery must be measured: " +
        s"$collapsed")
  }

  test("bulk-cut recall curve (r18 #3): deep cap in the df BODY — guard " +
    "disengages the credit and recall collapses exactly at the analytic " +
    "floor, even for pairs far above the screen threshold") {
    // per-GROUP mid blocks make the cut bucket the spectrum's BODY
    // (df=8, 10·#groups distinct hashes, ~0.48 of posting mass >=
    // minEst 0.35): the compensation guard must revert to raw
    // estimates, so the measured curve IS the deep-cap recall trade
    val cells = CapRecallFixture.measureBulk(spark, pairsPerCell = 8)
    assert(cells.size == 5, s"expected 5 bulk cells, got ${cells.size}")
    val minEst = 0.35
    cells.foreach { c =>
      // deterministic regime (|S_A| <= 22 <= k=64): sketch == full set
      assert(c.recallUncapped == 1.0, s"uncapped must see $c")
      assert(math.abs(c.meanEstUncapped - c.cTrue) < 2e-6,
        s"uncapped est must be exactly c_true: $c")
      val expCap = if (c.floor >= minEst) 1.0 else 0.0
      assert(c.recallCapped == expCap,
        s"capped recall must be exactly the floor rule: $c")
      // the guard's signature: compensation CHANGES NOTHING here —
      // cutFrac >= minEst disables the credit (vs the boundary
      // fixture where compensation restores every cold-sharing pair)
      assert(c.recallCompensated == c.recallCapped,
        s"guard must disengage the credit on a deep cut: $c")
      if (c.floor >= minEst) {
        assert(math.abs(c.meanEstCapped - c.floor) < 2e-6 &&
          math.abs(c.meanEstCompensated - c.floor) < 2e-6,
          s"surviving capped est must sit exactly on the floor: $c")
      }
    }
    // the headline trade: a TRUE pair at c=0.75 — 1.5x the screen
    // threshold — is MISSED under a deep cap (floor 0.25 < minEst),
    // deliberately: the budget knob, not the margin, is the recall
    // lever in this regime
    val deep = cells.filter(c => c.cTrue >= 0.75 && c.floor < minEst)
    assert(deep.nonEmpty && deep.forall(_.recallCapped == 0.0),
      s"deep-cap miss at high c must be measured: $deep")
  }

  test("maxCreditFrac bounds a hot-heavy doc's credit (r18 ADVICE): " +
    "spurious cold-sharing partners filtered, true contained pair kept") {
    // GLOBAL cut is shallow (hot mass ~0.15 of postings < minEst ->
    // compensation armed) but doc X is hot-heavy (10 of 14 sketch
    // hashes capped -> credit frac 0.71 >= minEst): with the default
    // uncapped credit, EVERY >=1-cold-match partner of X clears the
    // screen -- including 20 background docs holding NONE of the hot
    // block (true containment 2/14). maxCreditFrac=0.2 caps X's
    // credit at floor(0.2*14)=2: spurious partners (2+2)/14 < 0.35
    // are filtered while the fully-contained true pair X in Z
    // (4 cold matches, (4+2)/14 >= 0.35) survives. Raw (compensation
    // off) misses even the true pair (4/14 < 0.35).
    val hotBlk = (0 until 12).map(i => s"hz$i").mkString(" ")
    val sBlock = "s1 s2 s3 s4"
    val hPop = (0 until 29).map { j =>
      (j.toLong,
        hotBlk + " " + (0 until 40).map(i => s"h${j}p$i").mkString(" ")) }
    val z = (2000L, hotBlk + " " + sBlock + " " +
      (0 until 20).map(i => s"zp$i").mkString(" "))
    val x = (1000L, hotBlk + " " + sBlock)
    val bPop = (0 until 20).map { j =>
      (3000L + j, (0 until 15).map(i => s"b${j}a$i").mkString(" ") + " " +
        sBlock + " " + (0 until 11).map(i => s"b${j}c$i").mkString(" ")) }
    val docs = (hPop ++ Seq(z, x) ++ bPop).toDF("doc_id", "text")
    // budget 5000: cumulative sum-df2 at df<=22 is ~2700 (kept: the
    // shared s-shingles at df=22 stay), hot bucket df=31 adds 9610
    // (cut). cutFrac = 310/~2060 postings ~ 0.15 < 0.35 -> armed.
    def partnersOfX(creditFrac: Double, compensate: Boolean = true) =
      Dedup.containmentSketchPairs(docs, "doc_id", "text", 3, 64, 0.35,
          maxJoinPairs = 5000L, capCompensate = compensate,
          maxCreditFrac = creditFrac)
        .where($"id_a" === 1000L)
        .collect().map(_.getLong(1)).toSet
    val inflated = partnersOfX(1.0)
    assert(inflated == (bPop.map(_._1).toSet + 2000L),
      s"default credit must pass every cold-sharing partner of the " +
        s"hot-heavy doc (the measured verify inflation): $inflated")
    val bounded = partnersOfX(0.2)
    assert(bounded == Set(2000L),
      s"maxCreditFrac=0.2 must filter the spurious partners and keep " +
        s"the true contained pair: $bounded")
    assert(partnersOfX(1.0, compensate = false) == Set.empty[Long],
      "raw capped screen must miss even the fully-contained true pair " +
        "(4/14 < minEst) — the defect compensation exists to close")
  }

  test("capped-sketch hot-broadcast cut == shuffle-join cut (r18: the " +
    "skew-regime spelling deletes the extra posting passes)") {
    // the hot-shingle-cap fixture again: one ubiquitous phrase + a
    // planted excerpt pair; binding budget cuts the hot bucket
    val big = (1 to 20).map(i => s"w$i").mkString(" ") + " hot1 hot2 hot3"
    val excerpt = (5 to 16).map(i => s"w$i").mkString(" ")
    val noise = (3 to 60).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d hot1 hot2 hot3"))
    val docs = (Seq((1L, excerpt), (2L, big)) ++ noise).toDF("doc_id", "text")
    def pairs(maxHotBroadcast: Long) =
      Dedup.containmentSketchPairs(docs, "doc_id", "text", 3, 16, 0.1,
          maxJoinPairs = 1000L, maxHotBroadcastHashes = maxHotBroadcast)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    val viaBroadcast = pairs(1000000L) // hot count 1 << bound
    val viaShuffle = pairs(0L)         // force the shuffle-join fallback
    assert(viaBroadcast == viaShuffle,
      "the two cut spellings must emit identical (pair, est) sets")
    assert(viaBroadcast.contains((1L, 2L)),
      "planted excerpt must survive either spelling")
  }

  test("capped-sketch compensation guard: a deep cap in the BULK of the " +
    "df spectrum disables the credit (screen reverts to raw estimates)") {
    // every doc = 15 shared hot tokens (13 hot shingles) + 6 private;
    // twins duplicate each doc. Per doc: 19 shingles, 13 hot -> the
    // cut carries ~0.68 of all postings >= minEst 0.35 -> crediting
    // ahot (13) would pass EVERY 1-cold-match pair (est credit 13/19
    // = 0.68 alone clears 0.35) - the sf100 deep-cap explosion. The
    // guard must disable compensation: twins' raw capped est is
    // 6/19 = 0.316 < 0.35, so the capped screen misses them (the
    // documented deep-cap recall trade), while uncapped sees them.
    val hotBlock = (0 until 15).map(i => s"g$i").mkString(" ")
    val docs = (0 until 20).flatMap { i =>
      val t = s"$hotBlock w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"
      Seq((2L * i, t), (2L * i + 1, t)) }.toDF("doc_id", "text")
    def screen(maxJoinPairs: Long) =
      Dedup.containmentSketchPairs(docs, "doc_id", "text", 3, 64, 0.35,
          maxJoinPairs = maxJoinPairs, capCompensate = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = screen(0L)
    assert(uncapped.contains((0L, 1L)), "uncapped must see the twins")
    // budget 200: hot bucket df=40 has 13*1600 = 20,800 df-squared, the
    // cold df=2 buckets ~6*40*4 = 960 -> even cold alone exceeds 200?
    // cold sum = 6 hashes/doc-pair * 20 pairs * 4 = 480 > 200 -> floor
    // retains df=2, cuts df=40. cutFrac = 13*40/(13*40+6*40) = 0.68.
    val capped = screen(200L)
    assert(!capped.contains((0L, 1L)),
      "guard must disable compensation at deep cut mass: raw est " +
        s"6/19 < 0.35 misses the twins (got ${capped.size} pairs)")
  }

  test("containment hybrid verify: routing pinned both ways, count regime " +
    "== broadcast regime == brute force, batch form agrees on both") {
    import org.apache.spark.sql.functions.col
    val docs = graft.model.Tables.documents(spark, sf()).where($"doc_id" < 150)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the array verify intersects the shingle arrays; the count verify
    // never touches an array
    def arrayVerify(df: org.apache.spark.sql.DataFrame) =
      plants[org.apache.spark.sql.catalyst.expressions.ArrayIntersect](df)
    // a tiny corpus must route to the broadcast array-verify regime...
    val bc = Dedup.containmentPairsInverted(docs, "doc_id", "text", 3, 0.5)
    assert(arrayVerify(bc),
      "plan-stats routing must pick the broadcast regime on a tiny corpus")
    // ...and a zero budget forces the count-verify regime
    val cnt = Dedup.containmentPairsInverted(docs, "doc_id", "text", 3, 0.5,
      maxVerifyBroadcastBytes = 0L)
    assert(!arrayVerify(cnt),
      "a zero broadcast budget must force the count regime")
    val viaBroadcast = canon(bc)
    assert(viaBroadcast.nonEmpty, "fixture must exercise both regimes")
    assert(canon(cnt) == viaBroadcast,
      "the two verify regimes must emit identical (pair, score) sets")
    // batch (aFilter) form: both regimes equal the filtered full result
    val expected = viaBroadcast.filter(_._1 % 2 == 1)
    Seq(0L, Long.MaxValue).foreach { budget =>
      val batch = Dedup.containmentPairsInverted(
        docs, "doc_id", "text", 3, 0.5, aFilter = col("doc_id") % 2 === 1,
        maxVerifyBroadcastBytes = budget)
      assert(arrayVerify(batch) == (budget > 0L),
        s"batch form must take the same regime at budget=$budget")
      assert(canon(batch) == expected, s"batch parity at budget=$budget")
    }
  }

  test("containmentPairsAuto: exact plan under the measured gate, sketch " +
    "route above it, identical pairs when the sketch covers every doc") {
    val docs = graft.model.Tables.documents(spark, sf()).where($"doc_id" < 150)
      .select("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the sketch route re-scores its screen through withContainment,
    // the one plan that carries an `exact_containment` column
    def viaSketchRoute(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.exists(_.output.exists(
        _.name == "exact_containment"))
    assert(!Dedup.containmentGate(docs, "text", 3, 0.5).usesSketch,
      "the default gate must keep the exact all-pairs plan")
    val exactDf = Dedup.containmentPairsAuto(docs, "doc_id", "text", 3, 0.5)
    assert(!viaSketchRoute(exactDf),
      "the default threshold must keep the exact all-pairs plan")
    val exact = canon(exactDf)
    assert(exact == canon(
      Dedup.containmentPairsInverted(docs, "doc_id", "text", 3, 0.5)),
      "the auto exact path must BE containmentPairsInverted")
    // forced-low threshold: the plan-time bound crosses, the measuring
    // scan confirms, and the gate routes sketch-screen → exact-verify.
    // k ≥ every doc's shingle count makes the screen lossless (the
    // bottom-k IS the full set), so crossing the gate moves no pair.
    assert(Dedup.containmentGate(docs, "text", 3, 0.5,
      maxPrefixPostings = 1L).usesSketch,
      "a forced-low threshold must take the sketch route")
    val viaSketch = Dedup.containmentPairsAuto(docs, "doc_id", "text", 3,
      0.5, maxPrefixPostings = 1L, sketchK = 100000)
    assert(viaSketchRoute(viaSketch),
      "a forced-low threshold must take the sketch route")
    assert(canon(viaSketch) == exact,
      "gate crossing must not move a single pair when the screen is lossless")
    assert(exact.nonEmpty, "fixture must exercise both paths on real pairs")
  }

  test("substring dedup handles within-doc repetition and adjacency merge") {
    val rep = (0 until 4).map(_ => "a b c d").mkString(" ") // "a b c d" x4
    val df = Seq((1L, rep), (2L, "unique words only here nothing shared at all"))
      .toDF("id", "t")
    val spans = TextAnalysis.substringDupSpans(df, "id", "t", 4)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3))).toSet
    // every 4-token window of the repeated doc recurs within the doc →
    // one maximal span covering all 16 tokens; doc 2 contributes nothing
    assert(spans == Set((1L, 0, 16)))
    val sum = TextAnalysis.substringDedupSummary(df, "id", "t", 4)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(sum(1L) == ((16, 16L, 0L, 1L)))
    assert(sum(2L) == ((8, 0L, 8L, 0L)))
  }

  test("lshBandingTune matches a scalar S-curve reference") {
    // pairs: two hi (0.8, 0.6), two lo (0.4, 0.1) at threshold 0.5
    val jac = Seq(0.8, 0.6, 0.4, 0.1)
    val pairs = jac.zipWithIndex
      .map { case (j, i) => (i.toLong, i.toLong + 100, j) }
      .toDF("id_a", "id_b", "jaccard")
    val out = Dedup.lshBandingTune(pairs, "jaccard", 16, 0.5).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
    // scalar reference with the identical squaring chain + micro rounding
    def sq(x: Double, k: Int): Double = (1 to k).foldLeft(x)((a, _) => a * a)
    def log2(n: Int) = Integer.numberOfTrailingZeros(n)
    def micro(s: Double, b: Int, r: Int): Long =
      math.round((1.0 - sq(1.0 - sq(s, log2(r)), log2(b))) * 1e6)
    for ((b, r) <- Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))) {
      val row = out((b, r))
      assert(row.getLong(3) == 2L && row.getLong(4) == 2L)
      val wantHi = BigDecimal((micro(0.8, b, r) + micro(0.6, b, r)) / 2e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val wantLo = BigDecimal((micro(0.4, b, r) + micro(0.1, b, r)) / 2e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(row.getDouble(5) == wantHi, s"recall_hi ($b,$r)")
      assert(row.getDouble(6) == wantLo, s"catch_lo ($b,$r)")
    }
    // (16,1) must catch nearly everything; (1,16) nearly nothing low
    assert(out((16, 1)).getDouble(5) > 0.99)
    assert(out((1, 16)).getDouble(6) < 0.01)
  }
}
