package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokenizer splits on whitespace runs with trim") {
    val out = Seq("  a  b\tc\nd ").toDF("t")
      .select(TextAnalysis.tokens($"t")).as[Seq[String]].head()
    assert(out == Seq("a", "b", "c", "d"))
  }

  test("bpeMerges learns the hand-computed merge sequence") {
    // corpus: "aaab" x3, "ab" x2 (one word per doc half; weights via
    // repetition). Round 1: pairs (a,a)=6 [2 per aaab], (a,b)=5 →
    // merge (a,a). Round 2: aaab = [aa,a,b] (greedy left-to-right) →
    // (aa,a)=3, (a,b)=3+2=5 → merge (a,b). Round 3: aaab = [aa,ab],
    // ab = [ab] → (aa,ab)=3 → merge (aa,ab).
    val docs = (Seq.fill(3)("aaab") ++ Seq.fill(2)("ab")).toDF("text")
    val out = TextAnalysis.bpeMerges(docs, "text", 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "b", "ab", 5L),
      (3, "aa", "ab", "aaab", 3L)))
  }

  test("bpeMerges merge application is greedy left-to-right " +
    "non-overlapping") {
    // "aaaa" x1: round 1 pair (a,a)=3 → merge → [aa,aa] (NOT [a,aa,a]);
    // round 2: (aa,aa)=1
    val docs = Seq("aaaa").toDF("text")
    val out = TextAnalysis.bpeMerges(docs, "text", 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(out.toSeq == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("bpeMerges stops early when no pairs remain") {
    val docs = Seq("ab cd").toDF("text")
    val out = TextAnalysis.bpeMerges(docs, "text", 5)
    // rounds 1-2 merge (a,b) then (c,d); all words single-symbol after
    assert(out.count() == 2)
  }

  test("bpeEncode bills documents by the trained merge table") {
    // same corpus as the merge-sequence test, one word per doc, plus a
    // doc the merges never help. After 3 merges (aa, ab, aaab):
    //   "aaab" → [aaab]           = 1 token, 4 chars
    //   "ab"   → [ab]             = 1 token, 2 chars
    //   "ba"   → [b, a]           = 2 tokens (no merge matches b+a)
    val docs = ((1 to 3).map(i => (i.toLong, "aaab")) ++
        Seq((4L, "ab"), (5L, "ab"), (6L, "ba aaab")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out(1L) == ((1L, 1L, 4L, 4.0)))
    assert(out(4L) == ((1L, 1L, 2L, 2.0)))
    // doc 6: "ba" = 2 tokens + "aaab" = 1 token → 3 tokens, 6 chars
    assert(out(6L) == ((3L, 2L, 6L, 2.0)))
  }

  test("quality stats on a crafted document") {
    val text = "the cat sat of the mat, and it is a test!"
    val out = TextAnalysis.qualityStats(Seq(text).toDF("text"), "text").head()
    val get = (n: String) => out.get(out.fieldIndex(n))
    assert(get("n_tokens") == 11)
    assert(get("n_stopwords") == 7) // the, of, the, and, it, is, a
    assert(get("n_punct") == 2)     // comma + bang
  }

  test("gopherRules: each rule fails on its crafted violator and the " +
    "clean doc passes all five") {
    val docs = Seq(
      // 0: clean — 12 tokens, sane lengths, no symbols, alpha, stopwords
      (0L, "the quick brown fox is jumping over a lazy dog of note"),
      // 1: too short (< 10 tokens)
      (1L, "the cat is on a mat"),
      // 2: symbol-heavy — a '#' or '...' per token
      (2L, "the # tag # is # a # of # it # in # to # markup # heavy ..."),
      // 3: non-alpha tokens dominate (> 20% numeric)
      (3L, "the 1 2 3 4 5 6 7 8 is of a"),
      // 4: fewer than 2 distinct stopwords
      (4L, "quick brown foxes jump over lazy dogs near quiet rivers today"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getInt(r.fieldIndex("gopher_pass"))).toMap
    assert(out == Map(0L -> 1, 1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0))
  }

  test("pplBuckets splits known scores into terciles with <= boundaries") {
    // 9 docs, scores 1..9, all sampled (mod 1): cutoffs at the exact
    // 1/3 and 2/3 interpolated percentiles of 1..9 — 3.666667, 6.333333
    val scores = (1 to 9).map(i => (i.toLong, i.toDouble)).toDF("doc_id", "s")
    val out = TextAnalysis.pplBuckets(scores, "doc_id", "s", sampleMod = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert((1 to 3).forall(i => out(i.toLong) == "tail"))
    assert((4 to 6).forall(i => out(i.toLong) == "middle"))
    assert((7 to 9).forall(i => out(i.toLong) == "head"))
  }

  test("langGuess picks the list with most hits; unknown when none") {
    val rows = Seq(
      ("the cat is in the bag", "en"),
      ("der hund ist nicht da", "de"),
      ("el gato es un animal", "es"),
      ("le chat est dans une boite", "fr"),
      ("xyzzy qwerty plugh", "unknown")
    ).toDF("text", "expected")
    val out = rows.select($"expected", TextAnalysis.langGuess($"text").as("got"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("contaminationFuzzy == brute-force train×eval Jaccard on a corpus " +
    "slice, and catches a paraphrase exact gram matching misses") {
    val docs = graft.model.Tables.documents(spark, sf())
      .select("doc_id", "text")
    val train = docs.where($"doc_id" % 40 =!= 0)
    val eval = docs.where($"doc_id" % 40 === 0)
    val got = TextAnalysis.contaminationFuzzy(train, eval, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // brute force: every train×eval pair scored from the collected
    // shingle sets (rounding discipline identical to the operator)
    def sets(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id",
        graft.dedup.Dedup.shingles(TextAnalysis.tokens($"text"), 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val expected = (for {
      (ta, sa) <- sets(train)
      (_, sb) <- sets(eval)
      inter = (sa intersect sb).size
      j = math.rint(inter.toDouble / (sa.size + sb.size - inter) * 1e6) / 1e6
      if j >= 0.5
    } yield ta -> j).groupBy(_._1)
      .map { case (id, xs) => id -> (xs.length.toLong, xs.map(_._2).max) }
    assert(got == expected, "fuzzy decontamination must be EXACT vs brute force")
    assert(got.nonEmpty, "the %40 eval slice must flag at least one doc here")
    // the paraphrase hole: one word swapped every 7 tokens puts a swap
    // inside EVERY 8-token window (exact contamination finds nothing)
    // yet kills only ~3/7 of the 3-gram shingles, leaving J ≈ 0.42 —
    // the threshold knob trades recall against edit density
    val evalDoc = ("q0", (1 to 49).map(i => s"tok$i").mkString(" "))
    val para = ("t0", (1 to 49).map(i =>
      if (i % 7 == 0) s"swap$i" else s"tok$i").mkString(" "))
    val evalDf = Seq(evalDoc).toDF("doc_id", "text")
    val trainDf = Seq(para).toDF("doc_id", "text")
    assert(TextAnalysis.contamination(trainDf, evalDf, "doc_id", "text", n = 8)
      .count() == 0, "exact 8-gram matching must MISS the paraphrase")
    val fuzzy = TextAnalysis.contaminationFuzzy(trainDf, evalDf,
      "doc_id", "text", shingleSize = 3, threshold = 0.4).collect()
    assert(fuzzy.length == 1 && fuzzy(0).getString(0) == "t0",
      "fuzzy decontamination must CATCH the paraphrase")
  }

  test("fingerprints: fp_norm is whitespace-insensitive, fp_exact is not") {
    val df = Seq(("a b c"), ("a  b   c")).toDF("text")
    val fps = TextAnalysis.fingerprints(df, "text")
      .select("fp_exact", "fp_norm").collect()
    assert(fps(0).getString(1) == fps(1).getString(1))
    assert(fps(0).getString(0) != fps(1).getString(0))
  }

  test("lineDedup removes exactly the lines shared by >1 document, " +
    "keeps per-doc repeats, and the ragged tail line") {
    val docs = Seq(
      (1L, "dup line one aaa bbb ccc tail"),      // lines: [dup line one][aaa bbb ccc][tail]
      (2L, "dup line one xxx yyy zzz"),           // shares line 0 with doc 1
      (3L, "solo solo solo solo solo solo"),      // self-repeat within ONE doc survives
      (4L, "unique words here and a tail")        // 'tail' is a full line of doc 1 but
    ).toDF("doc_id", "text")                      //   only a suffix token here — no match
    val out = TextAnalysis.lineDedup(docs, "doc_id", "text", lineWords = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(!out.exists(_._3 == "dup line one"), "cross-doc line removed everywhere")
    assert(out.count(t => t._1 == 3L && t._3 == "solo solo solo") == 2,
      "within-doc repetition is NOT corpus boilerplate")
    assert(out.contains((1L, 2, "tail")), "ragged tail survives as its own line")
    assert(out.contains((4L, 1, "and a tail")), "different line text, kept")
    assert(out.contains((1L, 1, "aaa bbb ccc")) &&
      out.contains((2L, 1, "xxx yyy zzz")))
  }

  test("boilerplateLineDedup removes a line only within the domain that " +
    "repeats it; the same line on another domain survives") {
    val docs = Seq(
      (1L, "siteA", "footer legal text aaa bbb ccc"),
      (2L, "siteA", "footer legal text ddd eee fff"), // siteA boilerplate
      (3L, "siteB", "footer legal text ggg hhh iii"), // once on siteB → kept
      (4L, "siteB", "normal content here")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.boilerplateLineDedup(
        docs, "doc_id", "source", "text", lineWords = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSet
    assert(!out.exists(t => t._2 == "siteA" && t._3 == "footer legal text"),
      "siteA's repeated footer removed from both siteA docs")
    assert(out.contains((3L, "siteB", "footer legal text")),
      "identical line, different domain — NOT boilerplate there")
    assert(out.contains((1L, "siteA", "aaa bbb ccc")) &&
      out.contains((2L, "siteA", "ddd eee fff")), "unique lines kept")
  }

  test("charEntropy: repeated single char → 0 bits; uniform 4-char text " +
    "→ 2 bits; empty text absent; partitioning-invariant") {
    val docs = Seq((1L, "aaaaaaaa"), (2L, "abcdabcd"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((8L, 0.0)))
    assert(out(2L) == ((8L, 2.0)), "4 equiprobable chars = exactly 2 bits")
    assert(!out.contains(3L), "empty doc has no character distribution")
    val repart = TextAnalysis.charEntropy(
        docs.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(repart(2L) == out(2L)._2, "micro-bit decimal sums are order-invariant")
  }

  test("charEntropy map-only expression == the exploded (doc,char) " +
    "reference plan, bit-exact, on the real corpus (incl. multi-byte)") {
    // the r15 rewrite folds the char histogram into a codegen'd
    // expression; the pre-r15 exploded plan stays the DuckDB oracle's
    // formulation, so the two spellings must agree term-for-term
    val docs = graft.model.Tables.documents(spark, sf())
      .select("doc_id", "text")
      .union(Seq((900001L, "héllo wörld ₤₤ héllo"),
        (900002L, "aé" * 50)).toDF("doc_id", "text"))
    val got = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val chars = docs.where(length($"text") > 0)
      .select($"doc_id", length($"text").as("__len"),
        explode(sequence(lit(1), length($"text"))).as("__i"),
        $"text".as("__txt"))
      .select($"doc_id", $"__len", $"__txt".substr($"__i", lit(1)).as("__ch"))
    val p = $"__cnt" / $"__len"
    val want = chars.groupBy($"doc_id", $"__len", $"__ch")
      .agg(count(lit(1)).as("__cnt"))
      .select($"doc_id", $"__len",
        round(-p * log2(p) * 1e6, 0)
          .cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("e6"))
      .groupBy($"doc_id", $"__len")
      .agg(round(sum($"e6").cast("double") / 1e6, 6).as("entropy_bits"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1).toLong, r.getDouble(2)))
      .toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, v) =>
      assert(v == want(id), s"doc $id: expression $v != reference ${want(id)}")
    }
  }

  test("dsirLogRatio weights target-like docs above off-target docs, and " +
    "weights are partitioning-invariant") {
    // target slice: English-looking bigram statistics; raw adds noise docs
    val en = "the cat sat on the mat and the dog ran to the gate"
    val noise = "zz qq xx vv kk jj ww zz qq xx vv kk"
    val docs = ((1L to 8L).map(i => (i, "en", en)) ++
      Seq((50L, "xx", noise), (51L, "xx", noise), (60L, "xx", en)))
      .toDF("doc_id", "lang", "text")
    val w = TextAnalysis.dsirLogRatio(docs, "doc_id", "text",
        col("lang") === "en", numBuckets = 512)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(60L) > w(50L) + 1.0,
      s"en-like text ${w(60L)} should outrank noise ${w(50L)} even though " +
        "doc 60 is NOT in the target slice")
    val repart = TextAnalysis.dsirLogRatio(docs.repartition(5), "doc_id",
        "text", col("lang") === "en", numBuckets = 512)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(repart == w, "micro-nat decimal sums are order-invariant")
  }

  test("stupid backoff: trigram hits for in-model text, unigram-floor " +
    "backoff for unseen words, and held-out fluent text outscores noise") {
    val fluent = "the cat sat on the mat and the dog ran to the gate"
    val docs = ((1L to 8L).map(i => (i, fluent)) ++ Seq(
      (100L, fluent),                        // held-out, fully in-model
      (101L, "zz qq xx vv kk jj ww pp"),     // held-out, all unseen
      (102L, "the cat sat on the rug today") // held-out, partial coverage
    )).toDF("doc_id", "text")
    val out = TextAnalysis.stupidBackoffLogScore(
        docs, "doc_id", "text", col("doc_id") < 100L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(100L, 101L, 102L), "only held-out docs scored")
    assert(out(100L)._2 == 0L && out(100L)._3 == 0L,
      "in-model text never backs off")
    assert(out(101L)._3 == out(101L)._1,
      "fully unseen text hits the unigram floor at every position")
    assert(out(102L)._2 + out(102L)._3 > 0L,
      "novel trigrams in a covered context must back off")
    assert(out(100L)._4 > out(101L)._4 + 1.0,
      s"held-out fluent ${out(100L)._4} must outscore noise ${out(101L)._4}")
    val repart = TextAnalysis.stupidBackoffLogScore(
        docs.repartition(5), "doc_id", "text", col("doc_id") < 100L)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(repart == out.map { case (k, v) => k -> v._4 },
      "micro-nat decimal sums are order-invariant")
  }

  test("stupid backoff: past maxBroadcastModelRows the model joins drop " +
    "their broadcast hints (shuffle-join path), with identical results") {
    val fluent = "the cat sat on the mat and the dog ran to the gate"
    val docs = ((1L to 8L).map(i => (i, fluent)) ++ Seq(
      (100L, fluent), (101L, "zz qq xx vv kk jj ww pp"),
      (102L, "the cat sat on the rug today"))).toDF("doc_id", "text")
    val bcast = TextAnalysis.stupidBackoffLogScore(
        docs, "doc_id", "text", col("doc_id") < 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // threshold 0 forces the executor-memory-sized-model regime
    val big = TextAnalysis.stupidBackoffLogScore(
      docs, "doc_id", "text", col("doc_id") < 100L,
      maxBroadcastModelRows = 0L)
    // pin the plan with size-based auto-broadcast off, so "no hint"
    // is visible as a genuine shuffle join in the static plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val noHint = TextAnalysis.stupidBackoffLogScore(
        docs, "doc_id", "text", col("doc_id") < 100L,
        maxBroadcastModelRows = 0L)
      val p = noHint.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"),
        s"model joins must fall back to shuffle joins\n$p")
      assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r
        .findAllIn(p).size == 1,
        s"only the 1-row N/V aggregate may still broadcast\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val shuffled = big.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(shuffled == bcast, "both join strategies must agree exactly")
  }

  test("stupid backoff trainTokensHint: no sizing job at plan " +
    "construction, hint drives the strategy, results identical") {
    val fluent = "the cat sat on the mat and the dog ran to the gate"
    val docs = ((1L to 8L).map(i => (i, fluent)) :+
      (100L, "the cat sat on the rug today")).toDF("doc_id", "text")
    val sc = spark.sparkContext
    // hinted call: plan construction must launch ZERO Spark jobs (the
    // whole point — repeat callers skip the eager sizing scan)
    sc.setJobGroup("bkf-hinted", "hinted plan construction")
    val hinted = TextAnalysis.stupidBackoffLogScore(
      docs, "doc_id", "text", col("doc_id") < 100L,
      trainTokensHint = Some(42L))
    sc.clearJobGroup()
    // hintless call in a second group: the sizing scan IS a job — the
    // positive control that proves the group-based probe can see jobs
    sc.setJobGroup("bkf-probed", "hintless plan construction")
    val probed = TextAnalysis.stupidBackoffLogScore(
      docs, "doc_id", "text", col("doc_id") < 100L)
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getJobIdsForGroup("bkf-probed").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup("bkf-probed").nonEmpty,
      "hintless construction must run the sizing scan (positive control)")
    assert(sc.statusTracker.getJobIdsForGroup("bkf-hinted").isEmpty,
      "hinted construction must not run any job")
    // a huge hint must pick the shuffle path exactly as a huge measured
    // count would — the hint substitutes into the SAME threshold test
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bigHint = TextAnalysis.stupidBackoffLogScore(
        docs, "doc_id", "text", col("doc_id") < 100L,
        trainTokensHint = Some(Long.MaxValue))
      assert(bigHint.queryExecution.executedPlan.toString
        .contains("SortMergeJoin"),
        "over-threshold hint must drop the broadcast hints")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(rows(hinted) == rows(probed),
      "hint changes planning cost only, never results")
  }

  test("stupid backoff 3x-slack gate: a hint just over threshold/3 " +
    "takes the shuffle path (uni+bi+tri share the row budget)") {
    val docs = ((1L to 4L).map(i => (i, "the cat sat on the mat")) :+
      (100L, "the cat sat on the rug")).toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def plan(hint: Long) = TextAnalysis.stupidBackoffLogScore(
        docs, "doc_id", "text", col("doc_id") < 100L,
        maxBroadcastModelRows = 99L, trainTokensHint = Some(hint))
        .queryExecution.executedPlan.toString
      // 34 tokens could mean up to ~102 model rows across three tables
      // — over the 99-row budget, so the gate must refuse to broadcast
      val over = plan(34L)
      assert(over.contains("SortMergeJoin"),
        s"hint just over threshold/3 must take the shuffle path\n$over")
      assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r
        .findAllIn(over).size == 1,
        s"only the 1-row N/V aggregate may still broadcast\n$over")
      val under = plan(33L) // 3*33 = 99 ≤ budget → broadcast holds
      assert(!under.contains("SortMergeJoin"),
        s"hint at threshold/3 must keep the broadcast path\n$under")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bigram LM scores shuffled text below fluent text (the signal " +
    "the unigram model cannot see)") {
    val fluent = "the cat sat on the mat and the dog sat on the rug"
    val shuffled = "mat the on dog sat the rug cat the and on sat the"
    // corpus: many fluent repetitions establish the bigram statistics;
    // one shuffled doc uses the SAME unigram distribution
    val docs = ((1L to 10L).map(i => (i, fluent)) :+ (99L, shuffled))
      .toDF("doc_id", "text")
    val bi = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(bi(99L) < bi(1L) - 1.0,
      s"shuffled ${bi(99L)} should score well below fluent ${bi(1L)}")
    val uni = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // same token multiset → (near-)identical unigram score: the
    // contrast that justifies the order-1 model
    assert(math.abs(uni(99L) - uni(1L)) < 0.2,
      s"unigram should NOT separate them: ${uni(99L)} vs ${uni(1L)}")
  }

  test("normalize strips control chars, collapses whitespace, trims") {
    val out = Seq("\t a\u0007b\r\n  c  ").toDF("t")
      .select(TextAnalysis.normalize($"t"), TextAnalysis.ctrlCount($"t"))
      .as[(String, Int)].head()
    assert(out._1 == "a b c") // BEL becomes a space, runs collapse
    assert(out._2 == 4)       // tab, BEL, CR, LF
  }

  test("Luhn check digit and validation match the ISO 7812 example") {
    // public worked example: payload 7992739871 → check digit 3
    val (chk, okGood, okBad) = Seq(("7992739871", "79927398713", "79927398714"))
      .toDF("p", "good", "bad")
      .select(TextAnalysis.luhnCheckDigit($"p", 10),
        TextAnalysis.luhnValid($"good", 11), TextAnalysis.luhnValid($"bad", 11))
      .as[(Int, Boolean, Boolean)].head()
    assert(chk == 3 && okGood && !okBad)
  }

  test("vocabTopK ranks by (count desc, term asc) with exact coverage") {
    val out = TextAnalysis.vocabTopK(
        Seq("a a a b", "b c").toDF("text"), "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toList
    assert(out == List(("a", 3L, 1, 0.5), ("b", 2L, 2, 0.833333)))
  }

  test("pmiCollocations: ln(N·cab/(ca·cb)) with a min-count floor") {
    val out = TextAnalysis.pmiCollocations(
      Seq("new york new york", "big apple").toDF("text"), "text",
      k = 5, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toList
    // N=6 tokens; only "new york" survives the floor (cb=2);
    // PMI = ln(6·2/(2·2)) = ln 3
    val ln3 = BigDecimal.decimal(math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == List(("new york", 2L, ln3, 1)))
  }

  test("zipfFit reproduces the exact micro-moment OLS") {
    val out = TextAnalysis.zipfFit(
      Seq("a a a a a a a a b b b b c c d").toDF("text"), "text", 4)
      .collect().head
    // reference: identical micro-unit integer arithmetic in plain Scala
    def mic(x: Double): Long = BigDecimal.decimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def r6(x: Double): Double = BigDecimal.decimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pts = Seq(8L, 4L, 2L, 1L).zipWithIndex.map { case (f, i) =>
      (BigInt(mic(math.log(i + 1.0))), BigInt(mic(math.log(f.toDouble)))) }
    val k = BigInt(pts.size)
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slopeRaw = (k * sxy - sx * sy).toDouble / (k * sxx - sx * sx).toDouble
    val intercept =
      (sy.toDouble / 1e6 - slopeRaw * (sx.toDouble / 1e6)) / k.toDouble
    assert(out.getLong(0) == 4L)
    assert(out.getDouble(1) == r6(slopeRaw))
    assert(out.getDouble(2) == r6(intercept))
    // halving frequencies over ranks 1..4 → slope near −1.5, head at ln 8
    assert(out.getDouble(1) < -1.0 && out.getDouble(1) > -2.0)
  }

  test("bpePairCounts counts adjacent char pairs weighted by word freq") {
    val out = TextAnalysis.bpePairCounts(
        Seq("abab ab", "cd").toDF("text"), "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toList
    // abab: ab,ba,ab; ab: ab → ab=3, ba=1, cd=1 (ties break on pair asc)
    assert(out == List(("ab", 3L, 1), ("ba", 1L, 2), ("cd", 1L, 3)))
  }

  test("sourceOverlapMatrix counts distinct shared lines per source pair") {
    val docs = Seq(
      ("s1", "a b c d e f"),   // lines: "a b c", "d e f"
      ("s1", "a b c"),         // dup line within s1 — distinct-counted once
      ("s2", "a b c x y z"),   // shares "a b c" with s1
      ("s3", "q r s")          // shares nothing
    ).toDF("source", "text")
    val out = TextAnalysis.sourceOverlapMatrix(docs, "source", "text", 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toList
    // s1 has 2 distinct lines, s2 has 2; they share exactly "a b c"
    assert(out == List(("s1", "s2", 1L, 0.5, 0.5)))
  }

  test("bm25TopK scores match the closed form; non-matching docs absent") {
    val docs = Seq(
      (1L, "a a b x"), // tf(a)=2, dl=4
      (2L, "a y"),     // tf(a)=1, dl=2
      (3L, "z z z")    // no query term → absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("a"), 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getInt(3))).toList
    // closed form (k1=1.2, b=0.75): idf = ln(1 + (3-2+0.5)/(2+0.5));
    // per-doc contribution rounded to micro units like the operator
    val idf = math.log(1.0 + 1.5 / 2.5)
    val avgdl = 3.0
    def score(tf: Double, dl: Double): Double =
      math.round(idf * tf * 2.2 /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) * 1e6) / 1e6
    assert(out.map(_._1) == List(1L, 2L)) // doc 3 has no query term
    assert(out == List((1L, 1, score(2, 4), 1), (2L, 1, score(1, 2), 2)))
  }

  test("sourceOverlapSketch matches exact overlap on a small corpus " +
    "and emits every source pair") {
    // 3 sources of 3-token lines: A={l1,l2,l3}, B={l2,l3,l4}, C={l9}
    // → A∩B=2, A∩C=0, B∩C=0. Datasketches HLL is exact in sparse mode
    // at these cardinalities, so est_shared must EQUAL the truth here.
    val docs = Seq(
      ("A", "a a a b b b c c c"), ("B", "b b b c c c d d d"),
      ("C", "z z z")).toDF("source", "text")
    val out = TextAnalysis.sourceOverlapSketch(docs, "source", "text", 3)
      .orderBy($"src_a", $"src_b")
      .select($"src_a", $"src_b", $"est_shared").as[(String, String, Long)]
      .collect().toSeq
    assert(out == Seq(("A", "B", 2L), ("A", "C", 0L), ("B", "C", 0L)))
  }

  test("sourceOverlapSketch estimates agree across partitionings " +
    "within the sketch error envelope (registers are order-free; the " +
    "merged-sketch estimator is not bit-stable)") {
    val docs = graft.model.Tables.documents(spark, sf())
      .select("source", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.sourceOverlapSketch(d, "source", "text", 3)
        .orderBy($"src_a", $"src_b")
        .select($"est_a", $"est_b", $"est_union")
        .as[(Long, Long, Long)].collect().toSeq
    val a = run(docs)
    val b = run(docs.repartition(13).sortWithinPartitions($"text"))
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case ((a1, a2, a3), (b1, b2, b3)) =>
      Seq((a1, b1), (a2, b2), (a3, b3)).foreach { case (x, y) =>
        assert(math.abs(x - y) <= math.max(5L, (0.05 * x).toLong),
          s"estimates drifted beyond the error envelope: $x vs $y")
      }
    }
  }

  test("gopherRules keep columns pass through unchanged") {
    val docs = Seq((1L, "the cat sat on a mat and it is fine", "web", 9L))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text",
      keep = Seq("source", "n_chars"))
    assert(out.columns.toSeq == Seq("doc_id", "source", "n_chars",
      "n_tokens", "mean_tok_len", "symbol_ratio", "alpha_frac",
      "n_stop_hits", "gopher_pass"))
    val r = out.head()
    assert(r.getAs[String]("source") == "web" &&
      r.getAs[Long]("n_chars") == 9L)
  }

  test("cmsTokenSketch: exact on a tiny corpus at wide eps; estimates " +
    "never under-count and are bit-identical across partitionings") {
    val docs = Seq.fill(7)("alpha beta") ++ Seq.fill(3)("beta gamma")
    val df = docs.toDF("text")
    val cms = TextAnalysis.cmsTokenSketch(df, "text",
      eps = 1e-4, confidence = 0.99, seed = 42)
    val est = TextAnalysis.cmsEstimates(spark, cms,
      Seq("alpha", "beta", "gamma", "absent"))
      .as[(String, Long)].collect().toMap
    // wide grid + 4 distinct tokens → collision-free: est == exact
    assert(est == Map("alpha" -> 7L, "beta" -> 10L, "gamma" -> 3L,
      "absent" -> 0L))
    // determinism: integer cell merges — same estimates whatever the
    // partitioning (the property the HLL estimator does NOT have)
    val corpus = graft.model.Tables.documents(spark, sf()).select("text")
    val terms = Seq("the", "a", "of", "and", "data")
    val e1 = TextAnalysis.cmsEstimates(spark,
      TextAnalysis.cmsTokenSketch(corpus, "text", 1e-3, 0.9, 7), terms)
      .as[(String, Long)].collect().toMap
    val e2 = TextAnalysis.cmsEstimates(spark,
      TextAnalysis.cmsTokenSketch(corpus.repartition(13), "text", 1e-3, 0.9, 7),
      terms).as[(String, Long)].collect().toMap
    assert(e1 == e2, "CMS estimates must be partition-invariant")
    val exact = corpus
      .select(explode(TextAnalysis.tokens($"text")).as("term"))
      .where($"term".isin(terms: _*))
      .groupBy("term").count().as[(String, Long)].collect().toMap
    terms.foreach { t =>
      assert(e1.getOrElse(t, 0L) >= exact.getOrElse(t, 0L),
        s"CMS must never under-count ($t)")
    }
  }

  test("pipeline_curation_e2e funnel is internally consistent per source") {
    val rows = graft.SparkEntry
      .queries("pipeline_curation_e2e")(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, dd, kept, shards) = (r.getAs[Long]("n_raw"),
        r.getAs[Long]("n_dedup"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("n_shards"))
      assert(raw >= dd && dd >= kept && kept >= 0,
        s"funnel must narrow: $r")
      if (kept > 0) assert(shards >= 1 && shards <= kept, s"$r")
      else assert(shards == 0, s"$r")
      assert(r.getAs[Long]("kept_bytes") >= 0 &&
        r.getAs[Long]("kept_tokens") >= kept, // gopher floor: ≥10 toks/doc
        s"$r")
    }
  }

  /** Sequential reference: the MOSS scan exactly as published — every
    * window of w hashes keeps its rightmost minimum. Same md5-prefix
    * hash as the operator, independent selection logic.
    */
  private def winnowRef(text: String, k: Int, w: Int): Set[(Int, Long)] = {
    val toks = text.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    if (toks.length < k) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = toks.sliding(k).map { g =>
      val hex = md.digest(g.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }.toVector
    val n = hs.length
    if (n < w) {
      // single window: rightmost global min
      val m = hs.min
      val p = hs.lastIndexOf(m)
      Set((p + 1, m))
    } else {
      (0 to n - w).map { j =>
        val win = hs.slice(j, j + w)
        val m = win.min
        val p = j + win.lastIndexOf(m)
        (p + 1, hs(p))
      }.toSet
    }
  }

  test("winnowFingerprints matches the sequential MOSS reference, " +
    "including all-equal-hash runs and short docs") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "a a a a a a a a",           // every gram identical: max ties
      3L -> "x y z",                     // exactly one gram (n=1 < w)
      4L -> "x y",                       // no gram at all
      5L -> "one two three four five six seven one two three four five")
    val got = TextAnalysis.winnowFingerprints(
        docs.toDF("doc_id", "text"), "doc_id", "text", k = 3, w = 4)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (d, rs) =>
        d -> rs.map(r => (r.getInt(1), r.getLong(2))).toSet
      }
    val want = docs.map { case (d, t) => d -> winnowRef(t, 3, 4) }
      .filter(_._2.nonEmpty).toMap
    assert(got == want)
  }

  test("map-only and windowed winnowing formulations agree on the " +
    "harness corpus") {
    val docs = graft.model.Tables.documents(spark, sf())
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val a = rows(TextAnalysis.winnowFingerprints(docs, "doc_id", "text", 3, 4))
    val b = rows(TextAnalysis.winnowFingerprintsWindowed(
      docs, "doc_id", "text", 3, 4))
    assert(a == b && a.nonEmpty)
  }

  test("winnowing guarantee: docs sharing a >= w+k-1 token run share " +
    "a fingerprint") {
    val shared = "alpha beta gamma delta epsilon zeta"  // 6 = w+k-1
    val docs = Seq(
      1L -> s"p q r $shared s t u",
      2L -> s"m n $shared o").toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", 3, 4)
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(2)).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty)
  }

  test("rakeKeywords: hand-computed phrase scores on a tiny doc") {
    // "deep learning | best deep model": deg/freq — deep 5/2=2.5M,
    // learning 2/1=2M, best 3/1=3M, model 3/1=3M →
    // "best deep model"=8.5M, "deep learning"=4.5M
    val docs = Seq((1L, "deep learning is the best deep model"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.rakeKeywords(docs, "doc_id", "text",
        Seq("is", "the"), k = 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSeq
    assert(out == Seq(
      ("best deep model", 3, 1L, 8500000L, 1),
      ("deep learning", 2, 1L, 4500000L, 2)))
  }

  test("rakeKeywords: repeated phrases counted once with multiplicity, " +
    "over-long runs dropped") {
    val docs = Seq(
      (1L, "big data is big data"),
      (2L, "a one two three four five run")).toDF("doc_id", "text")
    val out = TextAnalysis.rakeKeywords(docs, "doc_id", "text",
        Seq("is", "a"), k = 5, maxPhraseLen = 4)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    // "big data" occurs twice as a candidate; the 6-token run exceeds
    // maxPhraseLen and produces no candidate at all
    assert(out == Map("big data" -> 2L))
  }

  test("winnowNearDups pairs overlapping docs and the df cap kills " +
    "boilerplate fingerprints") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val boiler = "copyright two thousand all rights reserved forever"
    val docs = Seq(
      1L -> s"$shared one two three",
      2L -> s"zero $shared nine",
      3L -> s"totally different content here with many words $boiler",
      4L -> s"unrelated text about something else entirely $boiler")
      .toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowNearDups(docs, "doc_id", "text",
        k = 3, w = 4, minShared = 2, maxDf = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    // 3–4 share only the boilerplate run → with maxDf=1 every shared
    // fingerprint (df=2) is dropped and no pair survives
    val capped = TextAnalysis.winnowNearDups(docs, "doc_id", "text",
        k = 3, w = 4, minShared = 1, maxDf = 1)
      .collect()
    assert(capped.isEmpty)
  }

  test("luhnCheckDigit always yields a luhnValid card (property)") {
    val ids = (0L until 200L).toDF("id")
      .select(lpad($"id".cast("string"), 15, "4").as("p"))
      .select(concat($"p", TextAnalysis.luhnCheckDigit($"p", 15).cast("string"))
        .as("card"))
    val nValid = ids.where(TextAnalysis.luhnValid($"card", 16)).count()
    assert(nValid == 200L)
  }

  test("exactRound6Ratio normalizes the signed zero (num<0, |q|<5e-7) " +
    "and stays exact on .5-boundary and sign cases") {
    val rows = Seq(
      (-1L, 3000000L),   // quotient -3.3e-7 → rounds to 0; must be +0.0
      (0L, 7L),          // plain zero
      (-3L, 2000000L),   // exactly -1.5e-6 → half-away → -0.000002
      (3L, 2000000L),    //  +1.5e-6 → +0.000002
      (-7L, 4L))         // -1.75 exact
      .toDF("num", "den")
      .select(TextAnalysis.exactRound6Ratio($"num", $"den").as("r"))
      .collect().map(_.getDouble(0))
    // bit-level check: -0.0 would survive a == comparison, so compare raw bits
    assert(java.lang.Double.doubleToRawLongBits(rows(0)) ==
      java.lang.Double.doubleToRawLongBits(0.0),
      s"expected +0.0 bits, got ${rows(0)} (-0.0 leaks past the normalizer)")
    assert(java.lang.Double.doubleToRawLongBits(rows(1)) ==
      java.lang.Double.doubleToRawLongBits(0.0))
    assert(rows(2) == -0.000002 && rows(3) == 0.000002 && rows(4) == -1.75)
  }
}
