package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.text.TextAnalysis

/** North-star extension queries (BASELINE.json): dedup, similarity
  * search, text analysis, multimodal — the LLM-training-data operators
  * layered on the same engine. SQL-expressible ones carry DuckDB oracles
  * (list/lambda functions); hash-dependent ones (xxhash64-based LSH,
  * SimHash) are rows-only here and exactness-tested in ScalaTest against
  * brute-force baselines.
  */
object NorthStarQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic adversarial URL per document: within each group of 4
    * doc_ids, variants 0/1/2 spell the SAME page (host/scheme case,
    * default port, fragment, tracking params, param order, trailing
    * slash, www) and variant 3 is a genuinely different page (http on a
    * non-default port, another path) — the worked fixture for
    * [[graft.text.Urls]]. Mirrored string-for-string in the oracles.
    */
  private def syntheticUrls(s: SparkSession, dir: String): DataFrame = {
    val g = expr("doc_id div 4")
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(lit("https://Example"), g, lit(".COM/Path"), g,
          lit("/a/?b=2&a=1&utm_source=x")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://example"), g, lit(".com:443/Path"), g,
          lit("/a?a=1&b=2#frag")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("HTTPS://www.example"), g, lit(".com/Path"), g,
          lit("/a/?a=1&gclid=abc&b=2")))
      .otherwise(
        concat(lit("http://example"), g, lit(".com:8080/Path"), g,
          lit("/b?a=1")))
      .as("url"))
  }

  def defs: Map[String, Q] = Map(
    // ---- text analysis ----
    // deterministic stratified sampling (corpus mixing): md5-bucket
    // keep decision per source — upsample src0/src1, downsample rest.
    // Reproducible across partitionings (unlike rand(seed)); the
    // oracle recomputes every bucket from the same md5 arithmetic
    "sample_stratified_mix" -> ((s, dir) =>
      graft.etl.Sampling.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source",
        rates = Map("src0" -> 80, "src1" -> 60, "src2" -> 40),
        defaultRate = 20, salt = "mix1")),

    // token-budget mixing: training mixes are specified in TOKENS, not
    // docs — per-source deterministic-shuffle order, kept while the
    // exclusive prefix token sum is under the budget. Registered form
    // is the two-pass distributed prefix sum (no single-task stratum
    // sort); the window twin stays spec-equal in SamplingSpec
    "sample_token_budget" -> ((s, dir) =>
      graft.etl.Sampling.tokenBudgetMixScalable(
        Tables.documents(s, dir).select("doc_id", "source", "text"),
        "doc_id", "text", "source", budgetTokens = 600L)),

    // Gopher-style repetition filters (token-level): top-bigram
    // coverage + duplicated-trigram fraction per document
    "text_repetition_stats" -> ((s, dir) =>
      TextAnalysis.repetitionStats(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text")),

    // train/eval decontamination: docs sharing any n-token gram with
    // the (deterministic doc_id%97) eval slice; eval grams broadcast.
    // Real pipelines use 8-13 token windows; this corpus' ~50-word
    // vocabulary needs n=4 for the overlap regime to exist at harness
    // scale (8 contaminated docs at sf0.01, 727 at sf0.1)
    "text_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      TextAnalysis.contamination(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 4)
    }),

    // fuzzy decontamination: training docs whose 3-gram shingle Jaccard
    // vs ANY eval doc (the deterministic doc_id%40 slice — it splits
    // known near-dup pairs at every harness scale) reaches 0.5 — the
    // paraphrase hole exact gram matching leaves. Eval postings
    // broadcast; intersection is counted, never re-joined as arrays
    "text_decontaminate_fuzzy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      TextAnalysis.contaminationFuzzy(
        docs.where(col("doc_id") % 40 =!= 0),
        docs.where(col("doc_id") % 40 === 0),
        "doc_id", "text", shingleSize = 3, threshold = 0.5)
    }),

    "text_quality_stats" -> ((s, dir) =>
      TextAnalysis.qualityStats(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .drop("text")),

    // URL canonicalization (crawl step zero): deterministic adversarial
    // URLs — per group of 4 docs, three spellings of the same page
    // (case host/scheme, default port, fragment, tracking params,
    // param order, trailing slash, www) plus one genuinely distinct
    // URL (other scheme/port/path) that must NOT collapse
    "url_canonicalize" -> ((s, dir) =>
      syntheticUrls(s, dir)
        .withColumn("url_canon", graft.text.Urls.canonicalizeUrl(col("url")))),

    // exact dedup on the canonical URL: 4 spellings → 2 survivors/group
    "url_dedup" -> ((s, dir) =>
      graft.text.Urls.urlDedup(syntheticUrls(s, dir), "doc_id", "url")),

    // domain-blocklist filter: hosts exploded into their dot-suffix
    // chains, broadcast-semi-joined against the blocklist on EQUALITY
    // (www.example2.com falls to the blocked apex example2.com via its
    // suffix — no LIKE non-equi join anywhere), anti-joined back
    "url_domain_filter" -> ((s, dir) => {
      import s.implicits._
      val blocked = Seq("example2.com", "example7.com", "blocked.test")
        .toDF("domain")
      graft.text.Urls.domainFilter(
        syntheticUrls(s, dir), "doc_id", "url", blocked)
    }),

    // Gopher-rules battery (Rae et al. 2021): each raw signal plus the
    // conjunction flag, thresholds scaled to the harness corpus
    "text_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text")),

    // CCNet perplexity terciles: bigram-LM scores labeled head/middle/
    // tail against cutoffs fit on the bounded doc_id%5 sample and
    // broadcast — the full corpus only sees a map-only comparison
    "text_ppl_buckets" -> ((s, dir) =>
      TextAnalysis.pplBuckets(
        TextAnalysis.bigramLogProb(
          Tables.documents(s, dir).select("doc_id", "text"),
          "doc_id", "text")
          .select(col("doc_id"), col("avg_logprob")),
        "doc_id", "avg_logprob")),

    "text_lang_guess" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langGuess(col("text")).as("lang_guess"))),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .select("doc_id", "fp_exact", "fp_norm")),

    // corpus bigram frequencies: shingle -> explode -> count -> top-20
    // (deterministic count desc, bigram asc ordering)
    "text_top_bigrams" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(TextAnalysis.tokens(col("text")).as("t"))
        .where(size(col("t")) >= 2)
        // every occurrence counts (unlike Dedup.shingles, which
        // dedupes within a doc for Jaccard)
        .select(explode(transform(sequence(lit(0), size(col("t")) - 2),
          i => concat_ws(" ", element_at(col("t"), i + 1),
            element_at(col("t"), i + 2)))).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)),

    // TF-IDF top-3 terms per document — tf * ln(N/df), scores rounded
    // BEFORE ranking so ulp-level ln() differences can't flip the
    // cutoff; final per-doc top-k runs on the TopKPerKey heap operator
    "text_tfidf_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // corpus size folded in-plan (1-row agg, broadcast) instead of a
      // driver-side count(): one job, one scan pass at 100 TB
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"), explode(
          TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // r19: df derives from tf's groups (one row per (doc, term), so
      // count-per-term == countDistinct(doc_id) over distinct tokens) —
      // drops the second full tokenize+explode pass the old `terms`
      // frame paid, and AQE stage reuse serves both consumers from
      // tf's one exchange
      val df = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "term")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
      graft.plans.TopKPerKey.topKPerKey(scored, Seq("doc_id"),
        Seq("tfidf" -> true, "term" -> false), 3)
    }),

    // BM25 top-k retrieval (the RAG/corpus-search primitive): score all
    // docs against a fixed query term set, keep the global top 20.
    // Posting lists of |q| terms only; corpus stats fold in-plan as a
    // broadcast 1-row agg; per-term contributions sum as micro-unit
    // longs so the score is FP-order-invariant across engines
    "text_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", Seq("spark", "join", "window", "vector"), 20)),

    // PII masking (the redaction sibling of P3's column drop): digit-run
    // scrubbing + keep-last-4 masking, identical regex/concat trees on
    // both engines
    "text_pii_mask" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        regexp_replace(col("o_orderpriority"), "[0-9]+", "#").as("prio_masked"),
        concat(lit("************"),
          substring(lpad(col("o_orderkey").cast("string"), 16, "0"), 13, 4))
          .as("card_masked"))),

    // text normalization (the pre-hash cleanup pass): control chars →
    // space, whitespace-run collapse, trim. The corpus is already clean
    // ASCII, so both engines first build the SAME deterministically
    // dirty string (tabs/CR/LF/BEL + double spaces) and normalize it —
    // the dirt the operator exists to remove is actually present
    "text_normalize" -> ((s, dir) => {
      val dirty = concat(lit("\t "), col("text"), lit("  \r\n"),
        substring(col("text"), 1, 10), lit("\u0007"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.ctrlCount(dirty).as("n_ctrl"),
        length(dirty).as("raw_len"),
        length(TextAnalysis.normalize(dirty)).as("norm_len"),
        md5(TextAnalysis.normalize(dirty).cast("binary")).as("norm_md5"))
    }),

    // PII scan battery: email / phone / IPv4 regex detection plus
    // Luhn-checked 16-digit card validation and a full redaction pass.
    // The corpus carries no PII, so both engines synthesize the same
    // deterministic contact blob per row (one valid Luhn card, one
    // corrupted) — the detectors then have real positives AND a
    // discriminating negative to find. Map-only codegen expressions.
    "text_pii_scan" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val base15 = lpad(id, 15, "4")
      val cardGood = concat(base15,
        TextAnalysis.luhnCheckDigit(base15, 15).cast("string"))
      val cardBad = concat(base15,
        ((TextAnalysis.luhnCheckDigit(base15, 15) + 5) % 10).cast("string"))
      val blob = concat(col("text"), lit(" contact user"), id, lit("@"),
        col("source"), lit(".example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"),
        lit(" card "), cardGood, lit(" alt "), cardBad)
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val cardRe = "\\b[0-9]{16}\\b"
      val cards = regexp_extract_all(blob, lit(cardRe), lit(0))
      val masked = regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(blob, emailRe, "[EMAIL]"),
        "\\b555-[0-9]{4}\\b", "[PHONE]"), cardRe, "[CARD]"),
        "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "[IP]")
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(blob, lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(blob, lit("\\b555-[0-9]{4}\\b"), lit(0)))
          .as("n_phones"),
        size(regexp_extract_all(blob,
          lit("\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"), lit(0))).as("n_ipv4"),
        size(cards).as("n_cards"),
        size(filter(cards, c => TextAnalysis.luhnValid(c, 16)))
          .as("n_luhn_valid"),
        md5(masked.cast("binary")).as("masked_md5"))
    }),

    // the quality gate a training-data pipeline actually runs: language
    // + quality score + token-count bounds in one filter
    "text_quality_gate" -> ((s, dir) => {
      val stats = TextAnalysis.qualityStats(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
      stats
        .withColumn("lang_guess", TextAnalysis.langGuess(col("text")))
        .where(col("lang_guess") === "en" &&
          col("quality_score") >= 0.4 &&
          col("n_tokens").between(10, 2000))
        .select("doc_id", "n_tokens", "quality_score")
    }),

    // token counting two ways: whitespace tokens + BPE-ish pre-tokens
    // (letter runs / digit runs / single punctuation) — the unit an
    // LLM-data pipeline budgets by
    "text_token_count" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))),

    // tokenizer-vocabulary building: top-k tokens with rank + cumulative
    // coverage fraction (the vocab-size curve); bounded-heap top-k, no
    // global sort
    "text_vocab_topk" -> ((s, dir) =>
      TextAnalysis.vocabTopK(Tables.documents(s, dir), "text", 25)),

    // PMI collocations: top-25 adjacent pairs (min pair count 5) by
    // ln(N·c(ab)/(c(a)·c(b))); counts to double before the ratio, PMI
    // rounded to 6 dp before the rank cutoff
    "text_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, dir), "text",
        k = 25, minCount = 5L)),

    // Zipf-exponent fit over the top-500 terms: exact integer
    // micro-moment sums → engine-exact OLS slope/intercept; the only
    // corpus-sized work is the term-count pass
    "text_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables.documents(s, dir), "text", 500)),

    // RAKE keyword extraction: stopword-delimited candidate phrases,
    // deg/freq word scores in micro-units, top-25 phrases
    "text_rake_keywords" -> ((s, dir) =>
      TextAnalysis.rakeKeywords(Tables.documents(s, dir), "doc_id",
        "text", TextAnalysis.StopwordsEn, k = 25)),

    // winnowing fingerprint selection (MOSS): rightmost-min-of-window
    // over md5 3-gram hashes, w=4, via the declarative l/r interval
    // test — one per-doc window shuffle, ~2/(w+1) of positions kept
    "text_winnow_fingerprints" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, dir),
        "doc_id", "text", k = 3, w = 4)),

    // MOSS near-dup pairing over winnowed fingerprints: pairs sharing
    // ≥2 distinct fingerprints; df≤20 hot-bucket cap bounds the
    // self-join at maxDf² per fingerprint
    "text_winnow_neardups" -> ((s, dir) =>
      TextAnalysis.winnowNearDups(Tables.documents(s, dir),
        "doc_id", "text", k = 3, w = 4, minShared = 2, maxDf = 20)),

    // screen-accuracy evaluation (the dedup_minhash_est_error
    // pattern): every winnow-screen pair gets its EXACT 3-gram
    // Jaccard — the screen's quality becomes a measured, oracle-
    // checked table instead of a claim. Pairs are deterministic and
    // independently hash-checked by text_winnow_neardups; the aux
    // parquet only transports them into the oracle
    "text_winnow_screen_error" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      TextAnalysis.winnowNearDups(docs, "doc_id", "text",
          k = 3, w = 4, minShared = 2, maxDf = 20)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
          col("shared_fps"))
        .write.mode("overwrite")
        .parquet(OracleAux.dir(dir, "winnow_pairs"))
      val withSh = docs.select(col("doc_id").cast("long").as("doc_id"),
        graft.dedup.Dedup.shingles(TextAnalysis.tokens(col("text")), 3)
          .as("__sh"))
      graft.dedup.Dedup.withJaccard(
          s.read.parquet(OracleAux.dir(dir, "winnow_pairs")),
          withSh, "doc_id", "__sh")
        .select(col("id_a"), col("id_b"), col("shared_fps"),
          Dedup.jaccard6(col("__ji"), col("__ju")).as("exact_jaccard"),
          (Dedup.jaccard6(col("__ji"), col("__ju")) >= 0.5).as("is_neardup"))
    }),

    // one distributed BPE-training step: adjacent char-pair counts
    // weighted by word frequency, over the distinct-word vocabulary —
    // rank 1 is the next merge
    "text_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), "text", 25)),

    // the full iterative BPE training loop (count → merge top pair →
    // recount, k rounds): the learned merge table a tokenizer ships.
    // Every round is vocabulary-sized; the oracle replays the entire
    // loop as a k-stage CTE chain, so the merge CHOICE at every rank
    // is verified, not just the apply step
    "text_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(Tables.documents(s, dir), "text", 6)),

    // BPE ENCODE: apply the trained merge table and bill each document its
    // token cost — train→encode is the full tokenizer loop; encoding is
    // a vocabulary join, never a per-doc merge replay
    "text_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncode(Tables.documents(s, dir), "doc_id", "text", 6)),

    // unigram LM quality score (CCNet-style perplexity filter, order-0):
    // model trained on the corpus, scored by mean token log-prob —
    // micro-nat decimal sums keep it partition-order-invariant
    "text_unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")),

    // order-1 LM (add-1-smoothed bigrams): catches shuffled/wrong-order
    // text the unigram filter scores as fluent
    "text_bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")),

    // held-out trigram LM with stupid backoff: model trained on the
    // doc_id%10!=7 slice scores the held-out slice — backoff genuinely
    // fires (unlike corpus-trained LMs), the production crawl-scoring
    // shape; per-doc backoff counts expose model coverage. The hint is
    // an honest upper bound from the corpus manifest (every test SF's
    // documents table is ≪10M tokens, far under the 5·10⁷ broadcast
    // threshold) — the repeat-caller path that skips the sizing scan;
    // hintless planning is spec-pinned in TextAnalysisSpec
    "text_trigram_backoff" -> ((s, dir) =>
      TextAnalysis.stupidBackoffLogScore(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", col("doc_id") % 10 =!= 7,
        trainTokensHint = Some(10000000L))),

    // sequence packing: docs → fixed-token-budget training sequences,
    // contiguously in (source, doc_id) order — pack assignment is a
    // total function of the corpus (reproducible data order); output is
    // the per-pack manifest. Registered form is the two-pass distributed
    // prefix sum (no single-task stratum sort — a 10-TB stratum would
    // serialize under the window form); the window form survives in
    // PackingSpec as the bit-equal semantic twin.
    "text_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequencesScalable(
        Tables.documents(s, dir), "doc_id", "text", "source", 512)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("pack_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))),

    // overlapping token-window chunking (context-window splitter):
    // map-only posexplode, chunk hash stands in for the text so chunk-
    // level exact dedup is a downstream groupBy
    "text_chunk_windows" -> ((s, dir) =>
      TextAnalysis.chunkWindows(
        Tables.documents(s, dir), "doc_id", "text", 32, 24)),

    // C4/RefinedWeb corpus-level line dedup: a "line" (3-token row of
    // the single-line harness docs) appearing in >1 distinct document
    // is boilerplate, removed everywhere. One shuffle key (the line)
    // reused for both the distinct-count and the anti join
    "text_line_dedup" -> ((s, dir) =>
      TextAnalysis.lineDedup(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", lineWords = 3)),

    // per-DOMAIN boilerplate removal (the within-site C4 rule): a line
    // in ≥2 distinct docs of the SAME source is that site's
    // header/footer and removed there; the same line across different
    // sources survives
    "text_boilerplate_lines" -> ((s, dir) =>
      TextAnalysis.boilerplateLineDedup(
        Tables.documents(s, dir).select("doc_id", "source", "text"),
        "doc_id", "source", "text", lineWords = 3, minDocs = 2)),

    // character-entropy band signal: repeated-char padding scores low,
    // base64-ish noise high — micro-bit decimal sums, order-invariant
    "text_char_entropy" -> ((s, dir) =>
      TextAnalysis.charEntropy(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text")),

    // DSIR importance weights: log-likelihood ratio of the lang='en'
    // target slice over the raw corpus on hashed bigram features —
    // classifier-free "looks like the target" data selection
    "text_dsir_weights" -> ((s, dir) =>
      TextAnalysis.dsirLogRatio(
        Tables.documents(s, dir).select("doc_id", "lang", "text"),
        "doc_id", "text", col("lang") === "en", numBuckets = 4096)),

    // ingest drift gate: PSI over fixed-width n_chars buckets between
    // the standing corpus (doc_id%10!=7) and the arriving batch slice —
    // a shifted scrape fails loudly BEFORE joining the training mix
    "drift_psi_nchars" -> ((s, dir) =>
      graft.etl.Drift.psiByBucket(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", col("doc_id") % 10 =!= 7, col("doc_id") % 10 === 7,
        bucketWidth = 50, maxBucket = 19)),

    // two-sample Kolmogorov–Smirnov drift — the bucket-free complement
    // of the PSI gate: worst-point CDF divergence between view and
    // purchase transaction values, exact via integer cross-multiplied
    // CDF gaps and a hierarchical (bucket + offset) prefix sum
    "drift_ks_value" -> ((s, dir) =>
      graft.etl.Drift.ksDistance(Tables.events(s, dir), "value",
        col("event_type") === "view", col("event_type") === "purchase")),

    // adaptive per-language length gate: drop docs under their OWN
    // language's 10th-percentile token count — fixed global thresholds
    // over-prune terse languages; the threshold is a per-group exact
    // percentile broadcast back (group-cardinality-sized model).
    // Exact `percentile` buffers each group's values (fine for the
    // oracle-checkable harness); at corpus scale swap in
    // approx_percentile — identical plan shape, bounded sketch memory
    "text_adaptive_length_gate" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_toks"))
      val th = d.groupBy(col("lang"))
        .agg(percentile(col("n_toks"), lit(0.1)).as("__p10"))
      d.join(broadcast(th), "lang")
        .where(col("n_toks") >= col("__p10"))
        .select(col("doc_id"), col("lang"), col("n_toks"),
          round(col("__p10"), 6).as("p10"))
    }),

    // per-domain quota capping: keep the top-5 docs per source by
    // (n_chars desc, doc_id asc) on the TopKPerKey heap operator — the
    // "no domain may dominate the mix" web-corpus rule
    "sample_domain_quota" -> ((s, dir) =>
      graft.plans.TopKPerKey.topKPerKey(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        Seq("source"), Seq("n_chars" -> true, "doc_id" -> false), 5)),

    // epoch-aware mix EXECUTION (the up-sampling half of mixing): per-
    // source token targets → per-doc repeat counts, full epochs capped
    // at 3 + a deterministic md5-order residual prefix. src1's target
    // oversubscribes (cap binds), src0/src2 exercise the floor-epochs
    // and residual-only regimes at harness scales
    "sample_epoch_mix" -> ((s, dir) =>
      graft.etl.Sampling.epochMix(
        Tables.documents(s, dir).select("doc_id", "source", "text"),
        "doc_id", "text", "source",
        targets = Map("src0" -> 4000L, "src1" -> 100000L, "src2" -> 700L),
        maxEpochs = 3)),

    // α-temperature source weights (the multilingual/multi-source
    // sampling rule, e.g. mC4 / XLM-R: p_i ∝ n_i^α with α = 0.3 —
    // up-samples tail sources, caps the head): per-source token mass,
    // raw share, temperature share, and the boost each source gets.
    // w_i rounds to micro-units BEFORE the total so the normalizing
    // sum is an exact integer (partition-order-invariant); shares
    // divide the micro values on both sides
    "sample_temperature_weights" -> ((s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("__nt"))
        .groupBy(col("source")).agg(sum(col("__nt")).as("n_tokens"))
      val p = t.withColumn("__w6",
        round(pow(col("n_tokens").cast("double"), 0.3) * 1e6, 0).cast("long"))
      val tot = p.agg(sum(col("n_tokens")).as("__tn"),
        sum(col("__w6")).as("__tw"))
      // int/int shares routed boundary-exact (r16 sweep); boost is the
      // ratio of the two exact micro integers — itself int/int
      p.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          TextAnalysis.exactRound6Ratio(col("n_tokens"), col("__tn"))
            .as("p_raw"),
          TextAnalysis.exactRound6Ratio(col("__w6"), col("__tw"))
            .as("p_temp"))
        .withColumn("boost", TextAnalysis.exactRound6Ratio(
          round(col("p_temp") * 1e6, 0).cast("long"),
          round(col("p_raw") * 1e6, 0).cast("long")))
    }),

    // per-key uniform reservoir: 10 docs per source by md5 draw,
    // through the TopKPerKey bounded heap (map-side ≤ k per key, the
    // exchange carries ≤ k·|keys| rows — never a full-group sort)
    "sample_reservoir_per_key" -> ((s, dir) =>
      graft.etl.Sampling.reservoirPerKey(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source", k = 10, salt = "res1")),

    // leak-free train/valid/test split: the split decision hashes the
    // GROUP key (source), so near-duplicate docs within one source can
    // never straddle train and test — map-only, no group table join
    "sample_leakfree_split" -> ((s, dir) =>
      graft.etl.Sampling.leakFreeSplit(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", salt = "split1", trainPct = 80, validPct = 10)),

    // weighted sampling without replacement (Efraimidis–Spirtes):
    // top-10 docs per source by u^(1/n_chars) priority — long docs
    // drawn proportionally more; md5 uniform + micro-unit ln(u)/w rank
    "sample_weighted_per_key" -> ((s, dir) =>
      graft.etl.Sampling.weightedSamplePerKey(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", k = 10, salt = "wres1")),

    // balanced output sharding by byte budget (the corpus-export
    // writer): shard = floor(exclusive-prefix-byte-sum / budget) in
    // (source, doc_id) order via the same two-pass distributed prefix
    // sum as pack_sequences — no single-task stratum sort at 100 TB
    "text_shard_by_bytes" -> ((s, dir) =>
      TextAnalysis.shardByBytes(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", "source", budgetBytes = 4000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum("n_bytes").as("shard_bytes"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))),

    // the composed curation pipeline, end to end: exact keep-first
    // dedup → Gopher quality gate → balanced byte-budget sharding,
    // reported as a per-source funnel (raw → post-dedup → kept, with
    // kept token/byte mass and shard count). One tagging pass computes
    // the dedup-survivor flag AND the quality signals (gopherRules'
    // keep-through columns — no re-join on the id); the tagged frame
    // materializes to the aux dir so the funnel aggregate and the
    // prefix-sum sharder both read a parquet cache instead of
    // recomputing the lineage (at 100 TB: persist or checkpoint — the
    // tag pass is the only corpus-sized scan in the whole pipeline)
    "pipeline_curation_e2e" -> ((s, dir) => {
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      val tagged = TextAnalysis.gopherRules(
        Tables.documents(s, dir).select("doc_id", "text", "source", "n_chars")
          .withColumn("is_first", (row_number().over(w) === 1).cast("int")),
        "doc_id", "text", keep = Seq("source", "n_chars", "is_first"))
      tagged.write.mode("overwrite")
        .parquet(OracleAux.dir(dir, "curation_tagged"))
      val t = s.read.parquet(OracleAux.dir(dir, "curation_tagged"))
      val keptFlag = col("is_first") === 1 && col("gopher_pass") === 1
      val shards = TextAnalysis.shardByBytes(
          t.where(keptFlag).select("doc_id", "source", "n_chars"),
          "doc_id", "n_chars", "source", budgetBytes = 4000L)
        .groupBy(col("source"))
        .agg(countDistinct(col("shard_id")).as("n_shards"))
      t.groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"),
          sum(col("is_first")).cast("long").as("n_dedup"),
          sum(keptFlag.cast("long")).as("n_kept"),
          sum(when(keptFlag, col("n_tokens").cast("long")).otherwise(0L))
            .as("kept_tokens"),
          sum(when(keptFlag, col("n_chars")).otherwise(0L)).as("kept_bytes"))
        .join(broadcast(shards), Seq("source"), "left")
        .withColumn("n_shards", coalesce(col("n_shards"), lit(0L)))
    }),

    // ---- dedup ----
    // exact substring dedup (Lee et al. ExactSubstr): stride-1 8-token
    // sliding-window fingerprints; corpus-duplicated windows merge into
    // maximal per-doc removed spans — duplicate text at ARBITRARY
    // offsets, which aligned line dedup and stride-aligned chunk
    // hashing both miss
    "dedup_substring_spans" -> ((s, dir) =>
      TextAnalysis.substringDupSpans(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", n = 8)),

    // the accounting view of the same operator: per-doc kept/removed
    // token budget after span removal (every doc present)
    "dedup_substring_summary" -> ((s, dir) =>
      TextAnalysis.substringDedupSummary(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", n = 8)),

    // the APPLY step: the cleaned corpus itself (duplicated spans cut
    // out of every document, full corpus preserved via left join)
    "dedup_substring_apply" -> ((s, dir) =>
      TextAnalysis.substringDedupApply(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", n = 8)),

    // the ingest-cycle form: new-batch docs (doc_id%10==7) deduplicated
    // against the PERSISTED bucketed window index of the rest of the
    // corpus — the batch side is the only exchange (plan-audited)
    "dedup_substring_incremental" -> ((s, dir) => {
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val wins = TextAnalysis.windowFingerprints(docs, "doc_id", "text", 8)
      graft.etl.Bucketing.writeBucketed(
        wins.where(col("doc_id") % 10 =!= 7).select("w").distinct(),
        s"graft_win_index_$sfx", OracleAux.dir(dir, "win_index"), "w", 8)
      TextAnalysis.substringDedupIncremental(
        wins.where(col("doc_id") % 10 === 7),
        s.table(s"graft_win_index_$sfx"), "doc_id", n = 8)
    }),

    "dedup_exact" -> ((s, dir) =>
      Dedup.dedupExact(Tables.documents(s, dir), "text", "doc_id")
        .select(md5(col("text").cast("binary")).as("text_hash"),
          col("doc_id"), col("n_copies"))),

    // the dedup OUTPUT: surviving corpus after exact dedup (first doc
    // per distinct text wins)
    "dedup_keep_first" -> ((s, dir) =>
      Dedup.dedupExactRows(Tables.documents(s, dir), "text", "doc_id")
        .select("doc_id", "lang", "source", "n_chars")),

    // MinHash LSH near-dups: banding tuned for j≥0.8. 32 hashes in 16
    // 2-row bands puts the per-pair miss probability at (1-j²)^16 —
    // ≈8e-8 at the j=0.80 threshold itself and ≈2e-8 at the j≈0.82
    // cross-replica pairs a replicated fixture plants (the r13 sf1.0
    // sweep caught exactly one such miss under the old 16/8 banding,
    // whose per-pair miss at j=0.82 was ≈1.3e-4) — so LSH output ==
    // exact output with margin even at ~1e6 true pairs, and the exact-
    // jaccard oracle below stays a valid twin
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.8)),

    // cluster-level dedup: near-dup pairs → connected components → one
    // canonical (min-id) doc per cluster. The pair list is materialized
    // so DuckDB can verify the component step via a recursive
    // transitive-closure CTE; the iterative Spark loop is
    // Dedup.connectedComponents (min-label propagation, localCheckpoint
    // per round)
    "dedup_cluster_canonical" -> ((s, dir) => {
      val pairPath = OracleAux.dir(dir, "neardup_pairs")
      Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.8)
        .select("id_a", "id_b")
        .write.mode("overwrite").parquet(pairPath)
      val comp = Dedup.connectedComponents(
        s.read.parquet(pairPath), "id_a", "id_b")
      val w = Window.partitionBy(col("cluster_id"))
      comp.select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .withColumn("cluster_size", count(lit(1)).over(w))
        .withColumn("keep", col("doc_id") === col("cluster_id"))
    }),

    // the full near-dup dedup decision a real pipeline ships: cluster
    // the pair graph, then keep the BEST-quality doc per cluster (not
    // min-id) — rank by (quality desc, doc_id asc); the rn==1 filter
    // rides the TopKPerKey heap rewrite
    "dedup_cluster_keep_best" -> ((s, dir) => {
      val pairPath = OracleAux.dir(dir, "neardup_pairs_kb")
      Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.8)
        .select("id_a", "id_b")
        .write.mode("overwrite").parquet(pairPath)
      val comp = Dedup.connectedComponents(
        s.read.parquet(pairPath), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      val q = graft.text.TextAnalysis.qualityStats(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .select(col("doc_id"), col("quality_score"))
      val w = Window.partitionBy(col("cluster_id"))
      val wOrd = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality_score").desc, col("doc_id").asc)
      comp.join(q, "doc_id")
        .withColumn("n_docs", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(wOrd))
        .where(col("rn") === 1)
        .select(col("cluster_id"), col("n_docs"),
          col("doc_id").as("keep_doc_id"),
          col("quality_score").as("best_quality"))
    }),

    // EXACT full-corpus Jaccard pairs via the inverted shingle index —
    // subquadratic (Σ df² posting pairs, not n²), upgrading the bounded
    // crossJoin baseline to the whole corpus
    "dedup_jaccard_inverted" -> ((s, dir) =>
      Dedup.jaccardPairsInverted(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3, threshold = 0.8)),

    // MinHash sketch calibration: per LSH candidate pair, the signature
    // jaccard ESTIMATE next to the exact jaccard + abs error — sizes
    // numHashes for the threshold before trusting the sketch at scale.
    // Estimates materialize to the aux dir (hash-dependent, not
    // SQL-expressible); the oracle recomputes exact + error from them
    "dedup_minhash_est_error" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      Dedup.minhashEstimatePairs(docs, "doc_id", "text")
        .select("id_a", "id_b", "est_jaccard")
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "mh_est"))
      val withSh = docs.select(col("doc_id").cast("long").as("doc_id"),
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("__sh"))
      Dedup.withJaccard(s.read.parquet(OracleAux.dir(dir, "mh_est")),
          withSh, "doc_id", "__sh")
        .select(col("id_a"), col("id_b"), col("est_jaccard"),
          Dedup.jaccard6(col("__ji"), col("__ju")).as("exact_jaccard"),
          round(abs(col("est_jaccard") -
            Dedup.jaccard6(col("__ji"), col("__ju"))), 6).as("abs_err"))
    }),

    // LSH banding tuner: the S-curve evaluated over THIS corpus's
    // observed candidate-pair jaccard distribution — one row per
    // (bands, rows) factorization of the 16-hash signature, with
    // data-weighted expected recall (hi pairs) and candidate waste
    // (lo pairs). Candidate pairs are hash-dependent → materialized;
    // the oracle recomputes exact jaccard and the squaring-chain
    // probabilities from text
    "dedup_lsh_tuning" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      Dedup.minhashEstimatePairs(docs, "doc_id", "text")
        .select("id_a", "id_b")
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "lsh_tune"))
      val withSh = docs.select(col("doc_id").cast("long").as("doc_id"),
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("__sh"))
      val pw = Dedup.withJaccard(
          s.read.parquet(OracleAux.dir(dir, "lsh_tune")), withSh,
          "doc_id", "__sh")
        // boundary-exact input jaccard: the tuner's own round(·, 6) is
        // then an identity on an exact micro-multiple (r16 sweep)
        .withColumn("jaccard", Dedup.jaccard6(col("__ji"), col("__ju")))
      Dedup.lshBandingTune(pw, "jaccard", numHashes = 16,
        hiThreshold = 0.5)
    }),

    // Directional containment pairs (quote/excerpt detection):
    // |Sa∩Sb|/|Sa| >= t — the asymmetric relation Jaccard misses.
    // Registered through the AUTO-GATED entry point (r13): under the
    // measured prefix-posting threshold it runs the exact all-pairs
    // inverted join (A-side prefix filter + B-side full postings +
    // positional prune, full-set verify) — which is what executes at
    // every tested sf, so this stays the worst-case timing canary the
    // ×32 replica probe anchored on (every prefix is half the shingles
    // at t=0.5; BASELINE_HISTORY.md "Scale probe (events ×32 …)":
    // 7.0 → 216 s, at the 31× linear bound). Above the threshold — the
    // 100 TB all-pairs regime the exact join is spill-bound in — the
    // gate routes automatically
    // through the bottom-k sketch screen + exact re-verify
    // (bounded A-side volume; DedupSpec pins path parity on a
    // forced-low threshold). The batch regime
    // (`dedup_containment_batch`) remains THE recommended plan when a
    // query slice exists.
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairsAuto(Tables.documents(s, dir), "doc_id",
        "text", shingleSize = 3, threshold = 0.5)),

    // the batch (excerpt-detection) mode — THE way to run containment
    // at corpus scale: the prefix side is a fixed query slice, the
    // corpus contributes one linear posting pass (×128-probed
    // near-flat); output = the unrestricted join filtered to the batch.
    // Routed through the AUTO entry (r15): the measured Σdf² gate picks
    // count-verify where it is measured-cheap (bench scale: 1.7 s vs
    // the plan-stats broadcast route's 5.3 s) and the broadcast
    // array-verify only in the mid-scale regime where IT is faster
    "dedup_containment_batch" -> ((s, dir) =>
      Dedup.containmentPairsAuto(Tables.documents(s, dir), "doc_id",
        "text", shingleSize = 3, threshold = 0.5,
        aFilter = col("doc_id") % 2 === 1)),

    // bounded-cost APPROXIMATE containment screen (bottom-k sketch)
    // for the all-pairs regime the exact join is spill-bound in: the
    // A-side explodes ≤ k postings per doc (constant) instead of the
    // (1-t)·|a| prefix. Estimates materialize to the aux dir
    // (hash-dependent); exact containment + abs error are re-scored
    // from the full shingle sets — the dedup_minhash_est_error
    // calibration pattern, so the screen's error is a measured,
    // oracle-checked number
    "dedup_containment_sketch" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      Dedup.containmentSketchPairs(docs, "doc_id", "text",
          shingleSize = 3, k = 8, minEst = 0.3,
          maxJoinPairs = Dedup.DefaultMaxCandidatePairs)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "cont_sketch"))
      val withSh = docs.select(col("doc_id").cast("long").as("doc_id"),
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("__sh"))
      Dedup.withContainment(
          s.read.parquet(OracleAux.dir(dir, "cont_sketch")),
          withSh, "doc_id", "__sh")
        .select(col("id_a"), col("id_b"), col("est_containment"),
          col("exact_containment"),
          round(abs(col("est_containment") - col("exact_containment")), 6)
            .as("abs_err"))
    }),

    // classifier-based quality filter (CCNet/fastText shape): logistic
    // regression over md5-hashed token buckets, trained distributed on
    // a FIXED-SIZE content-hash sample (~250 docs whatever the corpus
    // — the CCNet discipline; one corpus scan builds the persisted
    // bucket-array cache, then 3 GD passes read only the sample) with
    // micro-unit-long gradient sums (bit-identical weights whatever
    // the partitioning), scored map-only over the FULL corpus. The
    // trained model materializes to the aux dir (bucket -1 = bias,
    // micro units); the oracle re-scores every doc from it
    "text_quality_classifier" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
      val (w, b) = graft.text.QualityClassifier.train(
        docs, "text", col("lang") === "en", numBuckets = 256, iters = 3,
        sampleMod = graft.text.QualityClassifier.sampleModFor(
          docs.count(), 250))
      val model = (-1 -> math.rint(b * 1e9).toLong) +:
        w.toSeq.zipWithIndex.map { case (wt, i) =>
          i -> math.rint(wt * 1e9).toLong }
      import s.implicits._
      model.toDF("bucket", "w_micro").coalesce(1)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "quality_lr"))
      graft.text.QualityClassifier.score(docs, "doc_id", "text", w, b,
        numBuckets = 256, threshold = 0.5)
    }),

    // threshold calibration for the trained filter: the keep threshold
    // is an OPERATING POINT someone must pick, so sweep it — per
    // threshold in {0.1..0.9}, the confusion counts and P/R/F1 against
    // the heuristic label, from ONE map-only scoring pass (label rides
    // through scoring via keepCols; the 9-way fan-out is an array
    // explode of a literal grid, not 9 scans). Model materializes to
    // its own aux dir; the oracle re-scores every doc from it and
    // replays the same sweep arithmetic
    "text_quality_pr_curve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
      val (w, b) = graft.text.QualityClassifier.train(
        docs, "text", col("lang") === "en", numBuckets = 256, iters = 3,
        sampleMod = graft.text.QualityClassifier.sampleModFor(
          docs.count(), 250))
      val model = (-1 -> math.rint(b * 1e9).toLong) +:
        w.toSeq.zipWithIndex.map { case (wt, i) =>
          i -> math.rint(wt * 1e9).toLong }
      import s.implicits._
      model.toDF("bucket", "w_micro").coalesce(1)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "quality_lr_pr"))
      val scored = graft.text.QualityClassifier.score(
        docs.withColumn("y", (col("lang") === "en").cast("int")),
        "doc_id", "text", w, b, numBuckets = 256, threshold = 0.5,
        keepCols = Seq("y"))
      val grid = (1 to 9).map(i => lit(i / 10.0))
      val conf = scored
        .select(col("p_quality"), col("y"),
          explode(array(grid: _*)).as("thr"))
        .groupBy(col("thr"))
        .agg(
          sum(when(col("p_quality") >= col("thr") && col("y") === 1, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("p_quality") >= col("thr") && col("y") === 0, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("p_quality") < col("thr") && col("y") === 1, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("p_quality") < col("thr") && col("y") === 0, 1L)
            .otherwise(0L)).as("tn"))
      // int/int ratios routed boundary-exact (r16 sweep); f1 =
      // 2pr/(p+r) over the exact micro integers zp, zr is the single
      // rational 2·zp·zr / ((zp+zr)·10⁶) — itself int/int
      val p = when(col("tp") + col("fp") > 0,
        TextAnalysis.exactRound6Ratio(col("tp"), col("tp") + col("fp")))
      val r = when(col("tp") + col("fn") > 0,
        TextAnalysis.exactRound6Ratio(col("tp"), col("tp") + col("fn")))
      conf.withColumn("precision", p).withColumn("recall", r)
        .withColumn("__zp", round(col("precision") * 1e6, 0).cast("long"))
        .withColumn("__zr", round(col("recall") * 1e6, 0).cast("long"))
        .withColumn("f1",
          when(col("precision") + col("recall") > 0,
            TextAnalysis.exactRound6Ratio(
              lit(2L) * col("__zp") * col("__zr"),
              (col("__zp") + col("__zr")) * lit(1000000L))))
        .drop("__zp", "__zr")
    }),

    // cross-source overlap matrix: distinct shared 3-token lines per
    // source pair + per-side overlap fractions — which sources are
    // contaminated with each other, BEFORE they join a training mix
    "text_source_overlap" -> ((s, dir) =>
      TextAnalysis.sourceOverlapMatrix(
        Tables.documents(s, dir).select("source", "text"),
        "source", "text", lineWords = 3)),

    // the 100-TB form of the overlap matrix: per-source HLL sketches
    // of the distinct lines (one linear pass, no per-source distinct
    // shuffle, no line-keyed self-join) + pairwise union /
    // inclusion-exclusion over the k×k sketch-only frame. Estimates
    // are hash-dependent → materialized to the aux dir; exact shared
    // counts re-scored on both sides so the sketch's error is a
    // measured, oracle-checked number (the dedup_minhash_est_error
    // calibration pattern)
    "corpus_overlap_sketch" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("source", "text")
      TextAnalysis.sourceOverlapSketch(docs, "source", "text",
          lineWords = 3, lgK = 12)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "overlap_hll"))
      val est = s.read.parquet(OracleAux.dir(dir, "overlap_hll"))
      val exact = TextAnalysis.sourceOverlapMatrix(docs, "source", "text",
          lineWords = 3)
        .select(col("src_a"), col("src_b"), col("n_shared"))
      est.join(exact, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
          col("est_union"), col("est_shared"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          abs(col("est_shared") - coalesce(col("n_shared"), lit(0L)))
            .as("abs_err"))
    }),

    // Count-Min-Sketch heavy hitters: estimated vs exact counts for
    // the exact top-20 terms, plus the one-sided overcount. The CMS
    // path answers per-term frequency from a fixed-size counter grid
    // (one map-side-combined scan, NO vocabulary shuffle); the exact
    // top-k here is the calibration reference. Estimates are
    // hash-function-dependent (seeded) → materialized to the aux dir;
    // exact counts re-derived by the oracle. Integer cell merges make
    // the estimates bit-identical whatever the partitioning — CMS is
    // the deterministic sketch, unlike the HLL estimator
    "corpus_heavyhitters_cms" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("text")
      val cms = TextAnalysis.cmsTokenSketch(docs, "text",
        eps = 1e-4, confidence = 0.99, seed = 42)
      val exactTop = TextAnalysis.vocabTopK(docs, "text", 20)
        .select("term", "cnt", "rank")
      val terms = exactTop.select("term").collect().map(_.getString(0))
      TextAnalysis.cmsEstimates(s, cms, terms.toSeq).coalesce(1)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "cms_est"))
      s.read.parquet(OracleAux.dir(dir, "cms_est"))
        .join(broadcast(exactTop), Seq("term"))
        .select(col("term"), col("rank"), col("cnt"), col("est_cnt"),
          (col("est_cnt") - col("cnt")).as("overcount"))
    }),

    // corpus-level n-gram novelty: share of a doc's distinct trigram
    // shingles with corpus df=1 — posting-LENGTH read, no df² join
    "text_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text",
        n = 3)),

    // incremental ingest dedup: only the NEW batch's fingerprints shuffle
    // against the existing corpus (left_anti) — at 100 TB the corpus
    // side is a bucketed fingerprint index and the new batch is the
    // only moving data; novel docs flow on, dups are dropped
    "dedup_incremental_novel" -> ((s, dir) => {
      val fp = graft.text.TextAnalysis.fingerprints(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .select(col("doc_id"), col("fp_norm"))
      fp.where(col("doc_id") % 10 === 7)
        .join(fp.where(col("doc_id") % 10 =!= 7), Seq("fp_norm"), "left_anti")
        .select("doc_id", "fp_norm")
    }),

    // incremental dedup against a PERSISTED bucketed fingerprint index:
    // the corpus side is written once as a bucketed table on fp_norm
    // (the pre-paid shuffle), so the per-batch anti-join exchanges ONLY
    // the new batch — at 100 TB the corpus index is petabyte-scale and
    // static per ingest cycle while each batch is tiny; re-shuffling
    // the corpus per batch (what dedup_incremental_novel models) is the
    // thing this variant retires. Plan-audited: exactly one exchange,
    // on the batch side (PlanAuditSpec).
    "dedup_incremental_bucketed" -> ((s, dir) => {
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val fp = graft.text.TextAnalysis.fingerprints(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .select(col("doc_id"), col("fp_norm"))
      graft.etl.Bucketing.writeBucketed(
        fp.where(col("doc_id") % 10 =!= 7),
        s"graft_fp_index_$sfx", OracleAux.dir(dir, "fp_index"), "fp_norm", 8)
      val corpus = s.table(s"graft_fp_index_$sfx")
      fp.where(col("doc_id") % 10 === 7).hint("merge")
        .join(corpus, Seq("fp_norm"), "left_anti")
        .select("doc_id", "fp_norm")
    }),

    // paragraph-level exact dedup, keep-first (Dolma-style): recurring
    // 32-token non-overlapping chunks keep only their first occurrence
    // in (doc_id, chunk_id) order — partial-mergeable struct-min, no
    // per-group sort on a potentially hot chunk hash
    "dedup_chunk_keep_first" -> ((s, dir) =>
      graft.text.TextAnalysis.chunkKeepFirst(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", chunkTokens = 32)),

    // incremental AGGREGATE maintenance — the rollup twin of the
    // incremental dedup family: the persisted agg state (group → count
    // + exact integer-cent sum) merges with a batch partial via a
    // second agg; mergeable representations make merged == full
    // recompute BIT-EXACT, which is precisely what the from-scratch
    // oracle asserts. At 100 TB the state is group-cardinality-sized
    // and the corpus is never re-scanned to refresh the rollup.
    "agg_incremental_merge" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).cast("int").as("o_year"),
        round(col("o_totalprice") * 100, 0).cast("long").as("__cents"))
      val statePath = OracleAux.dir(dir, "agg_state")
      o.where(col("o_orderkey") % 10 =!= 7)
        .groupBy(col("o_orderpriority"), col("o_year"))
        .agg(count(lit(1)).as("n"), sum(col("__cents")).as("cents"))
        .write.mode("overwrite").parquet(statePath)
      s.read.parquet(statePath)
        .unionByName(
          o.where(col("o_orderkey") % 10 === 7)
            .groupBy(col("o_orderpriority"), col("o_year"))
            .agg(count(lit(1)).as("n"), sum(col("__cents")).as("cents")))
        .groupBy(col("o_orderpriority"), col("o_year"))
        .agg(sum(col("n")).as("n_orders"),
          round(sum(col("cents")) / 100.0, 2).as("total_price"))
    }),

    // corpus snapshot diff — the dataset-versioning audit between two
    // corpus versions: added / removed / changed / unchanged per doc by
    // content fingerprint, via ONE co-partitioned full outer join on
    // the doc key (at 100 TB both snapshots shuffle once on doc_id and
    // nothing else moves — the diff is join-local). Version B is the
    // %5 slice with every %3 doc's text mutated, so all four statuses
    // occur; real pipelines pass two real snapshot tables.
    "corpus_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      def fp(d: org.apache.spark.sql.DataFrame) = graft.text.TextAnalysis
        .fingerprints(d, "text").select(col("doc_id"), col("fp_exact"))
      val a = fp(docs.where(col("doc_id") % 7 =!= 0))
        .withColumnRenamed("fp_exact", "fp_a")
      val b = fp(docs
          .withColumn("text", when(col("doc_id") % 3 === 0,
            upper(col("text"))).otherwise(col("text")))
          .where(col("doc_id") % 5 =!= 0))
        .withColumnRenamed("fp_exact", "fp_b")
      a.join(b, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("fp_a").isNull, "added")
            .when(col("fp_b").isNull, "removed")
            .when(col("fp_a") === col("fp_b"), "unchanged")
            .otherwise("changed").as("status"))
    }),

    // exact brute-force n-gram Jaccard on a bounded slice — the oracle-
    // checkable baseline for the LSH path
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).where(col("doc_id") < 200),
        "doc_id", "text", shingleSize = 3, threshold = 0.8)),

    // SimHash near-dups (hamming ≤ 7 on 64-bit fingerprints; the corpus'
    // planted dup pairs measure hamming 0-7). The fingerprints are
    // materialized to parquet so DuckDB can verify the PAIR step exactly
    // (bit_count(xor) over all pairs) — the fingerprint expression
    // itself is covered by DedupSpec
    "dedup_simhash" -> ((s, dir) => {
      val fpPath = OracleAux.dir(dir, "simhash_fp")
      Tables.documents(s, dir).select(col("doc_id"),
        Dedup.simhash64(graft.text.TextAnalysis.tokens(col("text"))).as("fp"))
        .write.mode("overwrite").parquet(fpPath)
      Dedup.simhashCandidatePairs(s.read.parquet(fpPath), "doc_id", "fp",
        maxHamming = 7)
    }),

    // ---- similarity search ----
    "sim_topk_bruteforce" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        emb.where(col("vec_id") < 8), emb, "vec_id", "embedding", k = 10)
    }),

    // hard-negative mining (DPR shape): top-10 sub-threshold neighbors
    // per anchor with margin to the anchor's best positive; 0.35 sits
    // inside this corpus's similarity band so some anchors carry
    // positives (finite margins) and some don't (null margins)
    "sim_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(
        emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
        k = 10, posThreshold = 0.35)
    }),

    // hybrid retrieval: RRF fusion of the lexical BM25 top-50 and the
    // dense cosine top-50 (vec_id ≡ doc_id on the embedded corpus
    // slice). Only RANKS cross the sparse/dense boundary — no score
    // calibration — and contributions are micro-unit longs, so the
    // fused order is engine-exact. Both inputs arrive already top-k;
    // the fusion itself is corpus-size-independent
    "sim_hybrid_rrf" -> ((s, dir) => {
      val lex = TextAnalysis.bm25TopK(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", Seq("spark", "join", "window", "vector"), 50)
        .select(col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.bruteForceTopK(
        emb.where(col("vec_id") === 0), emb, "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, dense), "doc_id", "rank", topK = 20)
    }),

    // per-dimension corpus standardization (whitening): micro-unit
    // integer moments, cleared-fraction z with one sqrt; 64-row stats
    // broadcast back → map-only scoring
    "sim_embedding_standardize" -> ((s, dir) =>
      Similarity.standardizeEmbeddings(
        Tables.embeddings(s, dir), "vec_id", "embedding")),

    // class-separability diagnostic: per label pair, centroid cosine
    // + both classes' mean within-class distance (micro-exact)
    "sim_label_separation" -> ((s, dir) =>
      Similarity.labelSeparation(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label")),

    // feature-redundancy profile: top-30 dimension pairs by |Pearson r|
    // (cleared-fraction integer moments; |r| rounded before the rank)
    "sim_dim_correlation" -> ((s, dir) =>
      Similarity.dimCorrelations(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 30)),

    // power-iteration PCA: 8 fixed von Mises rounds over the exact
    // micro-unit covariance — every iterate bit-replayed by the
    // unrolled SQL oracle (pivot normalisation pins scale AND sign)
    "sim_power_iteration" -> ((s, dir) =>
      Similarity.topPrincipalDirection(
        Tables.embeddings(s, dir), "vec_id", "embedding", iters = 8)),

    // 128 planes = 16 bands × 8 bits + query-side multi-probe: band-key
    // space 256 keeps buckets ~n/256 (subquadratic candidates); see
    // Similarity.srpPlan for the sizing rule at other corpus scales.
    // Candidates are materialized so DuckDB verifies the exact re-rank
    // (the hash-dependent candidate stage is covered by the recall spec)
    "sim_topk_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      Similarity.lshCandidates(q, emb, "vec_id", "embedding")
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "lsh_cands"))
      Similarity.rerankTopK(s.read.parquet(OracleAux.dir(dir, "lsh_cands")),
        q, emb, "vec_id", "embedding", k = 10)
    }),

    // recall@k evaluation of the SRP-LSH path against brute force — the
    // index-quality gate. Recomputes its own candidate set (no ordering
    // dependency on sim_topk_lsh's aux dir); evaluation cost is
    // |Q|·k-row joins, corpus-size-independent
    "sim_recall_at_k" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      Similarity.lshCandidates(q, emb, "vec_id", "embedding")
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "recall_cands"))
      val approx = Similarity.rerankTopK(
        s.read.parquet(OracleAux.dir(dir, "recall_cands")),
        q, emb, "vec_id", "embedding", k = 10)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        k = 10)
      Similarity.recallAtK(approx, exact)
    }),

    // per-label embedding centroid via a typed Aggregator (UDAF
    // surface): partial buffers merge across the shuffle, the exchange
    // carries one (dim+1)-double buffer per (label × partition)
    "agg_vector_centroid" -> ((s, dir) => {
      val mean = graft.functions.VectorAgg.vecMean(64)
      Tables.embeddings(s, dir)
        .groupBy(col("label"))
        .agg(mean(col("embedding")).as("raw"))
        // exploded to scalar rows: the harness compare sorts row values,
        // which array-typed cells would break
        .select(col("label"), posexplode(col("raw")))
        .select(col("label"), (col("pos") + 1).cast("long").as("idx"),
          round(col("col"), 6).as("centroid_val"))
    }),

    // k-means model training (Lloyd, 3 rounds, deterministic stratified
    // init) + cell profile. The trained model is materialized so DuckDB
    // verifies the ASSIGNMENT step exactly (argmax of list_dot_product
    // over the centroid table); the iterative trainer itself is covered
    // by SimilaritySpec (objective improvement + determinism)
    "agg_kmeans_cells" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        numCells = 8, iters = 3)
      cents.zipWithIndex
        .map { case ((v, n), i) => (i, v.map(_.toDouble), n) }.toSeq
        .toDF("cell", "centroid", "norm")
        .coalesce(1).write.mode("overwrite")
        .parquet(OracleAux.dir(dir, "kmeans_centroids"))
      emb.select(col("vec_id"),
          Similarity.cellFor(cents)(col("embedding")).as("cell"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec_id"))
    }),

    // MMR diversified re-rank over the dense top-30 per query (k=10,
    // λ=0.7): sequential in k, parallel across queries (one
    // flatMapGroups task each, candK² local cosines). Candidates with
    // double vecs materialize so the oracle replays the greedy loop
    // exactly via a recursive CTE
    "sim_mmr_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 4)
      val cands = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        k = 30)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("score").as("rel"))
      cands.join(emb.select(col("vec_id").as("cand_id"),
          col("embedding").cast("array<double>").as("vec")), "cand_id")
        .select("query_id", "cand_id", "rel", "vec")
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "mmr_cands"))
      Similarity.mmrRerank(s.read.parquet(OracleAux.dir(dir, "mmr_cands")),
        k = 10, lambda = 0.7)
    }),

    // cluster-quality gate: simplified (centroid-based) silhouette of
    // the same 8-cell / 3-iter k-means model — per-cell mean of
    // s = (b−a)/max(a,b) over own/runner-up cosine distances. Trains
    // and materializes its own centroid table (no ordering dependency
    // on agg_kmeans_cells); one map-only corpus pass + 8-row agg
    "sim_cluster_silhouette" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        numCells = 8, iters = 3)
      cents.zipWithIndex
        .map { case ((v, n), i) => (i, v.map(_.toDouble), n) }.toSeq
        .toDF("cell", "centroid", "norm")
        .coalesce(1).write.mode("overwrite")
        .parquet(OracleAux.dir(dir, "silhouette_centroids"))
      Similarity.clusterSilhouette(emb, "vec_id", "embedding", cents)
    }),

    // Product-Quantization ADC top-k (Jégou et al. 2011): m=8
    // subspace codebooks (k=16, L2 Lloyd, deterministic stratified
    // init), corpus encoded to (id, subspace, code) rows — 32× smaller
    // than the float vectors — and each query answered from its m×k
    // micro-unit lookup table with ONE equi-join + integer-sum agg
    // (query time never touches a float vector). Codebooks + codes
    // materialize to the aux dir; the oracle re-derives every estimate
    // (round each subspace dot to 1e-6, integer-sum, rank) and
    // re-scores the exact dot on the winners, so the ADC quantization
    // error is a measured per-row column
    "sim_topk_pq" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cbs = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (cw, c) => (j, c, cw.map(_.toDouble)) }
      }.toSeq.toDF("subspace", "code", "vec").coalesce(1)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pq_codebooks"))
      Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pq_codes"))
      val topk = Similarity.pqAdcTopK(q,
        s.read.parquet(OracleAux.dir(dir, "pq_codes")), cbs,
        "vec_id", "embedding", k = 10)
      val qv = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      val nv = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("__nv"))
      topk.join(broadcast(qv), Seq("query_id")).join(nv, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("est_dot"),
          round(Similarity.dot(col("__qv"), col("__nv")), 6).as("exact_dot"))
    }),

    // the production PQ shape measured: ADC shortlist(50) → exact-dot
    // re-rank(10), recall@10 against brute-force dot — the quantized
    // index's quality as an oracle-checked number (the sim_recall_at_k
    // pattern; raw ADC ranking alone carries the quantization error
    // sim_topk_pq materializes, re-ranking buys it back)
    "sim_pq_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cbs = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (cw, c) => (j, c, cw.map(_.toDouble)) }
      }.toSeq.toDF("subspace", "code", "vec").coalesce(1)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pqr_codebooks"))
      Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pqr_codes"))
      val approx = Similarity.pqShortlistRerank(q,
        s.read.parquet(OracleAux.dir(dir, "pqr_codes")), cbs, emb,
        "vec_id", "embedding", k = 10, shortlist = 50)
      val exact = Similarity.bruteForceTopKDot(q, emb, "vec_id",
        "embedding", k = 10)
      Similarity.recallAtK(approx, exact)
    }),

    // the composed retrieval stack (FAISS-style IVFADC, non-residual):
    // IVF cells pick WHO gets scored (~nprobe/numCells of the corpus),
    // PQ codes make scoring them cheap (m lookups, no float reads),
    // exact dot re-ranks the shortlist. Candidates, codes and
    // codebooks materialize; the oracle replays ADC over exactly the
    // candidate pairs, shortlists, and re-ranks with the
    // list_dot_product twin
    "sim_topk_ivfpq" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cbs = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (cw, c) => (j, c, cw.map(_.toDouble)) }
      }.toSeq.toDF("subspace", "code", "vec").coalesce(1)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pqi_codebooks"))
      Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pqi_codes"))
      Similarity.ivfCandidates(q, emb, "vec_id", "embedding",
          numCells = 16, nprobe = 8)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pqi_cands"))
      Similarity.ivfPqTopK(q, emb,
        s.read.parquet(OracleAux.dir(dir, "pqi_cands")),
        s.read.parquet(OracleAux.dir(dir, "pqi_codes")), cbs,
        "vec_id", "embedding", k = 10, shortlist = 50)
    }),

    // the PUBLISHED IVFADC form (Jégou et al. 2011 §IV): PQ codebooks
    // quantize RESIDUALS x − c_cell(x), which concentrate near zero
    // and quantize with less error than raw vectors; the estimate is
    // q·c_cell (a per-(query, cell) constant) + the residual ADC sum.
    // Centroids, cell assignments, codebooks, codes, and candidates
    // all materialize; the oracle replays the two-term estimate,
    // shortlist, and exact re-rank
    "sim_topk_ivfpq_res" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        numCells = 16, iters = 1)
      cents.map(_._1).zipWithIndex
        .map { case (v, i) => (i, v.map(_.toDouble)) }.toSeq
        .toDF("cell", "vec").coalesce(1)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pqres_cents"))
      // r19 multi-consumer pin: resid feeds the cells write, the three
      // pqTrain actions AND the encode write — five executions of the
      // scan+cellFor+zip_with subtree without it
      val resid = graft.Checkpoints.checkpoint(
        Similarity.residuals(emb, "vec_id", "embedding", cents))
      resid.select("vec_id", "cell")
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pqres_cells"))
      val cbs = Similarity.pqTrain(resid, "vec_id", "__resid",
        m = 8, k = 16, iters = 2)
      cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (cw, c) => (j, c, cw.map(_.toDouble)) }
      }.toSeq.toDF("subspace", "code", "vec").coalesce(1)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pqres_codebooks"))
      Similarity.pqEncode(resid, "vec_id", "__resid", cbs)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pqres_codes"))
      val cellsDf = s.read.parquet(OracleAux.dir(dir, "pqres_cells"))
      Similarity.ivfProbe(q, "vec_id", "embedding", cents,
          cellsDf.select(col("vec_id").as("neighbor_id"), col("cell")),
          nprobe = 8)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "pqres_cands"))
      Similarity.ivfPqResidualTopK(q, emb,
        s.read.parquet(OracleAux.dir(dir, "pqres_cands")), cellsDf,
        s.read.parquet(OracleAux.dir(dir, "pqres_codes")), cents, cbs,
        "vec_id", "embedding", k = 10, shortlist = 50)
    }),

    // IVF-bucketed ANN; probe-join candidates materialized, re-rank
    // DuckDB-verified (recall vs brute force asserted in SimilaritySpec)
    "sim_topk_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      Similarity.ivfCandidates(q, emb, "vec_id", "embedding",
        numCells = 16, nprobe = 8)
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "ivf_cands"))
      Similarity.rerankTopK(s.read.parquet(OracleAux.dir(dir, "ivf_cands")),
        q, emb, "vec_id", "embedding", k = 10)
    }),

    // embedding near-dup pairs (cosine ≥ 0.4 — the corpus' top pairs sit
    // at ≈0.45; nothing is above 0.5). Wide bands, sketch pre-filter;
    // candidates materialized, exact stage DuckDB-verified
    // MEASURED-gate routing (r16 census find — the multimodal_neardups
    // treatment): threshold 0.4 sits at ≈3.2σ of the N(0, 1/√64)
    // embedding background, so the banded CANDIDATE list is
    // corpus-quadratic there — the old plan materialized it raw and
    // died on disk at sf10 (>70 GB aux write, ENOSPC, reproduced in a
    // fresh JVM). The auto gate measures the background and reroutes
    // to the cell-bounded operator at that scale; EITHER route emits
    // exact-scored pairs ≥ t, and the oracle re-scores the
    // materialized pair list, so the contract is route-independent.
    "sim_cosine_neardups" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineNearDupsAuto(emb, "vec_id", "embedding",
          threshold = 0.4)
        .select(col("id_a"), col("id_b"))
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "cosine_cands"))
      Similarity.cosineNearDupsFromCandidates(
        s.read.parquet(OracleAux.dir(dir, "cosine_cands")),
        emb, "vec_id", "embedding", threshold = 0.4)
    }),

    // SemDeDup: k-means cells bound the pairwise-cosine work to
    // Σ|cell|² (never n²); drop = a smaller-id same-cell neighbor at
    // cosine ≥ t. Centroids materialized so DuckDB re-derives the
    // ASSIGNMENT and the within-cell NOT-EXISTS exactly
    "dedup_semantic" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        numCells = 8, iters = 3)
      cents.zipWithIndex
        .map { case ((v, n), i) => (i, v.map(_.toDouble), n) }.toSeq
        .toDF("cell", "centroid", "norm")
        .coalesce(1).write.mode("overwrite")
        .parquet(OracleAux.dir(dir, "semdedup_centroids"))
      Similarity.semanticDedup(emb, "vec_id", "embedding", cents,
        threshold = 0.4)
    }),

    // int8 symmetric quantization of embeddings (the 4× storage
    // compression a 100 TB vector corpus ships with): per-vector scale
    // = max|x|/127, q_i = round(x_i/scale). Emits the scale, the exact
    // integer checksum of the codes, and the max reconstruction error —
    // all order-insensitive folds, so the DuckDB twin (list lambdas)
    // matches bitwise
    "scalar_embedding_quantize" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val v = transform(col("embedding"), x => x.cast("double"))
      val scale = greatest(
        aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x))),
        lit(1e-12)) / lit(127.0)
      emb.select(col("vec_id"), scale.as("__s"), v.as("__v"))
        .select(col("vec_id"),
          round(col("__s"), 9).as("scale"),
          aggregate(col("__v"), lit(0.0),
            (a, x) => a + round(x / col("__s"), 0)).cast("long").as("q_sum"),
          round(aggregate(col("__v"), lit(0.0),
            (a, x) => greatest(a, abs(x - round(x / col("__s"), 0) * col("__s")))),
            9).as("max_err"))
    }),

    // ---- multimodal ----
    // metadata pass: payload wrapped, width/height/type derived — the
    // payload-free projection parquet pruning would serve at scale
    // width/height are xxhash64-derived (not oracle-expressible) — they
    // are exercised in the ScalaTest suite; the oracle checks the rest
    // all three run over TRUE binary payloads (full-range 0x00–0xFF
    // synthesized bytes, not UTF-8 text-as-bytes): metadata-only read
    // never touches the payload column (pruning)
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.asBinaryMedia(Tables.documents(s, dir), "doc_id", "text")
        .select("media_id", "media_type", "n_bytes")),

    // frame sampling over the binary payload: 64-byte frames, every 2nd
    // kept; md5-of-hex + byte length per frame so a VARCHAR-only oracle
    // can compare scalars
    "multimodal_frame_sample" -> ((s, dir) =>
      Multimodal.extractFrames(
        Multimodal.asBinaryMedia(Tables.documents(s, dir), "doc_id", "text"),
        "media_id", "payload", frameSize = 64, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          md5(hex(col("frame"))).as("frame_md5"),
          length(col("frame")).as("frame_len"))),

    // feature extraction through the binary payload path (decode stub
    // reads the raw bytes; checksum over the hex transport encoding is
    // the oracle-checkable part, features exercised in tests)
    "multimodal_features" -> ((s, dir) => {
      val media = Multimodal.asBinaryMedia(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("checksum"),
          round(aggregate(col("features"),
            lit(0.0), (acc, x) => acc + x.cast("double")), 4).as("feature_l1"))
    }),

    // payload near-dup (perceptual-hash style): block-hash histogram
    // features through the decode boundary, then the MEASURED-GATE
    // near-dup operator (cosineNearDupsAutoWithPath) — never all-pairs.
    // Text-as-bytes payloads (asMedia) carry the corpus' planted
    // near-dups; features and the candidate pair list materialize to
    // the aux dir (the JVM decode boundary + hash/centroid-dependent
    // candidates), the oracle re-scores the exact stage from them —
    // the sim_cosine_neardups contract
    "multimodal_neardups" -> ((s, dir) => {
      // repartition before the decode boundary: a single-file fixture
      // reads as ONE split (78 MB at sf10), serializing 500k payload
      // decodes onto one core — the same small-file artifact as the
      // feature read below; a real media corpus arrives in many splits
      val media = Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism)
      Multimodal.extractPerceptualFeatures(s, media).toDF()
        .select(col("media_id"), col("features"))
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "mm_feats"))
      // repartition off the aux read: a feature table this narrow packs
      // into ONE input split (16 floats/row — 500k sf10 rows are 13 MB
      // of parquet), which would serialize the whole signature+band
      // pipeline into a single task (measured: a 25-min one-core
      // straggler at sf10; at real scale the splits come for free —
      // this is the small-file artifact, not a plan property)
      val f = s.read.parquet(OracleAux.dir(dir, "mm_feats"))
        .repartition(s.sparkContext.defaultParallelism)
      // MEASURED-gate routing (r15): byte-histogram features of text
      // are a DEGENERATE space — every document shares the corpus'
      // byte-frequency profile, so the measured background cosine is
      // mean ≈0.76 with p99 ≈0.93 and frac(≥0.95) ≈1.1e-3. Threshold
      // 0.95 therefore sits INSIDE the background tail: the true
      // output is ~1.1e-3 · n(n−1)/2 pairs (quadratic — ~135M at the
      // 500k-row sf10 corpus) and the S-curve gap that banding prunes
      // against is 0.95-vs-0.93, where the LSH exponent ρ→1. Measured
      // at sf10: the bg-mean-sized banding (36 bits × 180 bands)
      // spilled >50 GB — band collisions ARE the background, and the
      // 126-bit sketch cut (rejects only below ~0.84) passes most of
      // them. No banding (multi-probe included) survives this regime;
      // the auto gate reroutes to the cell-bounded SemDeDup-shape
      // operator (work Σ|cell|², cells ∝ n), the plan that holds at
      // 100 TB. The pair list (exact-scored ≥ t on either route)
      // materializes as the candidate set the oracle re-scores.
      Similarity.cosineNearDupsAuto(f, "media_id", "features",
          threshold = 0.95, recall = 0.98)
        .select(col("id_a"), col("id_b"))
        .write.mode("overwrite").parquet(OracleAux.dir(dir, "mm_cands"))
      Similarity.cosineNearDupsFromCandidates(
        s.read.parquet(OracleAux.dir(dir, "mm_cands")),
        f, "media_id", "features", threshold = 0.95)
    })
  )

  /** DuckDB twins. Tokenization/shingling/score formulas are written as
    * the identical expression trees (see TextAnalysis scaladoc) so IEEE
    * arithmetic matches bitwise.
    */
  /** DuckDB twin of [[syntheticUrls]] (same strings, `//` = `div`). */
  private val UrlFixtureSql: String =
    """SELECT doc_id,
      |  CASE doc_id % 4
      |    WHEN 0 THEN 'https://Example' || g || '.COM/Path' || g ||
      |      '/a/?b=2&a=1&utm_source=x'
      |    WHEN 1 THEN 'https://example' || g || '.com:443/Path' || g ||
      |      '/a?a=1&b=2#frag'
      |    WHEN 2 THEN 'HTTPS://www.example' || g || '.com/Path' || g ||
      |      '/a/?a=1&gclid=abc&b=2'
      |    ELSE 'http://example' || g || '.com:8080/Path' || g ||
      |      '/b?a=1' END AS url
      |FROM (SELECT doc_id, CAST(doc_id // 4 AS VARCHAR) AS g FROM documents)""".stripMargin

  /** DuckDB twin of [[graft.text.Urls.canonicalizeUrl]] over a column
    * named `url` — identical regexps, tracking-param list, sort, and
    * trailing-slash/empty-path rules.
    */
  private val UrlCanonSql: String = {
    val noFrag = "regexp_replace(url, '#.*$', '')"
    val scheme = s"lower(regexp_extract($noFrag, '^([^:/?#]+)://', 1))"
    val noWww = "regexp_replace(lower(regexp_extract(" + noFrag +
      ", '^[^:/?#]+://([^/?#]*)', 1)), '^www\\.', '')"
    val host = s"""CASE WHEN $scheme = 'http'
      THEN regexp_replace($noWww, ':80$$', '')
      WHEN $scheme = 'https' THEN regexp_replace($noWww, ':443$$', '')
      ELSE $noWww END"""
    val trimmed =
      s"regexp_replace(regexp_extract($noFrag, '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '/+$$', '')"
    val path = s"CASE WHEN $trimmed = '' THEN '/' ELSE $trimmed END"
    val params = s"""list_sort(list_filter(
      string_split(regexp_extract($noFrag, '\\?([^#]*)', 1), '&'),
      p -> p <> '' AND NOT regexp_matches(lower(p),
        '^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid|ref)=')))"""
    s"""($scheme || '://' || $host || $path ||
      CASE WHEN len($params) > 0
        THEN '?' || array_to_string($params, '&') ELSE '' END)"""
  }

  /** DuckDB twin of [[graft.text.TextAnalysis.bpeMerges]]: a generated
    * `k`-stage CTE chain that REPLAYS the whole training loop — stage
    * `i` recounts adjacent symbol pairs over vocabulary `v(i-1)` (the
    * same delimiter-rendered symbol strings), picks top-1 under the
    * identical (count desc, lhs asc, rhs asc) order, and applies the
    * identical literal replace to form `v(i)` — so every merge CHOICE
    * is verified engine-for-engine, not just the final apply.
    */
  private def bpeMergesOracle(k: Int): String = {
    // every CTE is MATERIALIZED: each stage is consumed 2+ times (the
    // next pair count, the next vocabulary, and t_i's four scalar
    // subqueries) — inlined CTEs would re-expand the whole prefix
    // chain per reference, exponential in k
    val sb = new StringBuilder
    sb.append(
      """WITH v0 AS MATERIALIZED (
        |  SELECT regexp_replace(w, '(.)', '|\1|', 'g') AS s, COUNT(*) AS wc
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents)
        |  WHERE length(w) >= 1 AND w NOT LIKE '%|%'
        |  GROUP BY 1
        |)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT sy[j] AS lhs, sy[j+1] AS rhs, CAST(SUM(wc) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(substr(s, 2, length(s) - 2), '||') AS sy,
        |               wc
        |        FROM v${i - 1}) q, unnest(range(1, len(sy))) AS u(j)
        |  GROUP BY 1, 2
        |),
        |t$i AS MATERIALIZED (
        |  SELECT lhs, rhs, cnt FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1
        |)""".stripMargin)
      if (i < k) sb.append(s""",
        |v$i AS MATERIALIZED (
        |  SELECT replace(s,
        |    '|' || (SELECT lhs FROM t$i) || '||' || (SELECT rhs FROM t$i) || '|',
        |    '|' || (SELECT lhs FROM t$i) || (SELECT rhs FROM t$i) || '|') AS s,
        |    wc
        |  FROM v${i - 1}
        |)""".stripMargin)
    }
    sb.append("\n")
    sb.append((1 to k).map(i =>
      s"""SELECT CAST($i AS INTEGER) AS rank, lhs, rhs,
         |  lhs || rhs AS merged, cnt AS pair_count FROM t$i""".stripMargin)
      .mkString("\nUNION ALL\n"))
    sb.toString
  }

  /** DuckDB twin of [[graft.dedup.Dedup.lshBandingTune]]: recomputes
    * exact jaccard over the materialized candidate pairs (the
    * minhash-est-error CTEs), then evaluates every config's S-curve
    * probability with the IDENTICAL repeated-squaring multiply chain
    * and micro-unit rounding — `pow` never appears on either side, so
    * no libm ulp drift can split the engines.
    */
  private def lshTuningOracleSql: String = {
    def log2(n: Int): Int = Integer.numberOfTrailingZeros(n)
    def sq(e: String, k: Int): String =
      (1 to k).foldLeft(e)((a, _) => s"(($a)*($a))")
    val configs = (0 to 4).map(j => (1 << j, 16 >> j))
    val microSums = configs.flatMap { case (b, r) =>
      // inputs parenthesized: sq(e, 0) = e verbatim, so an unwrapped
      // "1.0 - x" would re-associate under the outer subtraction
      val p = s"(1.0 - ${sq(s"(1.0 - ${sq("(s)", log2(r))})", log2(b))})"
      val m = s"CAST(round(($p) * 1000000.0, 0) AS BIGINT)"
      Seq(
        s"CAST(SUM(CASE WHEN s >= 0.5 THEN $m ELSE 0 END) AS BIGINT) AS hs_${b}_$r",
        s"CAST(SUM(CASE WHEN s < 0.5 THEN $m ELSE 0 END) AS BIGINT) AS ls_${b}_$r")
    }.mkString(",\n    ")
    val rows = configs.map { case (b, r) =>
      val sStar = (1 to log2(r)).foldLeft(s"1.0/$b")((a, _) => s"sqrt($a)")
      s"""SELECT CAST($b AS INTEGER) AS bands,
         |  CAST($r AS INTEGER) AS rows_per_band,
         |  round($sStar, 6) AS s_star, n_hi, n_lo,
         |  CASE WHEN n_hi > 0
         |    THEN CAST((2 * CAST(hs_${b}_$r AS HUGEINT) + n_hi)
         |              // (2 * n_hi) AS DOUBLE) / 1000000.0 + 0.0
         |  END AS recall_hi,
         |  CASE WHEN n_lo > 0
         |    THEN CAST((2 * CAST(ls_${b}_$r AS HUGEINT) + n_lo)
         |              // (2 * n_lo) AS DOUBLE) / 1000000.0 + 0.0
         |  END AS catch_lo
         |FROM g""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH p AS (SELECT id_a, id_b
       |  FROM read_parquet('${OracleAux.sqlDir("lsh_tune")}/*.parquet')),
       |d AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) >= 3 THEN
       |      list_distinct([array_to_string(toks[i:i+2], ' ')
       |                     for i in range(1, len(toks) - 1)])
       |    ELSE [array_to_string(toks, ' ')] END AS s
       |  FROM d),
       |e AS (
       |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
       |  SELECT CAST((2 * CAST(len(list_intersect(a.s, b.s)) AS HUGEINT)
       |          * 1000000 + len(list_distinct(a.s || b.s)))
       |         // (2 * len(list_distinct(a.s || b.s))) AS DOUBLE)
       |      / 1000000.0 + 0.0 AS s
       |  FROM p JOIN sh a ON a.doc_id = p.id_a
       |         JOIN sh b ON b.doc_id = p.id_b),
       |g AS MATERIALIZED (
       |  SELECT
       |    CAST(SUM(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
       |    CAST(SUM(CASE WHEN s < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
       |    $microSums
       |  FROM e)
       |$rows""".stripMargin
  }

  /** DuckDB twin of [[graft.text.TextAnalysis.bpeEncode]]: replays the
    * identical `k`-round training chain as [[bpeMergesOracle]] — but
    * every vocabulary stage carries the original word `w`, and ALL `k`
    * merges are applied (the merges oracle stops rendering `v_k`
    * because only the choices are output there) — then bills each
    * document by joining its words to the final vocabulary's symbol
    * counts. Word→rendering is injective (every char `|`-wrapped, `|`
    * excluded), so grouping by `w` is the same partition the merges
    * oracle gets grouping by `s`, and the pair counts — hence every
    * merge choice — are identical between the two replays.
    */
  private def bpeEncodeOracle(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH v0 AS MATERIALIZED (
        |  SELECT w, regexp_replace(w, '(.)', '|\1|', 'g') AS s, COUNT(*) AS wc
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents)
        |  WHERE length(w) >= 1 AND w NOT LIKE '%|%'
        |  GROUP BY 1
        |)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT sy[j] AS lhs, sy[j+1] AS rhs, CAST(SUM(wc) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(substr(s, 2, length(s) - 2), '||') AS sy,
        |               wc
        |        FROM v${i - 1}) q, unnest(range(1, len(sy))) AS u(j)
        |  GROUP BY 1, 2
        |),
        |t$i AS MATERIALIZED (
        |  SELECT lhs, rhs, cnt FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1
        |),
        |v$i AS MATERIALIZED (
        |  SELECT w, replace(s,
        |    '|' || (SELECT lhs FROM t$i) || '||' || (SELECT rhs FROM t$i) || '|',
        |    '|' || (SELECT lhs FROM t$i) || (SELECT rhs FROM t$i) || '|') AS s,
        |    wc
        |  FROM v${i - 1}
        |)""".stripMargin)
    }
    sb.append(s""",
      |wt AS MATERIALIZED (
      |  SELECT w,
      |    CAST(len(string_split(substr(s, 2, length(s) - 2), '||')) AS BIGINT)
      |      AS nt
      |  FROM v$k
      |)
      |SELECT d.doc_id,
      |  CAST(SUM(wt.nt) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
      |  -- boundary-exact ratio (see text_unigram_logprob): micro-units
      |  -- of n_chars/n_tokens rounded half-away in integer arithmetic
      |  CAST((2 * CAST(SUM(length(d.w)) AS HUGEINT) * 1000000 + SUM(wt.nt))
      |       // (2 * SUM(wt.nt)) AS DOUBLE) / 1000000.0
      |    AS chars_per_token
      |FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      |      FROM documents) d
      |JOIN wt ON d.w = wt.w
      |GROUP BY d.doc_id""".stripMargin)
    sb.toString
  }

  /** Unrolled power-iteration twin of sim_power_iteration: the same
    * exact integer moments, covariance rounding, pivot normalisation
    * (abs desc, dim asc), and sign-symmetric down-scaling. Every CTE
    * is MATERIALIZED — each iteration references the previous twice.
    */
  private def powerIterOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT c.i AS j, CAST(sum(c.cij * v${k - 1}.vj) AS BIGINT) AS wj
         |  FROM c JOIN v${k - 1} ON c.j = v${k - 1}.j GROUP BY 1),
         |p$k AS MATERIALIZED (
         |  SELECT wj FROM w$k ORDER BY abs(wj) DESC, j ASC LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT w$k.j, CAST(round(CAST(w$k.wj AS DOUBLE) * 1e6 / p$k.wj)
         |    AS BIGINT) AS vj
         |  FROM w$k, p$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS (
       |  SELECT vec_id, u.d AS dim,
       |    CAST(round(CAST(u.v AS DOUBLE) * 1e6) AS BIGINT) AS xm
       |  FROM (SELECT vec_id,
       |          unnest(list_transform(range(1, len(embedding) + 1),
       |            i -> {'d': i - 1, 'v': embedding[i]})) AS u
       |        FROM embeddings)),
       |d1 AS MATERIALIZED (
       |  SELECT dim, CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(xm) AS HUGEINT) AS s1
       |  FROM x GROUP BY 1),
       |pm AS MATERIALIZED (
       |  SELECT a.dim AS i, b.dim AS j,
       |    CAST(sum(a.xm * b.xm) AS HUGEINT) AS sxy
       |  FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |c AS MATERIALIZED (
       |  SELECT pm.i, pm.j,
       |    CAST(round(CAST(da.n * pm.sxy - da.s1 * db.s1 AS DOUBLE)
       |      / (CAST(da.n AS DOUBLE) * da.n)) AS BIGINT) AS cij
       |  FROM pm JOIN d1 da ON pm.i = da.dim JOIN d1 db ON pm.j = db.dim),
       |v0 AS (SELECT dim AS j, CAST(1000000 AS BIGINT) AS vj FROM d1),
       |$steps,
       |uvec AS (
       |  SELECT j, CAST(sign(vj) AS BIGINT) * (abs(vj) // 10000) AS uj
       |  FROM v$iters),
       |nm AS (
       |  SELECT CAST(sum(CAST(c.cij AS HUGEINT) * ua.uj * ub.uj)
       |    AS HUGEINT) AS nm
       |  FROM c JOIN uvec ua ON c.i = ua.j JOIN uvec ub ON c.j = ub.j),
       |dn AS (SELECT CAST(sum(uj * uj) AS BIGINT) AS dn FROM uvec)
       |SELECT CAST(v$iters.j AS INTEGER) AS dim,
       |  v$iters.vj AS loading_micro,
       |  CAST(round(CAST(nm.nm AS DOUBLE) / dn.dn) AS BIGINT)
       |    AS lambda_micro2
       |FROM v$iters, nm, dn""".stripMargin
  }

  /** Shared winnowing-selection CTE chain (k=3, w=4): md5 3-gram
    * hashes with positions, the lag/lead l/r distances, and the n/rns
    * bookkeeping. `winnowKeep` is the rightmost-min interval test over
    * it. Factored so the fingerprint and pairing oracles can't drift.
    */
  private val winnowCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, u.p AS pos,
      |    CAST(CAST(('0x' || substr(md5(u.g), 1, 8)) AS UBIGINT)
      |      AS BIGINT) AS fp
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
      |          i -> {'p': i, 'g': t[i] || ' ' || t[i+1] || ' ' || t[i+2]}))
      |          AS u
      |        FROM toks WHERE len(t) >= 3)),
      |x AS (
      |  SELECT doc_id, pos, fp,
      |    count(*) OVER (PARTITION BY doc_id) AS n,
      |    lag(fp, 1) OVER w1 AS lg1, lag(fp, 2) OVER w1 AS lg2,
      |    lag(fp, 3) OVER w1 AS lg3,
      |    lead(fp, 1) OVER w1 AS ld1, lead(fp, 2) OVER w1 AS ld2,
      |    lead(fp, 3) OVER w1 AS ld3,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY fp ASC, pos DESC) AS rns
      |  FROM g WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos)),
      |s AS (
      |  SELECT doc_id, pos, fp, n, rns,
      |    CASE WHEN lg1 < fp THEN 1 WHEN lg2 < fp THEN 2
      |         WHEN lg3 < fp THEN 3 ELSE 4 END AS l,
      |    CASE WHEN ld1 <= fp THEN 1 WHEN ld2 <= fp THEN 2
      |         WHEN ld3 <= fp THEN 3 ELSE 4 END AS r
      |  FROM x)""".stripMargin

  private val winnowKeep: String =
    """((n >= 4 AND greatest(1, pos - 3, pos - l + 1)
      |         <= least(pos, n - 3, pos + r - 4))
      |   OR (n < 4 AND rns = 1))""".stripMargin

  def oracles: Map[String, String] = Map(
    // pair step over the materialized fingerprints (written by the query
    // itself immediately before the check reads it)
    "dedup_simhash" ->
      s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        |FROM read_parquet('${OracleAux.sqlDir("simhash_fp")}/*.parquet') a
        |JOIN read_parquet('${OracleAux.sqlDir("simhash_fp")}/*.parquet') b
        |  ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 7""".stripMargin,

    "scalar_embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)/127.0 AS sc
        |  FROM e)
        |SELECT vec_id, round(sc, 9) AS scale,
        |  CAST(list_sum(list_transform(v, x -> round(x/sc, 0))) AS BIGINT) AS q_sum,
        |  round(list_max(list_transform(v,
        |    x -> abs(x - round(x/sc, 0)*sc))), 9) AS max_err
        |FROM s""".stripMargin,

    // exact re-rank over the materialized LSH candidate pairs — same
    // cosine/rank formulation as the (hash-green) brute-force oracle
    "sim_topk_lsh" ->
      s"""WITH p AS (SELECT query_id, neighbor_id
        |  FROM read_parquet('${OracleAux.sqlDir("lsh_cands")}/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT p.query_id, p.neighbor_id,
        |  list_cosine_similarity(qe.v, ne.v) AS score
        |  FROM p JOIN e qe ON p.query_id = qe.vec_id
        |         JOIN e ne ON p.neighbor_id = ne.vec_id),
        |r AS (SELECT query_id, neighbor_id, score,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id ASC) AS rank FROM s)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
        |  round(score, 6) AS score
        |FROM r WHERE rank <= 10""".stripMargin,

    // exact top-10 (brute-force CTE) vs the re-ranked materialized
    // candidate set — per-query hit fraction, same tiebreaks both sides
    "sim_recall_at_k" ->
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |bf AS (SELECT qe.vec_id AS query_id, ne.vec_id AS neighbor_id,
        |    list_cosine_similarity(qe.v, ne.v) AS score
        |  FROM e qe, e ne WHERE qe.vec_id < 8 AND qe.vec_id != ne.vec_id),
        |exact AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id ASC) AS rank FROM bf)
        |  WHERE rank <= 10),
        |p AS (SELECT query_id, neighbor_id
        |  FROM read_parquet('${OracleAux.sqlDir("recall_cands")}/*.parquet')),
        |sc AS (SELECT p.query_id, p.neighbor_id,
        |    list_cosine_similarity(qe.v, ne.v) AS score
        |  FROM p JOIN e qe ON p.query_id = qe.vec_id
        |         JOIN e ne ON p.neighbor_id = ne.vec_id),
        |approx AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id ASC) AS rank FROM sc)
        |  WHERE rank <= 10)
        |SELECT x.query_id, CAST(count(*) AS INTEGER) AS k,
        |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS INTEGER) AS n_hit,
        |  round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / count(*), 6) AS recall
        |FROM exact x LEFT JOIN approx a
        |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
        |GROUP BY x.query_id""".stripMargin,

    // full ADC replay from the materialized model: per-subspace dots
    // rounded to micro-units (round ≡ Spark round(x,0) ≡ HALF_UP),
    // integer-summed, ranked on the micro value; exact dot re-scored
    // on the winners with the list_dot_product twin of FloatVecDot
    "sim_topk_pq" ->
      s"""WITH cb AS (SELECT subspace, code, vec FROM
        |  read_parquet('${OracleAux.sqlDir("pq_codebooks")}/*.parquet')),
        |cds AS (SELECT vec_id, subspace, code FROM
        |  read_parquet('${OracleAux.sqlDir("pq_codes")}/*.parquet')),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id < 8),
        |lut AS (
        |  SELECT q.query_id, cb.subspace, cb.code,
        |    CAST(round(list_dot_product(
        |      list_slice(q.qv, cb.subspace*8 + 1, cb.subspace*8 + 8),
        |      cb.vec) * 1e6) AS BIGINT) AS micro
        |  FROM q CROSS JOIN cb),
        |est AS (
        |  SELECT l.query_id, c.vec_id AS neighbor_id,
        |    CAST(SUM(l.micro) AS BIGINT) AS est_micro
        |  FROM cds c JOIN lut l
        |    ON l.subspace = c.subspace AND l.code = c.code
        |  WHERE l.query_id <> c.vec_id
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, neighbor_id, est_micro,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY est_micro DESC, neighbor_id ASC) AS rank
        |  FROM est)
        |SELECT r.query_id, r.neighbor_id, CAST(r.rank AS INTEGER) AS rank,
        |  round(CAST(est_micro AS DOUBLE) / 1e6, 6) AS est_dot,
        |  round(list_dot_product(CAST(eq.embedding AS DOUBLE[]),
        |    CAST(en.embedding AS DOUBLE[])), 6) AS exact_dot
        |FROM r JOIN embeddings eq ON eq.vec_id = r.query_id
        |       JOIN embeddings en ON en.vec_id = r.neighbor_id
        |WHERE r.rank <= 10""".stripMargin,

    // full two-stage replay: ADC estimates from the materialized
    // model → shortlist(50) → exact-dot re-rank(10) → recall join vs
    // the brute-force dot top-10 (rank on the RAW dot — FloatVecDot ≡
    // list_dot_product bitwise, the sim_topk_bruteforce discipline)
    "sim_pq_recall" ->
      s"""WITH cb AS (SELECT subspace, code, vec FROM
        |  read_parquet('${OracleAux.sqlDir("pqr_codebooks")}/*.parquet')),
        |cds AS (SELECT vec_id, subspace, code FROM
        |  read_parquet('${OracleAux.sqlDir("pqr_codes")}/*.parquet')),
        |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id < 8),
        |lut AS (
        |  SELECT q.qid, cb.subspace, cb.code,
        |    CAST(round(list_dot_product(
        |      list_slice(q.qv, cb.subspace*8 + 1, cb.subspace*8 + 8),
        |      cb.vec) * 1e6) AS BIGINT) AS micro
        |  FROM q CROSS JOIN cb),
        |est AS (
        |  SELECT l.qid, c.vec_id AS nid, SUM(l.micro) AS em
        |  FROM cds c JOIN lut l
        |    ON l.subspace = c.subspace AND l.code = c.code
        |  WHERE l.qid <> c.vec_id GROUP BY 1, 2),
        |short AS (SELECT qid, nid FROM (
        |  SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY em DESC, nid ASC)
        |      AS rk FROM est) WHERE rk <= 50),
        |ex0 AS (
        |  SELECT q.qid, c.vec_id AS nid,
        |    list_dot_product(q.qv, CAST(c.embedding AS DOUBLE[])) AS d
        |  FROM q, embeddings c WHERE q.qid <> c.vec_id),
        |rer AS (SELECT qid, nid FROM (
        |  SELECT s.qid, s.nid,
        |    row_number() OVER (PARTITION BY s.qid
        |      ORDER BY e.d DESC, s.nid ASC) AS rk
        |  FROM short s JOIN ex0 e ON e.qid = s.qid AND e.nid = s.nid)
        |  WHERE rk <= 10),
        |exact AS (SELECT qid, nid FROM (
        |  SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid ASC)
        |      AS rk FROM ex0) WHERE rk <= 10)
        |SELECT exact.qid AS query_id, CAST(count(*) AS INTEGER) AS k,
        |  CAST(SUM(CASE WHEN rer.nid IS NOT NULL THEN 1 ELSE 0 END)
        |    AS INTEGER) AS n_hit,
        |  round(SUM(CASE WHEN rer.nid IS NOT NULL THEN 1 ELSE 0 END)
        |    / count(*), 6) AS recall
        |FROM exact LEFT JOIN rer
        |  ON rer.qid = exact.qid AND rer.nid = exact.nid
        |GROUP BY 1""".stripMargin,

    // ADC replay RESTRICTED to the materialized candidate pairs, then
    // shortlist(50) on the micro estimates and exact-dot re-rank(10)
    "sim_topk_ivfpq" ->
      s"""WITH cb AS (SELECT subspace, code, vec FROM
        |  read_parquet('${OracleAux.sqlDir("pqi_codebooks")}/*.parquet')),
        |cds AS (SELECT vec_id, subspace, code FROM
        |  read_parquet('${OracleAux.sqlDir("pqi_codes")}/*.parquet')),
        |cand AS (SELECT query_id, neighbor_id FROM
        |  read_parquet('${OracleAux.sqlDir("pqi_cands")}/*.parquet')),
        |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id < 8),
        |lut AS (
        |  SELECT q.qid, cb.subspace, cb.code,
        |    CAST(round(list_dot_product(
        |      list_slice(q.qv, cb.subspace*8 + 1, cb.subspace*8 + 8),
        |      cb.vec) * 1e6) AS BIGINT) AS micro
        |  FROM q CROSS JOIN cb),
        |est AS (
        |  SELECT p.query_id AS qid, p.neighbor_id AS nid,
        |    CAST(SUM(l.micro) AS BIGINT) AS em
        |  FROM cand p
        |  JOIN cds c ON c.vec_id = p.neighbor_id
        |  JOIN lut l ON l.qid = p.query_id
        |    AND l.subspace = c.subspace AND l.code = c.code
        |  GROUP BY 1, 2),
        |short AS (SELECT qid, nid FROM (
        |  SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY em DESC, nid ASC)
        |      AS rk FROM est) WHERE rk <= 50),
        |rer AS (
        |  SELECT s.qid, s.nid,
        |    list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) AS d
        |  FROM short s
        |  JOIN q ON q.qid = s.qid
        |  JOIN embeddings e ON e.vec_id = s.nid),
        |r AS (
        |  SELECT qid, nid, d,
        |    row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid ASC)
        |      AS rank
        |  FROM rer)
        |SELECT qid AS query_id, nid AS neighbor_id,
        |  CAST(rank AS INTEGER) AS rank, round(d, 6) AS score
        |FROM r WHERE rank <= 10""".stripMargin,

    // two-term estimate replay: q·centroid (per query×cell) + the
    // residual-codebook ADC sum over the candidate pairs, then
    // shortlist(50) and exact-dot re-rank(10)
    "sim_topk_ivfpq_res" ->
      s"""WITH cent AS (SELECT cell, vec FROM
        |  read_parquet('${OracleAux.sqlDir("pqres_cents")}/*.parquet')),
        |cells AS (SELECT vec_id, cell FROM
        |  read_parquet('${OracleAux.sqlDir("pqres_cells")}/*.parquet')),
        |cb AS (SELECT subspace, code, vec FROM
        |  read_parquet('${OracleAux.sqlDir("pqres_codebooks")}/*.parquet')),
        |cds AS (SELECT vec_id, subspace, code FROM
        |  read_parquet('${OracleAux.sqlDir("pqres_codes")}/*.parquet')),
        |cand AS (SELECT query_id, neighbor_id FROM
        |  read_parquet('${OracleAux.sqlDir("pqres_cands")}/*.parquet')),
        |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id < 8),
        |qc AS (
        |  SELECT q.qid, c.cell,
        |    CAST(round(list_dot_product(q.qv, c.vec) * 1e6) AS BIGINT)
        |      AS micro
        |  FROM q CROSS JOIN cent c),
        |lut AS (
        |  SELECT q.qid, cb.subspace, cb.code,
        |    CAST(round(list_dot_product(
        |      list_slice(q.qv, cb.subspace*8 + 1, cb.subspace*8 + 8),
        |      cb.vec) * 1e6) AS BIGINT) AS micro
        |  FROM q CROSS JOIN cb),
        |res_est AS (
        |  SELECT p.query_id AS qid, p.neighbor_id AS nid,
        |    CAST(SUM(l.micro) AS BIGINT) AS em
        |  FROM cand p
        |  JOIN cds c ON c.vec_id = p.neighbor_id
        |  JOIN lut l ON l.qid = p.query_id
        |    AND l.subspace = c.subspace AND l.code = c.code
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT r.qid, r.nid, r.em + qc.micro AS em
        |  FROM res_est r
        |  JOIN cells ce ON ce.vec_id = r.nid
        |  JOIN qc ON qc.qid = r.qid AND qc.cell = ce.cell),
        |short AS (SELECT qid, nid FROM (
        |  SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY em DESC, nid ASC)
        |      AS rk FROM est) WHERE rk <= 50),
        |rer AS (
        |  SELECT s.qid, s.nid,
        |    list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) AS d
        |  FROM short s
        |  JOIN q ON q.qid = s.qid
        |  JOIN embeddings e ON e.vec_id = s.nid),
        |r AS (
        |  SELECT qid, nid, d,
        |    row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid ASC)
        |      AS rank
        |  FROM rer)
        |SELECT qid AS query_id, nid AS neighbor_id,
        |  CAST(rank AS INTEGER) AS rank, round(d, 6) AS score
        |FROM r WHERE rank <= 10""".stripMargin,

    "sim_topk_ivf" ->
      s"""WITH p AS (SELECT query_id, neighbor_id
        |  FROM read_parquet('${OracleAux.sqlDir("ivf_cands")}/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT p.query_id, p.neighbor_id,
        |  list_cosine_similarity(qe.v, ne.v) AS score
        |  FROM p JOIN e qe ON p.query_id = qe.vec_id
        |         JOIN e ne ON p.neighbor_id = ne.vec_id),
        |r AS (SELECT query_id, neighbor_id, score,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id ASC) AS rank FROM s)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
        |  round(score, 6) AS score
        |FROM r WHERE rank <= 10""".stripMargin,

    // exact threshold stage over the materialized near-dup candidates
    "sim_cosine_neardups" ->
      s"""WITH p AS (SELECT id_a, id_b
        |  FROM read_parquet('${OracleAux.sqlDir("cosine_cands")}/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT p.id_a, p.id_b,
        |  list_cosine_similarity(ae.v, be.v) AS score
        |  FROM p JOIN e ae ON p.id_a = ae.vec_id
        |         JOIN e be ON p.id_b = be.vec_id)
        |SELECT id_a, id_b, round(score, 6) AS score
        |FROM s WHERE score >= 0.4""".stripMargin,

    // exact stage over the materialized perceptual features +
    // banded candidates (both hash-dependent JVM artifacts) — same
    // contract as sim_cosine_neardups
    "multimodal_neardups" ->
      s"""WITH p AS (SELECT id_a, id_b
        |  FROM read_parquet('${OracleAux.sqlDir("mm_cands")}/*.parquet')),
        |e AS (SELECT media_id, CAST(features AS DOUBLE[]) AS v
        |      FROM read_parquet('${OracleAux.sqlDir("mm_feats")}/*.parquet')),
        |s AS (SELECT p.id_a, p.id_b,
        |  list_cosine_similarity(ae.v, be.v) AS score
        |  FROM p JOIN e ae ON p.id_a = ae.media_id
        |         JOIN e be ON p.id_b = be.media_id)
        |SELECT id_a, id_b, round(score, 6) AS score
        |FROM s WHERE score >= 0.95""".stripMargin,

    // nearest-centroid assignment against the materialized k-means
    // model; struct-max in Spark = (sim DESC, cell DESC) in SQL
    "agg_kmeans_cells" ->
      s"""WITH c AS (
        |  SELECT cell, centroid, norm
        |  FROM read_parquet('${OracleAux.sqlDir("kmeans_centroids")}/*.parquet')
        |),
        |a AS (
        |  SELECT e.vec_id,
        |    (SELECT c.cell FROM c
        |     ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
        |       / c.norm DESC, c.cell DESC
        |     LIMIT 1) AS cell
        |  FROM embeddings e)
        |SELECT cell, count(*) AS n, min(vec_id) AS min_vec_id
        |FROM a GROUP BY 1""".stripMargin,

    // the greedy MMR loop replayed as a recursive CTE over the
    // materialized candidates: anchor = best rel per query; each step's
    // LATERAL picks argmax of 0.7·rel − (1−0.7)·max-sim-to-picked.
    // The λ literals are ::DOUBLE-cast because DuckDB otherwise parses
    // 1.0 − 0.7 as DECIMAL (exactly 0.3) while the Scala loop computes
    // the double 0.30000000000000004 — a 1e-17 drift that flips 1e-6
    // rounding ties; sims round to 6 dp exactly as the Scala loop does
    "sim_mmr_rerank" ->
      s"""WITH RECURSIVE c AS (
        |  SELECT query_id, cand_id, rel, vec,
        |    sqrt(list_dot_product(vec, vec)) AS nrm
        |  FROM read_parquet('${OracleAux.sqlDir("mmr_cands")}/*.parquet')),
        |s AS (
        |  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
        |    round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS sim
        |  FROM c a JOIN c b
        |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
        |sel(query_id, step, cand_id, mmr, picked) AS (
        |  SELECT query_id, 1 AS step, cand_id, rel AS mmr, [cand_id] AS picked
        |  FROM (SELECT query_id, cand_id, rel,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY rel DESC, cand_id ASC) AS rk
        |        FROM c) WHERE rk = 1
        |  UNION ALL
        |  SELECT g.query_id, g.step + 1, nxt.cand_id, nxt.mmr,
        |    list_append(g.picked, nxt.cand_id)
        |  FROM sel g, LATERAL (
        |    SELECT cc.cand_id,
        |      0.7::DOUBLE * cc.rel
        |        - (1.0::DOUBLE - 0.7::DOUBLE) * (SELECT max(p.sim) FROM s p
        |        WHERE p.query_id = g.query_id AND p.ca = cc.cand_id
        |          AND list_contains(g.picked, p.cb)) AS mmr
        |    FROM c cc WHERE cc.query_id = g.query_id
        |      AND NOT list_contains(g.picked, cc.cand_id)
        |    ORDER BY mmr DESC, cc.cand_id ASC LIMIT 1) nxt
        |  WHERE g.step < 10)
        |SELECT query_id, CAST(step AS INTEGER) AS step, cand_id,
        |  round(mmr, 6) AS mmr
        |FROM sel""".stripMargin,

    // simplified silhouette against the materialized centroid table:
    // own/runner-up by (sim DESC, cell DESC) on unrounded cosines,
    // sims rounded to 6 dp before a/b, s folded as micro-unit longs
    "sim_cluster_silhouette" ->
      s"""WITH c AS (
        |  SELECT cell, centroid, norm
        |  FROM read_parquet('${OracleAux.sqlDir("silhouette_centroids")}/*.parquet')
        |),
        |p AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS pnorm
        |  FROM embeddings),
        |s AS (
        |  SELECT p.vec_id, c.cell,
        |    list_dot_product(CAST(p.embedding AS DOUBLE[]), c.centroid)
        |      / (p.pnorm * c.norm) AS sim
        |  FROM p CROSS JOIN c),
        |r AS (
        |  SELECT vec_id, cell, sim, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, cell DESC) AS rk FROM s),
        |t AS (
        |  SELECT o.vec_id, o.cell,
        |    1.0 - round(o.sim, 6) AS a, 1.0 - round(n.sim, 6) AS b
        |  FROM r o JOIN r n ON o.vec_id = n.vec_id AND n.rk = 2
        |  WHERE o.rk = 1),
        |m AS (
        |  SELECT cell, CAST(round(CASE WHEN greatest(a, b) = 0 THEN 0.0
        |    ELSE (b - a) / greatest(a, b) END * 1e6) AS BIGINT) AS sm
        |  FROM t)
        |SELECT cell, CAST(count(*) AS BIGINT) AS n,
        |  -- boundary-exact Σmicro/(10⁶·n) (see text_unigram_logprob)
        |  (CASE WHEN sum(sm) < 0 THEN -1.0 ELSE 1.0 END)
        |    * CAST((2 * abs(CAST(sum(sm) AS HUGEINT)) + count(*))
        |           // (2 * count(*)) AS DOUBLE) / 1000000.0 + 0.0
        |    AS mean_silhouette
        |FROM m GROUP BY 1""".stripMargin,

    // transitive closure over the materialized pair list, then
    // cluster id = min reachable node — exact twin of min-label
    // propagation's fixpoint
    "dedup_cluster_canonical" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT id_a AS a, id_b AS b
        |  FROM read_parquet('${OracleAux.sqlDir("neardup_pairs")}/*.parquet')
        |  UNION
        |  SELECT id_b AS a, id_a AS b
        |  FROM read_parquet('${OracleAux.sqlDir("neardup_pairs")}/*.parquet')
        |),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
        |    WHERE e2.b <> r.a
        |),
        |comp AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |  FROM reach GROUP BY a
        |)
        |SELECT doc_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |  doc_id = cluster_id AS keep
        |FROM comp""".stripMargin,

    "dedup_cluster_keep_best" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT id_a AS a, id_b AS b
        |  FROM read_parquet('${OracleAux.sqlDir("neardup_pairs_kb")}/*.parquet')
        |  UNION
        |  SELECT id_b AS a, id_a AS b
        |  FROM read_parquet('${OracleAux.sqlDir("neardup_pairs_kb")}/*.parquet')
        |),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
        |    WHERE e2.b <> r.a
        |),
        |comp AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |  FROM reach GROUP BY a
        |),
        |t AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INTEGER) AS n_chars_m,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(list_filter(toks, tk -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], tk))) AS INTEGER) AS n_stopwords,
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS INTEGER) AS n_punct
        |  FROM t
        |), q AS (
        |  SELECT doc_id,
        |    round(CAST(n_stopwords AS DOUBLE) / n_tokens * 0.5
        |      + CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 0.3 ELSE 0.0 END
        |      + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_m < 0.1 THEN 0.2 ELSE 0.0 END,
        |      6) AS quality_score
        |  FROM m
        |), r AS (
        |  SELECT comp.cluster_id, comp.doc_id, q.quality_score,
        |    count(*) OVER (PARTITION BY comp.cluster_id) AS n_docs,
        |    CAST(row_number() OVER (PARTITION BY comp.cluster_id
        |      ORDER BY q.quality_score DESC, comp.doc_id ASC) AS INTEGER) AS rn
        |  FROM comp JOIN q USING (doc_id)
        |)
        |SELECT cluster_id, n_docs, doc_id AS keep_doc_id,
        |  quality_score AS best_quality
        |FROM r WHERE rn = 1""".stripMargin,

    "dedup_keep_first" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    // binary payload reconstructed as its hex chain (2 hex chars = 1
    // byte): a 64-byte frame is a 128-char hex slice; md5 runs over the
    // UPPERCASE hex (Spark's hex()), lengths divide back to bytes
    "multimodal_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      range(0, greatest(1, CAST(ceil(strlen(text) / 16.0) AS BIGINT))),
        |      i -> md5(text || ':' || CAST(i AS VARCHAR))), '') AS hx
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        |    substring(hx, CAST(i * 128 + 1 AS INTEGER), 128) AS fhex
        |  FROM m,
        |    UNNEST(range(0, CAST(floor((strlen(hx) / 2 - 1) / 64) AS BIGINT) + 1)) AS t(i)
        |)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, frame_idx,
        |  md5(upper(fhex)) AS frame_md5,
        |  CAST(strlen(fhex) / 2 AS INTEGER) AS frame_len
        |FROM f WHERE frame_idx % 2 = 0""".stripMargin,

    "agg_vector_centroid" ->
      """WITH x AS (
        |  SELECT label, unnest(embedding) AS e,
        |    generate_subscripts(embedding, 1) AS idx
        |  FROM embeddings
        |)
        |SELECT label, CAST(idx AS BIGINT) AS idx,
        |  round(avg(CAST(e AS DOUBLE)), 6) AS centroid_val
        |FROM x GROUP BY 1, 2""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    // same double-ratio PMI; the bigram extraction reuses the
    // text_bigram_logprob unnest(range) idiom
    "text_pmi_collocations" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
        |u AS MATERIALIZED (SELECT tok, count(*) AS cu
        |      FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM (SELECT unnest(t) AS tok FROM toks)),
        |bg AS (
        |  SELECT t[i+1] AS w1, t[i+2] AS w2, t[i+1] || ' ' || t[i+2] AS bigram
        |  FROM (SELECT t, unnest(range(0, greatest(len(t) - 1, 0))) AS i
        |        FROM toks)),
        |cb AS (SELECT w1, w2, bigram, count(*) AS cb FROM bg
        |       GROUP BY 1, 2, 3 HAVING count(*) >= 5),
        |s AS (
        |  SELECT cb.bigram, cb.cb,
        |    round(ln(CAST(n.n AS DOUBLE) * CAST(cb.cb AS DOUBLE)
        |      / (CAST(u1.cu AS DOUBLE) * CAST(u2.cu AS DOUBLE))), 6) AS pmi
        |  FROM cb JOIN u u1 ON cb.w1 = u1.tok JOIN u u2 ON cb.w2 = u2.tok
        |    CROSS JOIN n)
        |SELECT bigram, cb, pmi, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT bigram, cb, pmi,
        |    row_number() OVER (ORDER BY pmi DESC, bigram ASC) AS rank
        |  FROM s) WHERE rank <= 25""".stripMargin,

    // same stopword-run islands (prefix-count grouping), same
    // micro-unit deg/freq arithmetic
    "text_rake_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, u.p AS pos, u.tok,
        |    u.tok IN ('the','a','of','and','to','in','is','it') AS stop
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(t) + 1),
        |            i -> {'p': i, 'tok': t[i]})) AS u
        |        FROM (SELECT doc_id,
        |                string_split_regex(trim(text), '\s+') AS t
        |              FROM documents))),
        |g AS (
        |  SELECT doc_id, pos, tok, stop,
        |    sum(CASE WHEN stop THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM toks),
        |ph AS (
        |  SELECT string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |    count(*) AS n_words
        |  FROM g WHERE NOT stop GROUP BY doc_id, grp
        |  HAVING count(*) <= 4),
        |words AS (
        |  SELECT w, CAST(round(sum(n_words) * 1000000 / count(*))
        |    AS BIGINT) AS score_micro
        |  FROM (SELECT n_words, unnest(string_split(phrase, ' ')) AS w
        |        FROM ph)
        |  GROUP BY 1),
        |pc AS (
        |  SELECT phrase, CAST(min(n_words) AS INTEGER) AS n_words,
        |    count(*) AS phrase_count
        |  FROM ph GROUP BY 1),
        |scored AS (
        |  SELECT p.phrase, p.n_words, p.phrase_count,
        |    CAST(sum(ws.score_micro) AS BIGINT) AS score_micro
        |  FROM (SELECT phrase, n_words, phrase_count,
        |          unnest(string_split(phrase, ' ')) AS w
        |        FROM pc) p
        |  JOIN words ws ON p.w = ws.w
        |  GROUP BY 1, 2, 3)
        |SELECT phrase, n_words, phrase_count, score_micro,
        |  CAST(rk AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (ORDER BY score_micro DESC,
        |        phrase ASC) AS rk FROM scored)
        |WHERE rk <= 25""".stripMargin,

    // same l/r interval test over the same md5 3-gram hashes — the
    // sequential MOSS scan re-expressed with lag/lead, so agreement
    // checks the declarative rightmost-min characterisation itself
    "text_winnow_fingerprints" ->
      s"""WITH $winnowCtes
        |SELECT doc_id, CAST(pos AS INTEGER) AS pos, fp FROM s
        |WHERE $winnowKeep""".stripMargin,

    // pairs from the materialized aux; exact Jaccard recomputed from
    // text with the same shingle spelling as the minhash evaluator
    "text_winnow_screen_error" ->
      s"""WITH p AS (SELECT id_a, id_b, shared_fps
        |  FROM read_parquet('${OracleAux.sqlDir("winnow_pairs")}/*.parquet')),
        |d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents),
        |sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct([array_to_string(toks[i:i+2], ' ')
        |                     for i in range(1, len(toks) - 1)])
        |    ELSE [array_to_string(toks, ' ')] END AS s
        |  FROM d)
        |SELECT p.id_a, p.id_b, p.shared_fps,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(len(list_intersect(a.s, b.s)) AS HUGEINT) * 1000000
        |        + len(list_distinct(a.s || b.s)))
        |       // (2 * len(list_distinct(a.s || b.s))) AS DOUBLE)
        |    / 1000000.0 + 0.0 AS exact_jaccard,
        |  (CAST((2 * CAST(len(list_intersect(a.s, b.s)) AS HUGEINT) * 1000000
        |        + len(list_distinct(a.s || b.s)))
        |       // (2 * len(list_distinct(a.s || b.s))) AS DOUBLE)
        |    / 1000000.0 >= 0.5) AS is_neardup
        |FROM p JOIN sh a ON a.doc_id = p.id_a
        |       JOIN sh b ON b.doc_id = p.id_b""".stripMargin,

    // MOSS pairing over the same selection: distinct per-doc
    // fingerprints, df-capped buckets, a<b self-join
    "text_winnow_neardups" ->
      s"""WITH $winnowCtes,
        |sel AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, fp FROM s WHERE $winnowKeep),
        |dfc AS (SELECT fp, count(*) AS df FROM sel GROUP BY 1),
        |kept AS MATERIALIZED (SELECT sel.doc_id, sel.fp FROM sel
        |         JOIN dfc ON sel.fp = dfc.fp WHERE dfc.df <= 20)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS shared_fps
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // same micro-moment OLS; HUGEINT sums are DuckDB's exact-integer
    // twin of Spark's decimal(38,0)
    "text_zipf_fit" ->
      """WITH tf AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |f AS (SELECT term, count(*) AS freq FROM tf GROUP BY 1),
        |top AS (SELECT freq, rank FROM (
        |  SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC)
        |    AS rank FROM f) WHERE rank <= 500),
        |p AS (
        |  SELECT
        |    CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS HUGEINT) AS x,
        |    CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS HUGEINT) AS y
        |  FROM top),
        |s AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS k, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM p),
        |sl AS (
        |  SELECT k, sx, sy,
        |    CAST(k * sxy - sx * sy AS DOUBLE)
        |      / CAST(k * sxx - sx * sx AS DOUBLE) AS slope_raw
        |  FROM s)
        |SELECT CAST(k AS BIGINT) AS k_terms,
        |  round(slope_raw, 6) AS zipf_slope,
        |  round((CAST(sy AS DOUBLE) / 1e6
        |    - slope_raw * (CAST(sx AS DOUBLE) / 1e6)) / CAST(k AS DOUBLE), 6)
        |    AS zipf_intercept
        |FROM sl""".stripMargin,

    "text_vocab_topk" ->
      """WITH v AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents
        |), c AS (
        |  SELECT term, COUNT(*) AS cnt FROM v GROUP BY term
        |), t AS (
        |  SELECT SUM(cnt) AS n_total FROM c
        |), top AS (
        |  SELECT term, cnt FROM c ORDER BY cnt DESC, term ASC LIMIT 25
        |)
        |SELECT term, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS INTEGER) AS rank,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term ASC) AS HUGEINT)
        |          * 1000000 + (SELECT n_total FROM t))
        |       // (2 * (SELECT n_total FROM t)) AS DOUBLE)
        |    / 1000000.0 + 0.0 AS cum_frac
        |FROM top""".stripMargin,

    "text_bpe_merges" -> bpeMergesOracle(6),
    "text_bpe_encode" -> bpeEncodeOracle(6),

    "text_bpe_pairs" ->
      """WITH v AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents
        |), c AS (
        |  SELECT w, COUNT(*) AS wc FROM v GROUP BY w
        |), p AS (
        |  SELECT unnest(list_transform(range(1, length(w)),
        |    i -> substr(w, CAST(i AS INTEGER), 2))) AS pair, wc
        |  FROM c WHERE length(w) >= 2
        |), pc AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count FROM p GROUP BY pair
        |), top AS (
        |  SELECT pair, pair_count FROM pc
        |  ORDER BY pair_count DESC, pair ASC LIMIT 25
        |)
        |SELECT pair, pair_count,
        |  CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS INTEGER) AS rank
        |FROM top""".stripMargin,

    "text_unigram_logprob" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |v AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |t AS (SELECT sum(cnt) AS total FROM v),
        |lp AS (
        |  SELECT tok,
        |    CAST(round(ln(cnt / (SELECT total FROM t)) * 1000000, 0)
        |         AS DECIMAL(18,0)) AS lp6
        |  FROM v)
        |SELECT doc_id, count(*) AS n_toks,
        |  -- boundary-exact avg (r15 sf10 census: Σ/n lands ON .5 micro
        |  -- boundaries — 1200/500k docs — where the engines' float
        |  -- round(x, 6) legitimately disagree): round-half-away in
        |  -- integer arithmetic, one final double division
        |  -CAST((-2 * CAST(sum(lp6) AS HUGEINT) + count(*))
        |        // (2 * count(*)) AS DOUBLE) / 1000000.0 + 0.0 AS avg_logprob
        |FROM toks JOIN lp USING (tok)
        |GROUP BY doc_id""".stripMargin,

    // add-1-smoothed bigram LM: same micro-nat decimal discipline; the
    // ratio is a double division on both engines (DuckDB int/int is
    // true division), ln of the same double
    "text_bigram_logprob" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, t[i+1] AS w1, t[i+1] || ' ' || t[i+2] AS bigram
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, greatest(len(t) - 1, 0))) AS i FROM toks)),
        |v AS (SELECT count(DISTINCT tok) AS vsz
        |      FROM (SELECT unnest(t) AS tok FROM toks)),
        |cb AS MATERIALIZED (SELECT w1, bigram, count(*) AS cb FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(cb) AS ctx FROM cb GROUP BY 1),
        |lp AS (
        |  SELECT bigram,
        |    CAST(round(ln((cb + 1) / (ctx + (SELECT vsz FROM v))) * 1000000, 0)
        |         AS DECIMAL(18,0)) AS lp6
        |  FROM cb JOIN ctx USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  -- boundary-exact avg (see text_unigram_logprob)
        |  -CAST((-2 * CAST(sum(lp6) AS HUGEINT) + count(*))
        |        // (2 * count(*)) AS DOUBLE) / 1000000.0 + 0.0 AS avg_logprob
        |FROM bg JOIN lp USING (bigram)
        |GROUP BY doc_id""".stripMargin,

    // same bigram-LM scores as text_bigram_logprob; cutoffs =
    // quantile_cont over the same doc_id%5 sample, rounded to 6 dp on
    // both sides BEFORE the boundary comparison
    "text_ppl_buckets" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, t[i+1] AS w1, t[i+1] || ' ' || t[i+2] AS bigram
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, greatest(len(t) - 1, 0))) AS i FROM toks)),
        |v AS (SELECT count(DISTINCT tok) AS vsz
        |      FROM (SELECT unnest(t) AS tok FROM toks)),
        |cb AS MATERIALIZED (SELECT w1, bigram, count(*) AS cb FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(cb) AS ctx FROM cb GROUP BY 1),
        |lp AS (
        |  SELECT bigram,
        |    CAST(round(ln((cb + 1) / (ctx + (SELECT vsz FROM v))) * 1000000, 0)
        |         AS DECIMAL(18,0)) AS lp6
        |  FROM cb JOIN ctx USING (w1)),
        |sc AS (
        |  SELECT doc_id,
        |    -- boundary-exact avg (see text_unigram_logprob) — must
        |    -- match text_bigram_logprob's spelling bit-for-bit, the
        |    -- cutoffs quantile these scores
        |    -CAST((-2 * CAST(sum(lp6) AS HUGEINT) + count(*))
        |          // (2 * count(*)) AS DOUBLE) / 1000000.0 + 0.0 AS avg_logprob
        |  FROM bg JOIN lp USING (bigram)
        |  GROUP BY doc_id),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_logprob, 1.0/3), 6) AS c_tail,
        |         round(quantile_cont(avg_logprob, 2.0/3), 6) AS c_mid
        |  FROM sc WHERE doc_id % 5 = 0)
        |SELECT doc_id, avg_logprob,
        |  CASE WHEN avg_logprob <= c_tail THEN 'tail'
        |       WHEN avg_logprob <= c_mid THEN 'middle'
        |       ELSE 'head' END AS ppl_bucket
        |FROM sc, cuts""".stripMargin,

    // same integer character counts and list ops; thresholds applied to
    // the ROUNDED signals on both engines
    "text_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(list_sum(list_transform(toks, tk -> strlen(tk))) AS BIGINT)
        |      AS sum_len,
        |    CAST(strlen(text) - strlen(replace(text, '#', '')) AS BIGINT)
        |      + (strlen(text) - strlen(regexp_replace(text, '\.\.\.', '', 'g'))) // 3
        |      AS n_symbols,
        |    CAST(len(list_filter(toks, tk -> regexp_matches(tk, '[A-Za-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(list_contains(toks, 'the') AS INTEGER)
        |      + CAST(list_contains(toks, 'a') AS INTEGER)
        |      + CAST(list_contains(toks, 'of') AS INTEGER)
        |      + CAST(list_contains(toks, 'and') AS INTEGER)
        |      + CAST(list_contains(toks, 'to') AS INTEGER)
        |      + CAST(list_contains(toks, 'in') AS INTEGER)
        |      + CAST(list_contains(toks, 'is') AS INTEGER)
        |      + CAST(list_contains(toks, 'it') AS INTEGER) AS n_stop_hits
        |  FROM t),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |    CAST((2 * CAST(sum_len AS HUGEINT) * 1000000 + n_tokens)
        |          // (2 * n_tokens) AS DOUBLE) / 1000000.0 + 0.0 AS mean_tok_len,
        |    CAST((2 * CAST(n_symbols AS HUGEINT) * 1000000 + n_tokens)
        |          // (2 * n_tokens) AS DOUBLE) / 1000000.0 + 0.0 AS symbol_ratio,
        |    CAST((2 * CAST(n_alpha AS HUGEINT) * 1000000 + n_tokens)
        |          // (2 * n_tokens) AS DOUBLE) / 1000000.0 + 0.0 AS alpha_frac,
        |    n_stop_hits
        |  FROM m)
        |SELECT doc_id, n_tokens, mean_tok_len, symbol_ratio, alpha_frac,
        |  n_stop_hits,
        |  CAST(CASE WHEN n_tokens BETWEEN 10 AND 2000
        |    AND mean_tok_len BETWEEN 3.0 AND 10.0
        |    AND symbol_ratio <= 0.1
        |    AND alpha_frac >= 0.8
        |    AND n_stop_hits >= 2 THEN 1 ELSE 0 END AS INTEGER) AS gopher_pass
        |FROM r""".stripMargin,

    // same 3-token lines from the same regex split; duplicate set =
    // lines in >1 distinct doc; NOT IN removes them corpus-wide
    "text_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS line_idx,
        |    array_to_string(list_slice(toks, i*3 + 1, i*3 + 3), ' ') AS line
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, CAST(ceil(len(toks)/3.0) AS BIGINT))) AS i
        |        FROM t)),
        |d AS (SELECT line FROM l GROUP BY line
        |      HAVING count(DISTINCT doc_id) > 1)
        |SELECT doc_id, line_idx, line FROM l
        |WHERE line NOT IN (SELECT line FROM d)""".stripMargin,

    // same train/score split, same backoff cascade on word-pair joins
    // (Spark joins concatenated n-gram strings; tokens contain no
    // whitespace so the keys are equivalent), same micro-nat sums
    "text_trigram_backoff" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, doc_id % 10 <> 7 AS train,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |tri AS MATERIALIZED (
        |  SELECT doc_id, train, t[i+1] AS w1, t[i+2] AS w2, t[i+3] AS w3
        |  FROM (SELECT doc_id, train, t,
        |          unnest(range(0, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |bi AS MATERIALIZED (
        |  SELECT doc_id, train, t[i+1] AS w1, t[i+2] AS w2
        |  FROM (SELECT doc_id, train, t,
        |          unnest(range(0, greatest(len(t) - 1, 0))) AS i FROM toks)),
        |m3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri WHERE train
        |       GROUP BY 1, 2, 3),
        |x2 AS (SELECT w1, w2, count(*) AS c2ctx FROM tri WHERE train
        |       GROUP BY 1, 2),
        |m2 AS (SELECT w1 AS v2, w2 AS v3, count(*) AS c2 FROM bi WHERE train
        |       GROUP BY 1, 2),
        |x1 AS (SELECT w1 AS v2, count(*) AS c1ctx FROM bi WHERE train
        |       GROUP BY 1),
        |m1 AS (SELECT tok AS v3, count(*) AS c1
        |       FROM (SELECT unnest(t) AS tok FROM toks WHERE train) GROUP BY 1),
        |nv AS (SELECT count(*) AS n_total, count(DISTINCT tok) AS v_size
        |       FROM (SELECT unnest(t) AS tok FROM toks WHERE train)),
        |sc AS (
        |  SELECT tri.doc_id,
        |    CAST(round(
        |      CASE WHEN m3.c3 IS NOT NULL THEN ln(m3.c3 / x2.c2ctx)
        |           WHEN m2.c2 IS NOT NULL THEN ln(0.4) + ln(m2.c2 / x1.c1ctx)
        |           ELSE 2 * ln(0.4) +
        |             ln((coalesce(m1.c1, 0) + 1) / (nv.n_total + nv.v_size))
        |      END * 1000000, 0) AS DECIMAL(18,0)) AS lp6,
        |    CASE WHEN m3.c3 IS NOT NULL THEN 0
        |         WHEN m2.c2 IS NOT NULL THEN 1 ELSE 2 END AS lvl
        |  FROM tri
        |  LEFT JOIN m3 USING (w1, w2, w3)
        |  LEFT JOIN x2 USING (w1, w2)
        |  LEFT JOIN m2 ON m2.v2 = tri.w2 AND m2.v3 = tri.w3
        |  LEFT JOIN x1 ON x1.v2 = tri.w2
        |  LEFT JOIN m1 ON m1.v3 = tri.w3
        |  CROSS JOIN nv
        |  WHERE NOT tri.train)
        |SELECT doc_id, count(*) AS n_positions,
        |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bi_backoffs,
        |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_uni_backoffs,
        |  -- boundary-exact avg (see text_unigram_logprob)
        |  -CAST((-2 * CAST(sum(lp6) AS HUGEINT) + count(*))
        |        // (2 * count(*)) AS DOUBLE) / 1000000.0 + 0.0 AS avg_logscore
        |FROM sc GROUP BY doc_id""".stripMargin,

    // same window generation via list_slice over range(), same
    // duplicate rule (corpus count > 1), same lag-based interval merge
    "dedup_substring_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |win AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS off,
        |         array_to_string(list_slice(t, i + 1, i + 8), ' ') AS w
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, greatest(len(t) - 7, 0))) AS i FROM toks)),
        |dup AS (SELECT w FROM win GROUP BY w HAVING count(*) > 1),
        |occ AS (SELECT doc_id, off FROM win WHERE w IN (SELECT w FROM dup)),
        |flagged AS (
        |  SELECT doc_id, off,
        |    CASE WHEN lag(off) OVER (PARTITION BY doc_id ORDER BY off) IS NULL
        |           OR off > lag(off) OVER (PARTITION BY doc_id ORDER BY off) + 8
        |         THEN 1 ELSE 0 END AS new_span
        |  FROM occ),
        |spans AS (
        |  SELECT doc_id, off,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY off
        |                        ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM flagged)
        |SELECT doc_id, CAST(span_id AS INTEGER) AS span_id,
        |  min(off) AS span_start, max(off) + 8 AS span_end,
        |  max(off) + 8 - min(off) AS span_tokens
        |FROM spans GROUP BY 1, 2""".stripMargin,

    "dedup_substring_summary" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |win AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS off,
        |         array_to_string(list_slice(t, i + 1, i + 8), ' ') AS w
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, greatest(len(t) - 7, 0))) AS i FROM toks)),
        |dup AS (SELECT w FROM win GROUP BY w HAVING count(*) > 1),
        |occ AS (SELECT doc_id, off FROM win WHERE w IN (SELECT w FROM dup)),
        |flagged AS (
        |  SELECT doc_id, off,
        |    CASE WHEN lag(off) OVER (PARTITION BY doc_id ORDER BY off) IS NULL
        |           OR off > lag(off) OVER (PARTITION BY doc_id ORDER BY off) + 8
        |         THEN 1 ELSE 0 END AS new_span
        |  FROM occ),
        |spans AS (
        |  SELECT doc_id, off,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY off
        |                        ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM flagged),
        |agg AS (
        |  SELECT doc_id, span_id, min(off) AS s, max(off) + 8 AS e
        |  FROM spans GROUP BY 1, 2),
        |rem AS (
        |  SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS removed_tokens,
        |         CAST(count(*) AS BIGINT) AS n_spans
        |  FROM agg GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.t) AS INTEGER) AS n_tokens,
        |  coalesce(rem.removed_tokens, 0) AS removed_tokens,
        |  CAST(len(t.t) - coalesce(rem.removed_tokens, 0) AS BIGINT)
        |    AS kept_tokens,
        |  coalesce(rem.n_spans, 0) AS n_spans
        |FROM toks t LEFT JOIN rem USING (doc_id)""".stripMargin,

    // incremental: batch windows (doc_id%10==7) found in the corpus
    // window set, merged into spans with the same lag rule
    "dedup_substring_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |win AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS off,
        |         array_to_string(list_slice(t, i + 1, i + 8), ' ') AS w
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, greatest(len(t) - 7, 0))) AS i FROM toks)),
        |corpus AS (SELECT DISTINCT w FROM win WHERE doc_id % 10 <> 7),
        |occ AS (SELECT doc_id, off FROM win
        |        WHERE doc_id % 10 = 7 AND w IN (SELECT w FROM corpus)),
        |flagged AS (
        |  SELECT doc_id, off,
        |    CASE WHEN lag(off) OVER (PARTITION BY doc_id ORDER BY off) IS NULL
        |           OR off > lag(off) OVER (PARTITION BY doc_id ORDER BY off) + 8
        |         THEN 1 ELSE 0 END AS new_span
        |  FROM occ),
        |spans AS (
        |  SELECT doc_id, off,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY off
        |                        ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM flagged)
        |SELECT doc_id, CAST(span_id AS INTEGER) AS span_id,
        |  min(off) AS span_start, max(off) + 8 AS span_end,
        |  max(off) + 8 - min(off) AS span_tokens
        |FROM spans GROUP BY 1, 2""".stripMargin,

    // apply step: token i kept iff no duplicated window offset covers
    // it (1-based lambda index → i-1); same window/dup CTEs as above
    "dedup_substring_apply" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |win AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS off,
        |         array_to_string(list_slice(t, i + 1, i + 8), ' ') AS w
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, greatest(len(t) - 7, 0))) AS i FROM toks)),
        |dup AS (SELECT w FROM win GROUP BY w HAVING count(*) > 1),
        |occ AS (SELECT doc_id, off FROM win WHERE w IN (SELECT w FROM dup)),
        |sl AS (SELECT doc_id, list(off) AS offs FROM occ GROUP BY 1)
        |SELECT t.doc_id,
        |  coalesce(array_to_string(
        |    list_filter(t.t, (x, i) ->
        |      len(list_filter(coalesce(sl.offs, []),
        |          o -> o <= i - 1 AND i - 1 < o + 8)) = 0), ' '), '')
        |    AS clean_text,
        |  CAST(len(list_filter(t.t, (x, i) ->
        |      len(list_filter(coalesce(sl.offs, []),
        |          o -> o <= i - 1 AND i - 1 < o + 8)) = 0))
        |    AS INTEGER) AS n_kept
        |FROM toks t LEFT JOIN sl ON t.doc_id = sl.doc_id""".stripMargin,

    // nearest-centroid assignment re-derived from the materialized
    // model, then the SemDeDup drop rule as a correlated NOT EXISTS
    "dedup_semantic" ->
      s"""WITH c AS (
        |  SELECT cell, centroid, norm
        |  FROM read_parquet('${OracleAux.sqlDir("semdedup_centroids")}/*.parquet')
        |),
        |-- MATERIALIZED (r17): referenced twice (x, y) — the per-row
        |-- centroid top-1 is the oracle's dominant cost; inlining
        |-- re-evaluated it per reference (719 s sampled at sf10)
        |a AS MATERIALIZED (
        |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
        |    (SELECT c.cell FROM c
        |     ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
        |       / c.norm DESC, c.cell DESC
        |     LIMIT 1) AS cell
        |  FROM embeddings e)
        |SELECT x.vec_id, x.cell,
        |  NOT EXISTS (
        |    SELECT 1 FROM a y
        |    WHERE y.cell = x.cell AND y.vec_id < x.vec_id
        |      AND list_cosine_similarity(x.v, y.v) >= 0.4) AS keep
        |FROM a x""".stripMargin,

    "text_pack_sequences" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_toks
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, n_toks,
        |    CAST(floor((sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_toks) / 512.0) AS INTEGER) AS pack_id
        |  FROM t)
        |SELECT source, pack_id, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS pack_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY source, pack_id""".stripMargin,

    "text_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 32 THEN 1
        |         ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INTEGER) + 1 END AS nc
        |  FROM t),
        |e AS (SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM c)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
        |  CAST(len(list_slice(toks, i*24 + 1, i*24 + 32)) AS INTEGER) AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(toks, i*24 + 1, i*24 + 32), ' ')) AS chunk_hash
        |FROM e""".stripMargin,

    // same md5-of-id order, same exclusive window prefix sum, same
    // floor-semantics cutoff
    "sample_token_budget" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_toks,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_toks,
        |    coalesce(sum(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM t)
        |SELECT source, doc_id, n_toks FROM c WHERE before < 600""".stripMargin,

    // same 3-token lines; boilerplate set = (source, line) pairs with
    // ≥2 distinct docs; anti join is per-domain (NOT EXISTS on both keys)
    "text_boilerplate_lines" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, source, CAST(i AS INTEGER) AS line_idx,
        |    array_to_string(list_slice(toks, i*3 + 1, i*3 + 3), ' ') AS line
        |  FROM (SELECT doc_id, source, toks,
        |          unnest(range(0, CAST(ceil(len(toks)/3.0) AS BIGINT))) AS i
        |        FROM t)),
        |d AS (SELECT source, line FROM l GROUP BY source, line
        |      HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, source, line_idx, line FROM l
        |WHERE NOT EXISTS (SELECT 1 FROM d
        |                  WHERE d.source = l.source AND d.line = l.line)""".stripMargin,

    // same explode(sequence)+substr character stream, same micro-bit
    // decimal sums — -p·log2(p) terms rounded before summation
    "text_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, length(text) AS len,
        |    substr(text, CAST(i AS INTEGER), 1) AS ch
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |        FROM documents WHERE length(text) > 0)),
        |c AS (SELECT doc_id, len, ch, count(*) AS cnt FROM ch GROUP BY 1, 2, 3),
        |e AS (
        |  SELECT doc_id, len,
        |    CAST(round(-(cnt / CAST(len AS DOUBLE))
        |               * log2(cnt / CAST(len AS DOUBLE)) * 1000000, 0)
        |         AS DECIMAL(18,0)) AS e6
        |  FROM c)
        |SELECT doc_id, CAST(len AS BIGINT) AS n_text_chars,
        |  round(CAST(sum(e6) AS DOUBLE) / 1000000.0, 6) AS entropy_bits
        |FROM e GROUP BY doc_id, len""".stripMargin,

    // same md5-hex bucket, same add-1 smoothing over 4096 buckets, same
    // micro-nat log-ratio model joined back to every bigram occurrence
    "text_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS tgt,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |bb AS (
        |  SELECT doc_id, tgt,
        |    CAST(CAST(('0x' || substr(md5(t[i+1] || ' ' || t[i+2]), 1, 8))
        |      AS UBIGINT) % 4096 AS BIGINT) AS b
        |  FROM (SELECT doc_id, tgt, t,
        |          unnest(range(0, greatest(len(t) - 1, 0))) AS i FROM toks)),
        |c AS (SELECT b, count(*) AS cr,
        |        sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
        |      FROM bb GROUP BY b),
        |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM c),
        |m AS (
        |  SELECT b,
        |    CAST(round((ln((ct + 1) / (nt + 4096))
        |              - ln((cr + 1) / (nr + 4096))) * 1000000, 0)
        |         AS DECIMAL(18,0)) AS lr6
        |  FROM c, tot)
        |SELECT doc_id, count(*) AS n_feats,
        |  round(CAST(sum(lr6) AS DOUBLE) / 1000000.0, 6) AS log_weight
        |FROM bb JOIN m USING (b) GROUP BY doc_id""".stripMargin,

    // same fixed-width clamped buckets, same add-1 smoothing over the
    // FULL 20-bucket domain (empty buckets emit their smoothing-only
    // term), same single-expression PSI term over exact counts
    "drift_psi_nchars" ->
      """WITH b AS (
        |  SELECT CAST(least(greatest(CAST(floor(n_chars / 50) AS INTEGER), 0), 19)
        |    AS INTEGER) AS bucket,
        |    doc_id % 10 <> 7 AS o, doc_id % 10 = 7 AS n
        |  FROM documents),
        |obs AS (
        |  SELECT bucket,
        |    sum(CASE WHEN o THEN 1 ELSE 0 END) AS n_old,
        |    sum(CASE WHEN n THEN 1 ELSE 0 END) AS n_new
        |  FROM b GROUP BY bucket),
        |c AS (
        |  SELECT CAST(d.bucket AS INTEGER) AS bucket,
        |    coalesce(obs.n_old, 0) AS n_old, coalesce(obs.n_new, 0) AS n_new
        |  FROM (SELECT unnest(range(0, 20)) AS bucket) d
        |  LEFT JOIN obs ON obs.bucket = d.bucket),
        |t AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new FROM c)
        |SELECT bucket, CAST(n_old AS BIGINT) AS n_old,
        |  CAST(n_new AS BIGINT) AS n_new,
        |  round(((n_new + 1) / (t_new + 20) - (n_old + 1) / (t_old + 20))
        |    * ln(((n_new + 1) / (t_new + 20)) / ((n_old + 1) / (t_old + 20))),
        |    6) AS psi_term
        |FROM c, t""".stripMargin,

    // naive single-window CDF formulation — different plan shape from
    // the Spark side's hierarchical prefix sum, identical integers
    "drift_ks_value" ->
      """WITH t AS (
        |  SELECT value AS v,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |c AS (
        |  SELECT v,
        |    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fa,
        |    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fb
        |  FROM t),
        |n AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |             CAST(SUM(cb) AS BIGINT) AS nb FROM t)
        |SELECT v AS at_value, CAST(abs(fa * nb - fb * na) AS BIGINT) AS d_num,
        |  na AS n_a, nb AS n_b,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(abs(fa * nb - fb * na) AS HUGEINT) * 1000000
        |        + na * nb) // (2 * CAST(na AS HUGEINT) * nb) AS DOUBLE)
        |    / 1000000.0 + 0.0 AS ks_d
        |FROM c, n
        |ORDER BY abs(fa * nb - fb * na) DESC, v ASC
        |LIMIT 1""".stripMargin,

    // same linear-interpolation (type-7) percentile per language, same
    // >= cutoff on the unrounded threshold
    "text_adaptive_length_gate" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER)
        |      AS n_toks
        |  FROM documents),
        |th AS (SELECT lang, quantile_cont(n_toks, 0.1) AS p10
        |       FROM d GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_toks, round(th.p10, 6) AS p10
        |FROM d JOIN th USING (lang)
        |WHERE d.n_toks >= th.p10""".stripMargin,

    // same md5-of-id prefix order, same integer epoch/residual
    // arithmetic over per-source token totals
    "sample_epoch_mix" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_toks,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_toks,
        |    coalesce(sum(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM t),
        |a AS (SELECT source, sum(n_toks) AS avail FROM t GROUP BY source),
        |x AS (
        |  SELECT c.source, c.doc_id, c.n_toks, c.before, a.avail,
        |    CASE c.source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 100000
        |      WHEN 'src2' THEN 700 ELSE 0 END AS target
        |  FROM c JOIN a USING (source)),
        |y AS (
        |  SELECT source, doc_id, n_toks, before, avail, target,
        |    CASE WHEN avail > 0 THEN least(target // avail, 3) ELSE 0 END AS e
        |  FROM x),
        |z AS (
        |  SELECT source, doc_id, n_toks,
        |    CAST(e + CASE WHEN before <
        |        (CASE WHEN e < 3 THEN target - e * avail ELSE 0 END)
        |      THEN 1 ELSE 0 END AS INTEGER) AS n_repeats
        |  FROM y)
        |SELECT source, doc_id, n_toks, n_repeats FROM z
        |WHERE n_repeats >= 1""".stripMargin,

    // same md5-of-group-key bucket arithmetic as the stratified mix
    // same micro-unit weight rounding before the exact integer
    // normalizer; shares and boost divide the rounded values
    "sample_temperature_weights" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |p AS (
        |  SELECT source, n_tokens,
        |    CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.3) * 1e6) AS BIGINT)
        |      AS w6
        |  FROM t),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tn,
        |               CAST(SUM(w6) AS BIGINT) AS tw FROM p),
        |z AS (
        |  -- boundary-exact int/int round-6 micro integers
        |  SELECT source, n_tokens,
        |    (2 * CAST(n_tokens AS HUGEINT) * 1000000 + tn) // (2 * tn) AS zr,
        |    (2 * CAST(w6 AS HUGEINT) * 1000000 + tw) // (2 * tw) AS zt
        |  FROM p, tot)
        |SELECT source, n_tokens,
        |  CAST(zr AS DOUBLE) / 1000000.0 + 0.0 AS p_raw,
        |  CAST(zt AS DOUBLE) / 1000000.0 + 0.0 AS p_temp,
        |  CAST((2 * zt * 1000000 + zr) // (2 * zr) AS DOUBLE)
        |    / 1000000.0 + 0.0 AS boost
        |FROM z""".stripMargin,

    // the same md5-prefix draw, ranked per source — k smallest kept
    "sample_reservoir_per_key" ->
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':res1'),
        |      1, 8)) AS UBIGINT) AS BIGINT) AS draw
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY draw ASC, doc_id ASC) AS rk
        |  FROM h)
        |SELECT doc_id, source, n_chars, draw, CAST(rk AS INTEGER) AS rank
        |FROM r WHERE rk <= 10""".stripMargin,

    // same md5 48-bit uniform and micro-unit ln(u)/w priority; DuckDB
    // ranks with row_number under the identical (priority desc, id)
    // total order
    "sample_weighted_per_key" ->
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(round(ln((CAST(CAST(('0x' ||
        |        substr(md5(CAST(doc_id AS VARCHAR) || ':wres1'), 1, 12))
        |        AS UBIGINT) AS DOUBLE) + 1.0) / 281474976710657.0)
        |      / CAST(n_chars AS DOUBLE) * 1e6) AS BIGINT) AS priority_micro
        |  FROM documents WHERE n_chars > 0),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY priority_micro DESC, doc_id ASC) AS rk
        |  FROM h)
        |SELECT doc_id, source, n_chars, priority_micro,
        |  CAST(rk AS INTEGER) AS rank
        |FROM r WHERE rk <= 10""".stripMargin,

    "sample_leakfree_split" ->
      """WITH b AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(CAST(('0x' || substr(md5(source || ':split1'), 1, 8))
        |      AS UBIGINT) % 100 AS BIGINT) AS split_bucket
        |  FROM documents)
        |SELECT doc_id, source, n_chars, split_bucket,
        |  CASE WHEN split_bucket < 80 THEN 'train'
        |       WHEN split_bucket < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,

    // same exclusive window prefix sum as pack_sequences, byte weights
    "text_shard_by_bytes" ->
      """WITH p AS (
        |  SELECT source, doc_id, n_chars AS n_bytes,
        |    CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_chars) / 4000.0) AS INTEGER) AS shard_id
        |  FROM documents)
        |SELECT source, shard_id, count(*) AS n_docs,
        |  CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY source, shard_id""".stripMargin,

    // the composed funnel: keep-first dedup flag + the gopher-rules
    // arithmetic (same expressions as text_gopher_rules, thresholds on
    // the 6-dp-rounded ratios) + the same exclusive-prefix-sum shard
    // rule as text_shard_by_bytes, restricted to the kept set
    "pipeline_curation_e2e" ->
      """WITH t0 AS (
        |  SELECT doc_id, text, source, n_chars,
        |    CASE WHEN row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |      THEN 1 ELSE 0 END AS is_first
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, source, n_chars, is_first, text,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM t0),
        |m AS (
        |  SELECT doc_id, source, n_chars, is_first,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(list_sum(list_transform(toks, tk -> strlen(tk))) AS BIGINT)
        |      AS sum_len,
        |    CAST(strlen(text) - strlen(replace(text, '#', '')) AS BIGINT)
        |      + (strlen(text) - strlen(regexp_replace(text, '\.\.\.', '', 'g'))) // 3
        |      AS n_symbols,
        |    CAST(len(list_filter(toks, tk -> regexp_matches(tk, '[A-Za-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(list_contains(toks, 'the') AS INTEGER)
        |      + CAST(list_contains(toks, 'a') AS INTEGER)
        |      + CAST(list_contains(toks, 'of') AS INTEGER)
        |      + CAST(list_contains(toks, 'and') AS INTEGER)
        |      + CAST(list_contains(toks, 'to') AS INTEGER)
        |      + CAST(list_contains(toks, 'in') AS INTEGER)
        |      + CAST(list_contains(toks, 'is') AS INTEGER)
        |      + CAST(list_contains(toks, 'it') AS INTEGER) AS n_stop_hits
        |  FROM t),
        |g AS (
        |  SELECT doc_id, source, n_chars, is_first, n_tokens,
        |    CASE WHEN n_tokens BETWEEN 10 AND 2000
        |      AND CAST((2 * CAST(sum_len AS HUGEINT) * 1000000 + n_tokens)
        |          // (2 * n_tokens) AS DOUBLE) / 1000000.0 + 0.0 BETWEEN 3.0 AND 10.0
        |      AND CAST((2 * CAST(n_symbols AS HUGEINT) * 1000000 + n_tokens)
        |          // (2 * n_tokens) AS DOUBLE) / 1000000.0 + 0.0 <= 0.1
        |      AND CAST((2 * CAST(n_alpha AS HUGEINT) * 1000000 + n_tokens)
        |          // (2 * n_tokens) AS DOUBLE) / 1000000.0 + 0.0 >= 0.8
        |      AND n_stop_hits >= 2 THEN 1 ELSE 0 END AS gopher_pass
        |  FROM m),
        |k AS (SELECT source, doc_id, n_chars FROM g
        |      WHERE is_first = 1 AND gopher_pass = 1),
        |sh AS (
        |  SELECT source,
        |    CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_chars) / 4000.0) AS INTEGER)
        |      AS shard_id
        |  FROM k),
        |ns AS (SELECT source, CAST(count(DISTINCT shard_id) AS BIGINT)
        |         AS n_shards
        |       FROM sh GROUP BY source),
        |f AS (
        |  SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_raw,
        |    CAST(sum(is_first) AS BIGINT) AS n_dedup,
        |    CAST(sum(CASE WHEN is_first = 1 AND gopher_pass = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(sum(CASE WHEN is_first = 1 AND gopher_pass = 1
        |      THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
        |    CAST(sum(CASE WHEN is_first = 1 AND gopher_pass = 1
        |      THEN n_chars ELSE 0 END) AS BIGINT) AS kept_bytes
        |  FROM g GROUP BY source)
        |SELECT f.source, n_raw, n_dedup, n_kept, kept_tokens, kept_bytes,
        |  COALESCE(ns.n_shards, CAST(0 AS BIGINT)) AS n_shards
        |FROM f LEFT JOIN ns ON ns.source = f.source""".stripMargin,

    // row_number twin of the TopKPerKey heap operator
    "sample_domain_quota" ->
      """SELECT doc_id, source, n_chars, rank FROM (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS INTEGER) AS rank
        |  FROM documents)
        |WHERE rank <= 5""".stripMargin,

    "sample_stratified_mix" ->
      """WITH b AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 8))
        |      AS UBIGINT) % 100 AS BIGINT) AS strat_bucket
        |  FROM documents
        |)
        |SELECT doc_id, source, n_chars, strat_bucket FROM b
        |WHERE strat_bucket < CASE source
        |  WHEN 'src0' THEN 80 WHEN 'src1' THEN 60 WHEN 'src2' THEN 40
        |  ELSE 20 END""".stripMargin,

    "text_repetition_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |), tk AS (SELECT doc_id, t FROM toks WHERE len(t) >= 3),
        |bga AS (
        |  SELECT doc_id, g, count(*) AS n FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i + 1])) AS g FROM tk)
        |  GROUP BY 1, 2
        |), bstat AS (
        |  SELECT doc_id, CAST(max(n) AS BIGINT) AS top_bigram_n,
        |    CAST(sum(n) AS BIGINT) AS n_bigrams FROM bga GROUP BY 1
        |), tga AS (
        |  SELECT doc_id, g, count(*) AS n FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g FROM tk)
        |  GROUP BY 1, 2
        |), tstat AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_trigrams,
        |    CAST(count(*) AS BIGINT) AS n_distinct_trigrams FROM tga GROUP BY 1
        |)
        |SELECT b.doc_id, b.n_bigrams, b.top_bigram_n,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob);
        |  -- 1 − d/t spelled as the single rational (t−d)/t
        |  CAST((2 * CAST(b.top_bigram_n AS HUGEINT) * 1000000 + b.n_bigrams)
        |       // (2 * b.n_bigrams) AS DOUBLE) / 1000000.0 + 0.0
        |    AS top_bigram_frac,
        |  t.n_trigrams,
        |  CAST((2 * CAST(t.n_trigrams - t.n_distinct_trigrams AS HUGEINT)
        |          * 1000000 + t.n_trigrams)
        |       // (2 * t.n_trigrams) AS DOUBLE) / 1000000.0 + 0.0
        |    AS dup_trigram_frac
        |FROM bstat b JOIN tstat t USING (doc_id)""".stripMargin,

    "text_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS g
        |  FROM toks WHERE len(t) >= 4
        |), bench AS (
        |  SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0
        |)
        |SELECT g.doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_shared_grams
        |FROM g JOIN bench USING (g)
        |WHERE g.doc_id % 97 <> 0
        |GROUP BY 1""".stripMargin,

    // same synthesized URL strings, same regexp/list canonical chain
    "url_canonicalize" ->
      s"""WITH u AS ($UrlFixtureSql)
         |SELECT doc_id, url, $UrlCanonSql AS url_canon FROM u""".stripMargin,

    "url_dedup" ->
      s"""WITH u AS ($UrlFixtureSql),
         |c AS (SELECT doc_id, $UrlCanonSql AS url_canon FROM u)
         |SELECT url_canon, min(doc_id) AS doc_id,
         |  CAST(count(*) AS BIGINT) AS n_copies
         |FROM c GROUP BY 1""".stripMargin,

    // same host extraction, same suffix-chain explosion, same equality
    // blocklist semantics as Urls.domainFilter
    "url_domain_filter" ->
      s"""WITH u AS ($UrlFixtureSql),
         |h AS (SELECT doc_id, url,
         |  regexp_replace(lower(regexp_extract(regexp_replace(url, '#.*$$', ''),
         |    '^[^:/?#]+://([^/?#]*)', 1)), ':[0-9]+$$', '') AS host FROM u),
         |sfx AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(string_split(host, '.')) + 1),
         |    i -> array_to_string(string_split(host, '.')[i:], '.'))) AS domain
         |  FROM h)
         |SELECT doc_id, url, host FROM h
         |WHERE doc_id NOT IN (SELECT doc_id FROM sfx
         |  WHERE domain IN ('example2.com', 'example7.com', 'blocked.test'))""".stripMargin,

    // same shingle sets, same posting-join intersection counts, same
    // round-before-threshold Jaccard as dedup_jaccard_inverted
    "text_decontaminate_fuzzy" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id AS id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks
        |), sizes AS (
        |  SELECT id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.id AS tid, b.id AS eid, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.id % 40 <> 0 AND b.id % 40 = 0
        |  GROUP BY 1, 2
        |), j AS (
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  SELECT tid,
        |    CAST((2 * CAST(inter AS HUGEINT) * 1000000 + (sa.sz + sb.sz - inter))
        |         // (2 * (sa.sz + sb.sz - inter)) AS DOUBLE)
        |      / 1000000.0 + 0.0 AS jac
        |  FROM inter
        |  JOIN sizes sa ON sa.id = tid
        |  JOIN sizes sb ON sb.id = eid
        |  WHERE CAST((2 * CAST(inter AS HUGEINT) * 1000000 + (sa.sz + sb.sz - inter))
        |         // (2 * (sa.sz + sb.sz - inter)) AS DOUBLE)
        |      / 1000000.0 >= 0.5)
        |SELECT tid AS doc_id, CAST(count(*) AS BIGINT) AS n_eval_matches,
        |  max(jac) AS max_jaccard
        |FROM j GROUP BY 1""".stripMargin,

    "text_quality_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INTEGER) AS n_chars_m,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(list_filter(toks, tk -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], tk))) AS INTEGER) AS n_stopwords,
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS INTEGER) AS n_punct
        |  FROM t
        |)
        |SELECT doc_id, n_chars_m, n_tokens, n_stopwords, n_punct,
        |  CAST(n_chars_m - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
        |  CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
        |  round(CAST(n_stopwords AS DOUBLE) / n_tokens * 0.5
        |    + CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 0.3 ELSE 0.0 END
        |    + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_m < 0.1 THEN 0.2 ELSE 0.0 END,
        |    6) AS quality_score
        |FROM m""".stripMargin,

    "text_top_bigrams" ->
      """WITH toks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
        |), bg AS (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i + 1])) AS bigram
        |  FROM toks WHERE len(t) >= 2
        |)
        |SELECT bigram, count(*) AS n FROM bg
        |GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,

    "text_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        |), n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |)
        |SELECT doc_id, term, tfidf, rank FROM (
        |  SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
        |  FROM scored) WHERE rank <= 3""".stripMargin,

    // same tokenizer, same Lucene-variant BM25 arithmetic, same
    // micro-unit long summation for FP-order invariance
    "text_bm25_topk" ->
      """WITH dl AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS dl
        |  FROM documents),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
        |  WHERE term IN ('spark', 'join', 'window', 'vector') GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT tf.doc_id,
        |    CAST(round(ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5)) * tf.tf
        |      * 2.2 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
        |      * 1e6) AS BIGINT) AS cm
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN s),
        |g AS (
        |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms_hit,
        |    sum(cm) / 1e6 AS bm25
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_terms_hit, bm25, rank FROM (
        |  SELECT doc_id, n_terms_hit, bm25,
        |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INTEGER)
        |      AS rank
        |  FROM g) WHERE rank <= 20""".stripMargin,

    "text_pii_mask" ->
      """SELECT o_orderkey,
        |  regexp_replace(o_orderpriority, '[0-9]+', '#', 'g') AS prio_masked,
        |  '************' || substring(lpad(CAST(o_orderkey AS VARCHAR), 16, '0'), 13, 4) AS card_masked
        |FROM orders""".stripMargin,

    "text_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    chr(9) || ' ' || text || '  ' || chr(13) || chr(10)
        |      || substr(text, 1, 10) || chr(7) AS dirty
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, dirty,
        |    trim(regexp_replace(regexp_replace(dirty, '[[:cntrl:]]', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM d
        |)
        |SELECT doc_id,
        |  CAST(length(dirty) - length(regexp_replace(dirty, '[[:cntrl:]]', '', 'g')) AS INTEGER) AS n_ctrl,
        |  CAST(length(dirty) AS INTEGER) AS raw_len,
        |  CAST(length(norm) AS INTEGER) AS norm_len,
        |  md5(norm) AS norm_md5
        |FROM n""".stripMargin,

    "text_pii_scan" ->
      """WITH b AS (
        |  SELECT doc_id, text, source,
        |    lpad(CAST(doc_id AS VARCHAR), 15, '4') AS base15
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, text, source, base15,
        |    CAST((10 - list_sum(list_transform(range(1, 16), i ->
        |      CASE WHEN (16 - i) % 2 = 1 THEN
        |        CASE WHEN 2 * CAST(substr(base15, i, 1) AS INTEGER) > 9
        |          THEN 2 * CAST(substr(base15, i, 1) AS INTEGER) - 9
        |          ELSE 2 * CAST(substr(base15, i, 1) AS INTEGER) END
        |      ELSE CAST(substr(base15, i, 1) AS INTEGER) END)) % 10) % 10
        |      AS INTEGER) AS chk
        |  FROM b
        |), blob AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source
        |      || '.example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
        |      || CAST(doc_id % 100 AS VARCHAR)
        |      || ' card ' || base15 || CAST(chk AS VARCHAR)
        |      || ' alt ' || base15 || CAST((chk + 5) % 10 AS VARCHAR) AS s
        |  FROM c
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(s, '\b555-[0-9]{4}\b')) AS INTEGER) AS n_phones,
        |  CAST(len(regexp_extract_all(s, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INTEGER) AS n_ipv4,
        |  CAST(len(regexp_extract_all(s, '\b[0-9]{16}\b')) AS INTEGER) AS n_cards,
        |  CAST(len(list_filter(regexp_extract_all(s, '\b[0-9]{16}\b'), cd ->
        |    list_sum(list_transform(range(1, 17), i ->
        |      CASE WHEN (17 - i) % 2 = 0 THEN
        |        CASE WHEN 2 * CAST(substr(cd, i, 1) AS INTEGER) > 9
        |          THEN 2 * CAST(substr(cd, i, 1) AS INTEGER) - 9
        |          ELSE 2 * CAST(substr(cd, i, 1) AS INTEGER) END
        |      ELSE CAST(substr(cd, i, 1) AS INTEGER) END)) % 10 = 0))
        |    AS INTEGER) AS n_luhn_valid,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b555-[0-9]{4}\b', '[PHONE]', 'g'),
        |    '\b[0-9]{16}\b', '[CARD]', 'g'),
        |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g')) AS masked_md5
        |FROM blob""".stripMargin,

    "text_quality_gate" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INTEGER) AS n_chars_m,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(list_filter(toks, tk -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], tk))) AS INTEGER) AS en,
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS INTEGER) AS n_punct,
        |    len(list_filter(toks, tk -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], tk))) AS de,
        |    len(list_filter(toks, tk -> list_contains(['el','la','de','y','es','un','una','que'], tk))) AS es,
        |    len(list_filter(toks, tk -> list_contains(['le','la','et','est','un','une','que','dans'], tk))) AS fr
        |  FROM t
        |), q AS (
        |  SELECT doc_id, n_tokens, en, de, es, fr,
        |    round(CAST(en AS DOUBLE) / n_tokens * 0.5
        |      + CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 0.3 ELSE 0.0 END
        |      + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_m < 0.1 THEN 0.2 ELSE 0.0 END,
        |      6) AS quality_score
        |  FROM m
        |)
        |SELECT doc_id, n_tokens, quality_score FROM q
        |WHERE quality_score >= 0.4 AND n_tokens BETWEEN 10 AND 2000
        |  AND greatest(en, de, es, fr) > 0
        |  AND en = greatest(en, de, es, fr)""".stripMargin,

    "text_lang_guess" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is','it'], tk))) AS en,
        |    len(list_filter(toks, tk -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], tk))) AS de,
        |    len(list_filter(toks, tk -> list_contains(['el','la','de','y','es','un','una','que'], tk))) AS es,
        |    len(list_filter(toks, tk -> list_contains(['le','la','et','est','un','une','que','dans'], tk))) AS fr
        |  FROM t
        |)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(en, de, es, fr) = 0 THEN 'unknown'
        |       WHEN en = greatest(en, de, es, fr) THEN 'en'
        |       WHEN de = greatest(en, de, es, fr) THEN 'de'
        |       WHEN es = greatest(en, de, es, fr) THEN 'es'
        |       ELSE 'fr' END AS lang_guess
        |FROM c""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_exact,
        |  md5(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS fp_norm
        |FROM documents""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,

    "dedup_jaccard_inverted" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id AS id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks
        |), sizes AS (
        |  SELECT id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(inter AS HUGEINT) * 1000000 + (sa.sz + sb.sz - inter))
        |       // (2 * (sa.sz + sb.sz - inter)) AS DOUBLE)
        |    / 1000000.0 + 0.0 AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.id = id_a
        |JOIN sizes sb ON sb.id = id_b
        |WHERE CAST((2 * CAST(inter AS HUGEINT) * 1000000 + (sa.sz + sb.sz - inter))
        |       // (2 * (sa.sz + sb.sz - inter)) AS DOUBLE)
        |    / 1000000.0 >= 0.8""".stripMargin,

    "dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id AS id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks
        |), sizes AS (
        |  SELECT id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id <> b.id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(inter AS HUGEINT) * 1000000 + sa.sz)
        |       // (2 * sa.sz) AS DOUBLE) / 1000000.0 + 0.0 AS containment
        |FROM inter JOIN sizes sa ON sa.id = id_a
        |WHERE CAST((2 * CAST(inter AS HUGEINT) * 1000000 + sa.sz)
        |       // (2 * sa.sz) AS DOUBLE) / 1000000.0 >= 0.5""".stripMargin,

    // the unrestricted containment oracle filtered to the odd-id batch
    "dedup_containment_batch" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id AS id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks
        |), sizes AS (
        |  SELECT id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id <> b.id
        |  WHERE a.id % 2 = 1
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(inter AS HUGEINT) * 1000000 + sa.sz)
        |       // (2 * sa.sz) AS DOUBLE) / 1000000.0 + 0.0 AS containment
        |FROM inter JOIN sizes sa ON sa.id = id_a
        |WHERE CAST((2 * CAST(inter AS HUGEINT) * 1000000 + sa.sz)
        |       // (2 * sa.sz) AS DOUBLE) / 1000000.0 >= 0.5""".stripMargin,

    // estimates read from the materialized aux (hash-dependent); exact
    // jaccard + error recomputed from text — validates the sketch
    // evaluation arithmetic engine-for-engine
    "dedup_lsh_tuning" -> lshTuningOracleSql,

    "dedup_minhash_est_error" ->
      s"""WITH p AS (SELECT id_a, id_b, est_jaccard
        |  FROM read_parquet('${OracleAux.sqlDir("mh_est")}/*.parquet')),
        |d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents),
        |sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct([array_to_string(toks[i:i+2], ' ')
        |                     for i in range(1, len(toks) - 1)])
        |    ELSE [array_to_string(toks, ' ')] END AS s
        |  FROM d),
        |e AS (
        |  SELECT p.id_a, p.id_b, p.est_jaccard,
        |    -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |    CAST((2 * CAST(len(list_intersect(a.s, b.s)) AS HUGEINT) * 1000000
        |          + len(list_distinct(a.s || b.s)))
        |         // (2 * len(list_distinct(a.s || b.s))) AS DOUBLE)
        |      / 1000000.0 + 0.0 AS exact_jaccard
        |  FROM p JOIN sh a ON a.doc_id = p.id_a
        |         JOIN sh b ON b.doc_id = p.id_b)
        |SELECT id_a, id_b, est_jaccard, exact_jaccard,
        |  round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
        |FROM e""".stripMargin,

    // sketch estimates read from the materialized aux (hash-dependent);
    // exact containment + error recomputed from text — the screen's
    // bounded-error claim as an engine-for-engine-checked number
    "dedup_containment_sketch" ->
      s"""WITH p AS (SELECT id_a, id_b, est_containment
        |  FROM read_parquet('${OracleAux.sqlDir("cont_sketch")}/*.parquet')),
        |d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents),
        |sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct([array_to_string(toks[i:i+2], ' ')
        |                     for i in range(1, len(toks) - 1)])
        |    ELSE [array_to_string(toks, ' ')] END AS s
        |  FROM d),
        |e AS (
        |  SELECT p.id_a, p.id_b, p.est_containment,
        |    -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |    CAST((2 * CAST(len(list_intersect(a.s, b.s)) AS HUGEINT) * 1000000
        |          + len(a.s)) // (2 * len(a.s)) AS DOUBLE)
        |      / 1000000.0 + 0.0 AS exact_containment
        |  FROM p JOIN sh a ON a.doc_id = p.id_a
        |         JOIN sh b ON b.doc_id = p.id_b)
        |SELECT id_a, id_b, est_containment, exact_containment,
        |  round(abs(est_containment - exact_containment), 6) AS abs_err
        |FROM e""".stripMargin,

    // scoring re-derived from the materialized micro-unit model: same
    // md5 bucket, integer weight sum (order-free), same sigmoid + 6dp
    "text_quality_classifier" ->
      s"""WITH wts AS (SELECT bucket, w_micro
        |  FROM read_parquet('${OracleAux.sqlDir("quality_lr")}/*.parquet')),
        |bias AS (SELECT w_micro / 1e9 AS b FROM wts WHERE bucket = -1),
        |t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM t),
        |j AS (
        |  SELECT x.doc_id, x.n, w.w_micro
        |  FROM x JOIN wts w ON w.bucket =
        |    CAST(CAST(('0x' || substr(md5(x.tok), 1, 8)) AS UBIGINT) % 256
        |      AS BIGINT)),
        |z AS (
        |  SELECT doc_id, any_value(n) AS n,
        |    CAST(sum(w_micro) AS BIGINT) AS sm
        |  FROM j GROUP BY doc_id),
        |p AS (
        |  SELECT doc_id,
        |    round(1.0 / (1.0 + exp(-((SELECT b FROM bias)
        |      + (sm / 1e9) / n))), 6) AS p_quality
        |  FROM z)
        |SELECT doc_id, p_quality, p_quality >= 0.5 AS keep FROM p""".stripMargin,

    // same per-doc scoring from the materialized micro-unit model,
    // label from lang, then the 9-threshold sweep with P/R/F1 computed
    // from the 6-dp-rounded components on both sides
    "text_quality_pr_curve" ->
      s"""WITH wts AS (SELECT bucket, w_micro
        |  FROM read_parquet('${OracleAux.sqlDir("quality_lr_pr")}/*.parquet')),
        |bias AS (SELECT w_micro / 1e9 AS b FROM wts WHERE bucket = -1),
        |t AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM t),
        |j AS (
        |  SELECT x.doc_id, x.n, w.w_micro
        |  FROM x JOIN wts w ON w.bucket =
        |    CAST(CAST(('0x' || substr(md5(x.tok), 1, 8)) AS UBIGINT) % 256
        |      AS BIGINT)),
        |z AS (
        |  SELECT doc_id, any_value(n) AS n,
        |    CAST(sum(w_micro) AS BIGINT) AS sm
        |  FROM j GROUP BY doc_id),
        |p AS (
        |  SELECT t.doc_id, t.y,
        |    round(1.0 / (1.0 + exp(-((SELECT b FROM bias)
        |      + (z.sm / 1e9) / z.n))), 6) AS p_quality
        |  FROM t JOIN z ON z.doc_id = t.doc_id),
        |grid AS (SELECT unnest(range(1, 10)) AS i),
        |c AS (
        |  SELECT i / 10.0 AS thr,
        |    CAST(sum(CASE WHEN p_quality >= i / 10.0 AND y = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN p_quality >= i / 10.0 AND y = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN p_quality < i / 10.0 AND y = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN p_quality < i / 10.0 AND y = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM p CROSS JOIN grid GROUP BY i),
        |pr AS (
        |  -- boundary-exact int/int round-6 micro integers
        |  SELECT thr, tp, fp, fn, tn,
        |    CASE WHEN tp + fp > 0
        |      THEN (2 * CAST(tp AS HUGEINT) * 1000000 + (tp + fp))
        |           // (2 * (tp + fp)) END AS zp,
        |    CASE WHEN tp + fn > 0
        |      THEN (2 * CAST(tp AS HUGEINT) * 1000000 + (tp + fn))
        |           // (2 * (tp + fn)) END AS zr
        |  FROM c)
        |SELECT thr, tp, fp, fn, tn,
        |  CAST(zp AS DOUBLE) / 1000000.0 + 0.0 AS "precision",
        |  CAST(zr AS DOUBLE) / 1000000.0 + 0.0 AS recall,
        |  -- f1 over the micro integers: one int/int rational
        |  CASE WHEN zp + zr > 0
        |    THEN CAST((2 * (2 * zp * zr) * 1000000 + (zp + zr) * 1000000)
        |              // (2 * (zp + zr) * 1000000) AS DOUBLE)
        |      / 1000000.0 + 0.0
        |  END AS f1
        |FROM pr""".stripMargin,

    // same ceil-segmented lines as text_line_dedup, distinct per
    // (source, line), pair counts via the same line-key self-join
    "text_source_overlap" ->
      """WITH t AS (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |l AS MATERIALIZED (SELECT DISTINCT source,
        |    array_to_string(list_slice(w, i*3 + 1, i*3 + 3), ' ') AS line
        |  FROM t, unnest(range(0, CAST(ceil(len(w)/3.0) AS BIGINT))) AS u(i)),
        |tot AS (SELECT source, count(*) AS n FROM l GROUP BY 1),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS n_shared
        |  FROM l a JOIN l b ON a.line = b.line AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(n_shared AS HUGEINT) * 1000000 + ta.n)
        |       // (2 * ta.n) AS DOUBLE) / 1000000.0 + 0.0 AS overlap_a,
        |  CAST((2 * CAST(n_shared AS HUGEINT) * 1000000 + tb.n)
        |       // (2 * tb.n) AS DOUBLE) / 1000000.0 + 0.0 AS overlap_b
        |FROM p JOIN tot ta ON ta.source = src_a
        |       JOIN tot tb ON tb.source = src_b""".stripMargin,

    // sketch estimates from the aux dump (hash-dependent); exact
    // shared-line counts re-derived with the same line CTE as
    // text_source_overlap, error materialized on both sides
    "corpus_overlap_sketch" ->
      s"""WITH est AS (SELECT * FROM
        |  read_parquet('${OracleAux.sqlDir("overlap_hll")}/*.parquet')),
        |t AS (
        |  SELECT source, string_split_regex(trim(text), '\\s+') AS w
        |  FROM documents),
        |l AS (SELECT DISTINCT source,
        |    array_to_string(list_slice(w, i*3 + 1, i*3 + 3), ' ') AS line
        |  FROM t, unnest(range(0, CAST(ceil(len(w)/3.0) AS BIGINT))) AS u(i)),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM l a JOIN l b ON a.line = b.line AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT e.src_a, e.src_b, e.est_a, e.est_b, e.est_union,
        |  e.est_shared,
        |  COALESCE(p.n_shared, CAST(0 AS BIGINT)) AS n_shared,
        |  CAST(abs(e.est_shared - COALESCE(p.n_shared, CAST(0 AS BIGINT)))
        |    AS BIGINT) AS abs_err
        |FROM est e LEFT JOIN p
        |  ON p.src_a = e.src_a AND p.src_b = e.src_b""".stripMargin,

    // estimates from the aux dump (seeded-hash-dependent); exact
    // top-20 counts re-derived with the text_vocab_topk CTE
    "corpus_heavyhitters_cms" ->
      s"""WITH est AS (SELECT * FROM
        |  read_parquet('${OracleAux.sqlDir("cms_est")}/*.parquet')),
        |v AS (
        |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term, COUNT(*) AS cnt FROM v GROUP BY term),
        |top AS (
        |  SELECT term, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS INTEGER)
        |      AS rank
        |  FROM c ORDER BY cnt DESC, term ASC LIMIT 20)
        |SELECT t.term, t.rank, t.cnt, e.est_cnt,
        |  e.est_cnt - t.cnt AS overcount
        |FROM est e JOIN top t ON t.term = e.term""".stripMargin,

    "text_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks
        |), dfs AS (
        |  SELECT g, count(*) AS df FROM sh GROUP BY 1
        |)
        |SELECT doc_id,
        |  count(*) AS n_grams,
        |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |          * 1000000 + count(*))
        |       // (2 * count(*)) AS DOUBLE) / 1000000.0 + 0.0 AS novelty
        |FROM sh JOIN dfs USING (g)
        |GROUP BY doc_id""".stripMargin,

    "dedup_incremental_novel" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS fp_norm
        |  FROM documents
        |)
        |SELECT b.doc_id, b.fp_norm
        |FROM fp b WHERE b.doc_id % 10 = 7 AND NOT EXISTS (
        |  SELECT 1 FROM fp c WHERE c.doc_id % 10 <> 7 AND c.fp_norm = b.fp_norm)""".stripMargin,

    // same semantics as dedup_incremental_novel — the bucketed variant
    // changes the physical plan (where the exchange lands), not the result
    "dedup_incremental_bucketed" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS fp_norm
        |  FROM documents
        |)
        |SELECT b.doc_id, b.fp_norm
        |FROM fp b WHERE b.doc_id % 10 = 7 AND NOT EXISTS (
        |  SELECT 1 FROM fp c WHERE c.doc_id % 10 <> 7 AND c.fp_norm = b.fp_norm)""".stripMargin,

    // same md5 content fingerprints, same slice/mutation rules, same
    // status cascade over a full outer join
    "corpus_snapshot_diff" ->
      """WITH a AS (
        |  SELECT doc_id, md5(text) AS fp FROM documents
        |  WHERE doc_id % 7 <> 0),
        |b AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.fp IS NULL THEN 'added'
        |       WHEN b.fp IS NULL THEN 'removed'
        |       WHEN a.fp = b.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin,

    // same 32-token non-overlapping chunks as text_chunk_windows; the
    // unique (doc_id, chunk_id) order makes row_number()=1 identical to
    // the struct-min arg-min the Spark side computes
    "dedup_chunk_keep_first" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 32 THEN 1
        |         ELSE CAST(ceil((len(toks) - 32) / 32.0) AS INTEGER) + 1 END AS nc
        |  FROM t),
        |e AS (SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM c),
        |ch AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
        |    CAST(len(list_slice(toks, i*32 + 1, i*32 + 32)) AS INTEGER)
        |      AS n_chunk_tokens,
        |    md5(array_to_string(list_slice(toks, i*32 + 1, i*32 + 32), ' '))
        |      AS chunk_hash
        |  FROM e)
        |SELECT doc_id, chunk_id, n_chunk_tokens, chunk_hash,
        |  row_number() OVER (PARTITION BY chunk_hash
        |    ORDER BY doc_id, chunk_id) = 1 AS keep
        |FROM ch""".stripMargin,

    // the oracle IS the from-scratch rollup: a green row asserts the
    // state+batch merge is bit-equal to recomputing over all orders
    // (integer-cent sums are order- and merge-invariant)
    "agg_incremental_merge" ->
      """SELECT o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  count(*) AS n_orders,
        |  round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0, 2)
        |    AS total_price
        |FROM orders GROUP BY 1, 2""".stripMargin,

    // exact twin: valid as an oracle because 32-hash/16-band banding
    // puts the per-pair LSH miss probability at (1-j²)^16 — ≈1e-16 at
    // the planted j≈0.95 dups and still ≈2e-8 at the j≈0.82
    // cross-replica pairs a replicated fixture plants — LSH output ==
    // exact (the r13 sf1.0 sweep caught the old 16/8 banding missing
    // one j=0.818 pair at ≈1.3e-4 per-pair odds; 16 bands buys the
    // four decades of margin).
    // Inverted-index formulation (r13), not the a×b cross join: pairs
    // with jaccard ≥ 0.8 > 0 must share a shingle, and with distinct
    // shingle sets |a∪b| = |a|+|b|−|a∩b|, so an equi-join on shingle +
    // group-by-pair is result-identical (checked row-for-row against
    // the cross-join form at sf0.01 AND sf0.1) while scaling with
    // shared-shingle pairs instead of corpus² — the cross-join form was
    // ~44× slower at sf0.01 and infeasible at the sf1.0 sweep's 60k
    // docs (1.8e9 list_intersect evals, single-threaded in DuckDB).
    "dedup_minhash_lsh" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct([array_to_string(toks[i:i+2], ' ')
        |                     for i in range(1, len(toks) - 1)])
        |    ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM d
        |), post AS (
        |  SELECT doc_id AS id, unnest(sh) AS g FROM s
        |), sz AS (
        |  SELECT doc_id AS id, len(sh) AS n FROM s
        |), inter AS (
        |  SELECT x.id AS id_a, y.id AS id_b, count(*) AS c
        |  FROM post x JOIN post y ON x.g = y.g AND x.id < y.id
        |  GROUP BY 1, 2
        |)
        |SELECT i.id_a, i.id_b,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(i.c AS HUGEINT) * 1000000 + (sa.n + sb.n - i.c))
        |       // (2 * (sa.n + sb.n - i.c)) AS DOUBLE)
        |    / 1000000.0 + 0.0 AS jaccard
        |FROM inter i JOIN sz sa ON i.id_a = sa.id
        |  JOIN sz sb ON i.id_b = sb.id
        |WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.8""".stripMargin,

    // DuckDB's list_cosine_similarity over double-cast arrays reproduces
    // the zip_with/aggregate fold bit-for-bit (verified at sf0.01)
    "sim_topk_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
        |s AS (SELECT qid AS query_id, nid AS neighbor_id,
        |  list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS score
        |  FROM q, c WHERE qid != nid),
        |r AS (SELECT query_id, neighbor_id, score,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id ASC) AS rank FROM s)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
        |  round(score, 6) AS score
        |FROM r WHERE rank <= 10""".stripMargin,

    // hybrid RRF: the bm25 CTE chain (top 50) + the cosine ranking
    // same micro-unit moments; DuckDB's unnest-with-position struct
    // trick supplies (dim, v); zero-based dim matches posexplode
    "sim_embedding_standardize" ->
      """WITH x AS (
        |  SELECT vec_id, u.d AS dim,
        |    CAST(round(CAST(u.v AS DOUBLE) * 1e6) AS BIGINT) AS xm
        |  FROM (SELECT vec_id,
        |          unnest(list_transform(range(1, len(embedding) + 1),
        |            i -> {'d': i - 1, 'v': embedding[i]})) AS u
        |        FROM embeddings)),
        |s AS (
        |  -- HUGEINT, not BIGINT (r15 sf10 census): n·s2 at 200k
        |  -- vectors is ~6.3e20 — the same INT64 landmine the r14
        |  -- sweep caught in sim_dim_correlation's moments (the Spark
        |  -- side was already decimal(38,0)-exact)
        |  SELECT dim, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(xm) AS HUGEINT) AS s1,
        |    CAST(sum(CAST(xm AS HUGEINT) * xm) AS HUGEINT) AS s2
        |  FROM x GROUP BY 1),
        |v AS (SELECT *, n * s2 - s1 * s1 AS varnum FROM s)
        |SELECT x.vec_id, CAST(x.dim AS INTEGER) AS dim,
        |  CASE WHEN v.varnum > 0 THEN
        |    round(CAST(v.n * x.xm - v.s1 AS DOUBLE)
        |          / sqrt(CAST(v.varnum AS DOUBLE)), 4) + 0.0
        |  END AS z
        |FROM x JOIN v ON x.dim = v.dim""".stripMargin,

    "sim_power_iteration" -> powerIterOracleSql(8),

    // same moments via the pairwise self-join; rank under the same
    // (|r| desc, dims) total order
    "sim_dim_correlation" ->
      """WITH x AS MATERIALIZED (
        |  SELECT vec_id, u.d AS dim,
        |    CAST(round(CAST(u.v AS DOUBLE) * 1e6) AS BIGINT) AS xm
        |  FROM (SELECT vec_id,
        |          unnest(list_transform(range(1, len(embedding) + 1),
        |            i -> {'d': i - 1, 'v': embedding[i]})) AS u
        |        FROM embeddings)),
        |m AS (
        |  SELECT a.dim AS dim_a, b.dim AS dim_b,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(a.xm) AS HUGEINT) AS sx,
        |    CAST(sum(b.xm) AS HUGEINT) AS sy,
        |    CAST(sum(a.xm * a.xm) AS HUGEINT) AS sxx,
        |    CAST(sum(b.xm * b.xm) AS HUGEINT) AS syy,
        |    CAST(sum(a.xm * b.xm) AS HUGEINT) AS sxy
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim < b.dim
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT CAST(dim_a AS INTEGER) AS dim_a,
        |    CAST(dim_b AS INTEGER) AS dim_b,
        |    round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr
        |  FROM m
        |  WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0)
        |SELECT dim_a, dim_b, corr, CAST(rk AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (ORDER BY abs(corr) DESC,
        |        dim_a ASC, dim_b ASC) AS rk FROM s)
        |WHERE rk <= 30""".stripMargin,

    // same micro-unit centroids, per-row rounded distances, and
    // cleared-fraction centroid cosine
    "sim_label_separation" ->
      """WITH x AS (
        |  SELECT CAST(label AS INTEGER) AS label, vec_id, u.d AS dim,
        |    CAST(round(CAST(u.v AS DOUBLE) * 1e6) AS BIGINT) AS xm
        |  FROM (SELECT label, vec_id,
        |          unnest(list_transform(range(1, len(embedding) + 1),
        |            i -> {'d': i - 1, 'v': embedding[i]})) AS u
        |        FROM embeddings)),
        |cent AS (
        |  SELECT label, dim,
        |    CAST(round(CAST(sum(xm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
        |  FROM x GROUP BY 1, 2),
        |wd AS (
        |  SELECT x.label, x.vec_id,
        |    CAST(round(sqrt(CAST(sum((x.xm - c.cm) * (x.xm - c.cm))
        |      AS DOUBLE))) AS BIGINT) AS dist
        |  FROM x JOIN cent c ON x.label = c.label AND x.dim = c.dim
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |    CAST(round(CAST(sum(dist) AS DOUBLE) / count(*)) AS BIGINT)
        |      AS mean_within_micro
        |  FROM wd GROUP BY 1),
        |p AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    CAST(sum(a.cm * b.cm) AS BIGINT) AS dot,
        |    CAST(sum(a.cm * a.cm) AS BIGINT) AS na2,
        |    CAST(sum(b.cm * b.cm) AS BIGINT) AS nb2
        |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT p.label_a, p.label_b,
        |  round(CAST(p.dot AS DOUBLE)
        |    / (sqrt(CAST(p.na2 AS DOUBLE)) * sqrt(CAST(p.nb2 AS DOUBLE))), 6)
        |    AS centroid_cosine,
        |  wa.mean_within_micro AS within_a_micro,
        |  wb.mean_within_micro AS within_b_micro
        |FROM p JOIN w wa ON p.label_a = wa.label
        |       JOIN w wb ON p.label_b = wb.label""".stripMargin,

    // (query vec_id 0, top 50), fused via integer micro-unit
    // round(1e6/(60+rank)) contributions — rank-only fusion, so both
    // engines agree exactly
    "sim_hybrid_rrf" ->
      """WITH dl AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS dl
        |  FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
        |  WHERE term IN ('spark', 'join', 'window', 'vector') GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |cm AS (
        |  SELECT tf.doc_id,
        |    CAST(round(ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) * tf.tf
        |      * 2.2 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))
        |      * 1e6) AS BIGINT) AS c
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
        |g AS (SELECT doc_id, sum(c) AS bm FROM cm GROUP BY doc_id),
        |lex AS (SELECT doc_id, rank FROM (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY bm DESC, doc_id ASC) AS rank
        |  FROM g) WHERE rank <= 50),
        |dq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |ds AS (
        |  SELECT e.vec_id AS doc_id,
        |    list_cosine_similarity(CAST(dq.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS score
        |  FROM embeddings e, dq WHERE e.vec_id <> 0),
        |dense AS (SELECT doc_id, rank FROM (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM ds) WHERE rank <= 50),
        |u AS (
        |  SELECT doc_id, CAST(round(1e6 / (60 + rank)) AS BIGINT) AS c FROM lex
        |  UNION ALL
        |  SELECT doc_id, CAST(round(1e6 / (60 + rank)) AS BIGINT) AS c FROM dense),
        |f AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_lists,
        |  CAST(sum(c) AS BIGINT) AS rrf_micro FROM u GROUP BY 1)
        |SELECT doc_id, n_lists, rrf_micro, CAST(rank AS INTEGER) AS rank
        |FROM (
        |  SELECT doc_id, n_lists, rrf_micro,
        |    row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS rank
        |  FROM f) WHERE rank <= 20""".stripMargin,

    // cosines rounded to 6 dp BEFORE the positive/negative split and
    // the ranking — same discipline as the Spark side
    "sim_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
        |s AS (SELECT qid AS query_id, nid AS neighbor_id,
        |  round(list_cosine_similarity(CAST(qv AS DOUBLE[]),
        |    CAST(cv AS DOUBLE[])), 6) AS score
        |  FROM q, c WHERE qid != nid),
        |p AS (SELECT *, MAX(CASE WHEN score >= 0.35 THEN score END)
        |    OVER (PARTITION BY query_id) AS pos_max FROM s),
        |n AS (SELECT query_id, neighbor_id, score, pos_max,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id ASC) AS rank
        |  FROM p WHERE score < 0.35)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
        |  score, round(pos_max - score, 6) AS margin_to_pos
        |FROM n WHERE rank <= 10""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 200
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct([array_to_string(toks[i:i+2], ' ')
        |                     for i in range(1, len(toks) - 1)])
        |    ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM d
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CAST((2 * CAST(len(list_intersect(a.sh, b.sh)) AS HUGEINT) * 1000000
        |        + len(list_distinct(a.sh || b.sh)))
        |       // (2 * len(list_distinct(a.sh || b.sh))) AS DOUBLE)
        |    / 1000000.0 + 0.0 AS jaccard
        |FROM s a, s b
        |WHERE a.doc_id < b.doc_id
        |  AND CAST((2 * CAST(len(list_intersect(a.sh, b.sh)) AS HUGEINT) * 1000000
        |        + len(list_distinct(a.sh || b.sh)))
        |       // (2 * len(list_distinct(a.sh || b.sh))) AS DOUBLE)
        |    / 1000000.0 >= 0.8""".stripMargin,

    "multimodal_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  CAST(greatest(1, CAST(ceil(strlen(text) / 16.0) AS BIGINT)) * 16
        |    AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,

    // checksum = md5 over the payload's UPPERCASE-hex encoding (the
    // hex chain reconstructed here, uppercased to match Spark's hex());
    // the stub features are an L1-normalized histogram over the raw
    // bytes, so their sum rounds to exactly 1.0
    "multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    greatest(1, CAST(ceil(strlen(text) / 16.0) AS BIGINT)) AS nb,
        |    array_to_string(list_transform(
        |      range(0, greatest(1, CAST(ceil(strlen(text) / 16.0) AS BIGINT))),
        |      i -> md5(text || ':' || CAST(i AS VARCHAR))), '') AS hx
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  CAST(nb * 16 AS BIGINT) AS n_bytes,
        |  md5(upper(hx)) AS checksum,
        |  CAST(1.0 AS DOUBLE) AS feature_l1
        |FROM m""".stripMargin
  )
}
