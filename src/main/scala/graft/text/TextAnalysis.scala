package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines (north-star
  * extension — BASELINE.json; not present in the reference, which has no
  * string processing at all beyond formatting, SURVEY.md §2.8).
  *
  * Everything here is built from `org.apache.spark.sql.functions`
  * higher-order functions (`transform`/`filter`/`aggregate`) — fully
  * codegen'd Projects over the scan, no UDFs, no shuffles. At 100 TB
  * these run as an embarrassingly parallel pass; the only care needed is
  * that `split` on pathological documents can produce huge arrays, which
  * stay inside one row (no skew amplification).
  */
object TextAnalysis {

  /** Whitespace tokenizer — the shared definition every operator (and
    * every DuckDB oracle twin) uses: trim, then split on runs of
    * whitespace.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish pre-tokenizer (GPT-2-style, ASCII-simplified): letter runs,
    * digit runs, and single other non-space chars each become one
    * pre-token. The alternation is engine-portable (identical semantics
    * in Java regex and RE2, so the DuckDB oracle matches bit-for-bit).
    */
  val BpeTokenRegex: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenRegex), lit(0)))

  /** Tiny per-language stopword lists for the heuristic language ID.
    * Deterministic and small enough to inline as array literals.
    */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu")
  val StopwordsEs: Seq[String] = Seq("el", "la", "de", "y", "es", "un", "una", "que")
  val StopwordsFr: Seq[String] = Seq("le", "la", "et", "est", "un", "une", "que", "dans")

  private def litArray(ws: Seq[String]): Column = array(ws.map(lit): _*)

  /** Count of tokens present in `stopwords`. */
  def stopwordCount(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => array_contains(litArray(stopwords), t)))

  /** Punctuation characters in the text (ASCII punct class — the same
    * class DuckDB's `[[:punct:]]` matches).
    */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "\\p{Punct}", ""))

  /** Quality-score battery per document. The score is a deterministic
    * arithmetic combination of length/stopword/punctuation signals; the
    * oracle twin writes the identical expression tree so IEEE evaluation
    * matches bitwise.
    */
  def qualityStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.withColumn("n_chars_m", length(t))
      .withColumn("n_tokens", size(toks))
      .withColumn("n_stopwords", stopwordCount(toks, StopwordsEn))
      .withColumn("n_punct", punctCount(t))
      .withColumn("avg_token_len",
        (length(t) - (size(toks) - lit(1))).cast("double") / size(toks))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        round(col("stopword_ratio") * lit(0.5)
          + when(col("n_tokens") >= 10 && col("n_tokens") <= 1000, lit(0.3)).otherwise(lit(0.0))
          + when(col("n_punct").cast("double") / col("n_chars_m") < 0.1, lit(0.2)).otherwise(lit(0.0)),
          6))
  }

  /** Gopher-style quality-rule battery (Rae et al. 2021 §A1.1 — the
    * published filter set most LLM-data pipelines start from), the
    * document-level rules whose signals this corpus carries, with
    * thresholds scaled to the harness documents:
    *  - token count within [10, 2000] (paper: [50, 100k] words);
    *  - mean token length within [3, 10] characters;
    *  - symbol-to-token ratio (`#` and `...` occurrences per token)
    *    at most 0.1;
    *  - at least 80% of tokens contain an alphabetic character;
    *  - at least 2 distinct stopwords present (paper's "hard stop
    *    word" rule).
    * Emits each raw signal plus the conjunction `gopher_pass` (int
    * 0/1), so downstream can re-threshold without recomputing.
    *
    * Scale shape: map-only column expressions over the scan — no
    * shuffle, no UDF; the integer character counts and list ops are the
    * same arithmetic DuckDB evaluates, so the oracle matches bitwise.
    *
    * `keep` carries extra input columns through unchanged, so a composed
    * pipeline (see `pipeline_curation_e2e`) can gate and keep routing
    * metadata in the same map-only pass instead of re-joining on the id.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  keep: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val n = size(toks)
    val sumLen = aggregate(toks, lit(0L), (acc, tk) => acc + length(tk))
    val nHash = length(t) - length(translate(t, "#", ""))
    val nEllipsis = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val nAlpha = size(filter(toks, tk => tk.rlike("[A-Za-z]")))
    val stopHits = StopwordsEn.map(w => array_contains(toks, w).cast("int"))
      .reduce(_ + _)
    df.select(col(idCol) +: keep.map(col) ++: Seq(
        n.as("n_tokens"),
        // int/int ratios: boundary-exact round-6 (r16 sweep); the
        // downstream thresholds are exact micro-multiples, so the
        // conjunction is decided identically on both engines
        exactRound6Ratio(sumLen, n.cast("long")).as("mean_tok_len"),
        exactRound6Ratio((nHash + nEllipsis).cast("long"), n.cast("long"))
          .as("symbol_ratio"),
        exactRound6Ratio(nAlpha.cast("long"), n.cast("long"))
          .as("alpha_frac"),
        stopHits.as("n_stop_hits")): _*)
      .withColumn("gopher_pass",
        (col("n_tokens").between(10, 2000) &&
          col("mean_tok_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("alpha_frac") >= 0.8 &&
          col("n_stop_hits") >= 2).cast("int"))
  }

  /** Heuristic language ID: score = stopword hits per language list,
    * argmax with a fixed tie-break order (en > de > es > fr > unknown).
    * Deterministic, SQL-expressible, and honest about its nature — real
    * language ID would use char-n-gram profiles; the *pipeline shape*
    * (pure column expressions, no shuffle) is identical.
    */
  def langGuess(text: Column): Column = {
    val toks = tokens(text)
    val en = stopwordCount(toks, StopwordsEn)
    val de = stopwordCount(toks, StopwordsDe)
    val es = stopwordCount(toks, StopwordsEs)
    val fr = stopwordCount(toks, StopwordsFr)
    val m = greatest(en, de, es, fr)
    when(m === 0, lit("unknown"))
      .when(en === m, lit("en"))
      .when(de === m, lit("de"))
      .when(es === m, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Document fingerprint: md5 of the raw text (cheap exact-dup key) +
    * md5 of the normalized token stream (whitespace-insensitive dup key).
    */
  def fingerprints(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("fp_exact", md5(t.cast("binary")))
      .withColumn("fp_norm", md5(concat_ws(" ", tokens(t)).cast("binary")))
  }

  /** Space-joined token n-grams, every occurrence kept (positions
    * 1..len-n+1), as one codegen'd loop
    * ([[graft.functions.VectorExprs.TokenNGrams]] — the HOF spelling is
    * CodegenFallback). Callers should still pre-filter
    * `size(toks) >= n` to skip degenerate documents.
    */
  def ngrams(toks: Column, n: Int): Column =
    graft.functions.VectorExprs.token_ngrams(toks, n)

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1: repetitive
    * documents are boilerplate/generator output and get filtered before
    * training). Token-level variants of the paper's line-based rules
    * (this corpus is single-line):
    *  - `top_bigram_frac` — share of bigram occurrences taken by the
    *    single most frequent bigram;
    *  - `dup_trigram_frac` — share of trigram occurrences that are
    *    repeats (1 − distinct/total).
    * Scale shape: two explode → groupBy(doc, gram) → groupBy(doc)
    * passes; grams never leave their document key, so the shuffle is
    * per-doc bounded and partial (map-side) aggregation soaks up the
    * within-doc repetition this operator exists to measure.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= 3)
    def gramCounts(n: Int): DataFrame = toks
      .select(col(idCol), explode(ngrams(col("__t"), n)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__n"))
    val bi = gramCounts(2).groupBy(col(idCol))
      .agg(max(col("__n")).as("top_bigram_n"), sum(col("__n")).as("n_bigrams"))
    val tri = gramCounts(3).groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_trigrams"),
        count(lit(1)).as("n_distinct_trigrams"))
    bi.join(tri, idCol)
      .select(col(idCol), col("n_bigrams"), col("top_bigram_n"),
        // int/int ratios: boundary-exact round-6 (r16 sweep);
        // 1 − d/t is spelled as the single rational (t−d)/t
        exactRound6Ratio(col("top_bigram_n"), col("n_bigrams"))
          .as("top_bigram_frac"),
        col("n_trigrams"),
        exactRound6Ratio(col("n_trigrams") - col("n_distinct_trigrams"),
          col("n_trigrams")).as("dup_trigram_frac"))
  }

  /** Train/eval decontamination: flag every training document sharing
    * at least one `n`-token gram with the eval set — the overlap filter
    * every serious pretraining corpus runs (e.g. GPT-3 appendix C;
    * 8-13 token grams are the standard window). Returns
    * (id, n_shared_grams) for contaminated docs only.
    *
    * Scale shape: eval suites are millions of tokens, corpora are
    * 100 TB — so the eval gram set broadcasts and the corpus side is a
    * map-only explode + broadcast-hash semi-join + per-doc count; the
    * corpus is never shuffled. For an eval set too big to broadcast,
    * the join runs as a shuffle join, and Spark's runtime Bloom filter
    * (InjectRuntimeFilter) prunes the corpus side before the shuffle —
    * same pair semantics, sketch-bounded traffic.
    */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= n)
      .select(col(idCol),
        explode(array_distinct(ngrams(col("__t"), n))).as("__g"))
    val evalGrams = grams(eval).select(col("__g")).distinct()
    grams(train).join(broadcast(evalGrams), "__g")
      .groupBy(col(idCol))
      .agg(countDistinct(col("__g")).as("n_shared_grams"))
  }

  /** Fuzzy (near-duplicate) decontamination — the paraphrase-robust
    * sibling of [[contamination]]: exact n-gram overlap misses an eval
    * item lightly rewritten into the training set (one word changed per
    * window kills every long gram), while shingle-set JACCARD against
    * each eval item degrades gracefully — threshold ~0.5 means "half
    * the shingles survived the edit". Returns
    * (id, n_eval_matches, max_jaccard) for training docs scoring
    * `>= threshold` against at least one eval doc.
    *
    * Scale/exactness shape: eval suites are tiny vs a 100 TB corpus, so
    * this asymmetric join needs no LSH — the eval POSTING list
    * (shingle → eval id + eval set size) broadcasts; the corpus side is
    * a map-only explode carrying its true set size; the broadcast join
    * emits one row per shared (train, eval, shingle); and ONE partial-
    * aggregable groupBy counts the intersection per pair, giving
    * `J = |∩| / (|a| + |b| − |∩|)` with no array re-join and no corpus
    * shuffle before the candidate-bounded aggregation. Recall is
    * COMPLETE (any J > 0 pair shares a shingle) — MinHash banding
    * exists to avoid an n² SELF-join and would pay probabilistic recall
    * for nothing here. For an eval set too big to broadcast, the same
    * plan runs as a shuffle join, its corpus side pruned by Spark's
    * runtime Bloom filter.
    */
  def contaminationFuzzy(train: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, shingleSize: Int = 3,
                         threshold: Double = 0.5): DataFrame = {
    def sh(df: DataFrame): DataFrame = df.select(col(idCol),
      graft.dedup.Dedup.shingles(tokens(col(textCol)), shingleSize).as("__sh"))
    val evalPost = sh(eval).select(col(idCol).as("__eval_id"),
      size(col("__sh")).as("__lb"), explode(col("__sh")).as("__g"))
    val trainPost = sh(train).select(col(idCol),
      size(col("__sh")).as("__la"), explode(col("__sh")).as("__g"))
    val inter = trainPost.join(broadcast(evalPost), "__g")
      .groupBy(col(idCol), col("__eval_id"), col("__la"), col("__lb"))
      .agg(count(lit(1)).as("__inter"))
    // round BEFORE the threshold, like the set-similarity join — an
    // ulp-level division difference can't flip an at-threshold pair;
    // boundary-exact integer rounding (int/int ratio, r16 sweep)
    val j = exactRound6Ratio(col("__inter"),
      col("__la") + col("__lb") - col("__inter"))
    inter.select(col(idCol), j.as("__j"))
      .where(col("__j") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_eval_matches"), max(col("__j")).as("max_jaccard"))
  }

  /** `round(num / den, 6)` with the half-boundary decided in INTEGER
    * arithmetic — the money-sum spelling rule extended to ratios (r15
    * sf10 census finding): when the exact rational `num/den` lands ON a
    * .5×10⁻⁶ boundary (synthetic corpora hit this constantly — 1200 of
    * 500k docs in `text_unigram_logprob` at sf10: Σlp6/n = −8.1421415
    * EXACTLY), Spark's `round(double, 6)` (BigDecimal HALF_UP on the
    * shortest decimal form) and DuckDB's (multiply-round-divide through
    * doubles) legitimately disagree on the same double. Spelling:
    * z₆ = sign(num) · ((2·|num|·10⁶ + den) div (2·den)), emitted as the
    * single double `z₆ / 10⁶` — round-half-away-from-zero computed
    * exactly, no boundary left to the engines' float formatting. Both
    * operands promote to decimal(38,0), so |num| up to ~10³⁰ is safe.
    * The DuckDB twin is the same formula over HUGEINT (`//`).
    * `den` must be positive (counts).
    */
  def exactRound6Ratio(num: Column, den: Column): Column = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val a = abs(num).cast(d38)
    val b = den.cast(d38)
    val zdiv = bridgeDiv(a * lit(2000000L) + b, b * lit(2L))
    // `+ 0.0` normalizes IEEE -0.0 → +0.0 (num<0 with |quotient|=0 would
    // otherwise emit -0.0 while every DuckDB twin spells `... + 0.0`;
    // check.py compares float bits, so the signed zero alone would flag)
    signum(num.cast("double")) * zdiv.cast("double") / lit(1e6) + lit(0.0)
  }

  /** Integral `div` on decimal columns (Spark's SQL `div` operator —
    * exact floor-toward-zero on non-negative operands). */
  private def bridgeDiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    org.apache.spark.sql.graft.bridge.column(IntegralDivide(
      org.apache.spark.sql.graft.bridge.expression(a),
      org.apache.spark.sql.graft.bridge.expression(b)))
  }

  /** Unigram language-model quality score (the CCNet/RedPajama-style
    * "LM perplexity" filter, reduced to its order-0 form): train a
    * unigram model ON the corpus (token → count / total), then score
    * every document by its mean token log-probability. Rare-token-heavy
    * docs (OCR noise, codes, lorem) score low; filtering is a
    * downstream threshold on `avg_logprob`.
    *
    * Scale shape: the model is vocabulary-sized (≪ corpus) — counts are
    * one hash agg, the normalizing total folds in-plan as a broadcast
    * 1-row aggregate (no driver collect), and scoring re-joins the
    * model to the exploded corpus via broadcast, so the corpus never
    * shuffles. FP discipline: per-token log-probs round to integer
    * micro-nats and sum as DECIMAL — order-insensitive, so the score is
    * identical under any partitioning (and to the DuckDB oracle); ONE
    * double division at the end.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // corpus token total folded IN-PLAN as a broadcast 1-row aggregate
    // (same shape as the trigram LM's N/V) — no driver-side collect, so
    // model build + scoring is one job at 100 TB
    val total = vocab.agg(sum(col("cnt")).cast("double").as("n_total"))
    val model = vocab.crossJoin(broadcast(total)).select(col("tok"),
      round(log(col("cnt") / col("n_total")) * 1e6, 0)
        .cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("lp6"))
    toks.join(broadcast(model), "tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        // Σlp6/n through [[exactRound6Ratio]]: micro-nats are already
        // integers, so round(Σ/(1e6·n), 6) = rhau(Σ/n) micro-units —
        // the r15 sf10 boundary finding (1200/500k docs flipped)
        exactRound6Ratio(sum(col("lp6")), lit(1000000L) * count(lit(1)))
          .as("avg_logprob"))
  }

  /** Bigram language-model quality score — [[unigramLogProb]] raised to
    * order 1 (one step toward CCNet's 5-gram KenLM): p(w_i | w_{i-1})
    * with add-1 smoothing over the corpus vocabulary,
    * `(c(w_{i-1} w_i) + 1) / (c(w_{i-1}·) + V)`, scored as the mean
    * log-probability over a doc's bigram positions. Catches
    * wrong-order/shuffled text that a unigram model scores as fluent.
    *
    * Same scale shape and FP discipline as the unigram: the model is
    * bigram-vocabulary-sized (≪ corpus), V folds in-plan as a broadcast
    * 1-row aggregate, per-bigram log-probs round to integer micro-nats and sum
    * as DECIMAL — partition-order-invariant and engine-portable; one
    * double division at the end. Bigrams come from the codegen'd
    * stride-1 [[graft.functions.VectorExprs.TokenNGrams]] at n=2.
    * Docs with fewer than two tokens have no bigram positions and are
    * absent from the output (same on both engines).
    *
    * Broadcast caveat: bigram vocabularies grow faster than unigram
    * (Heaps' law squared-ish); the broadcast holds while the model fits
    * an executor (harness corpora, and most natural-language corpora
    * after min-count pruning). Past that, drop the broadcast hint —
    * the scoring join's key (bigram) is the model's own group-by key,
    * so the sort-merge fallback reuses the model-side exchange.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.VectorExprs.token_ngrams
    val bg = df.select(col(idCol),
        explode(token_ngrams(tokens(col(textCol)), 2)).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    // vocabulary size folded IN-PLAN as a broadcast 1-row aggregate
    // (same shape as the trigram LM's N/V) — no driver-side collect
    val vocabSize = df
      .select(explode(tokens(col(textCol))).as("tok"))
      .agg(countDistinct(col("tok")).as("vsz"))
    val cb = bg.groupBy(col("w1"), col("bigram")).agg(count(lit(1)).as("cb"))
    val ctx = cb.groupBy(col("w1")).agg(sum(col("cb")).as("ctx"))
    val model = cb.join(ctx, "w1").crossJoin(broadcast(vocabSize))
      .select(col("bigram"),
        round(log((col("cb") + 1) / (col("ctx") + col("vsz"))) * 1e6, 0)
          .cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("lp6"))
    bg.join(broadcast(model), "bigram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        // boundary-exact avg (see [[exactRound6Ratio]])
        exactRound6Ratio(sum(col("lp6")), lit(1000000L) * count(lit(1)))
          .as("avg_logprob"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): label every
    * scored document `head` / `middle` / `tail` by where its LM score
    * falls against tercile cutoffs — CCNet keeps `head`+`middle` and
    * drops `tail` as likely boilerplate/noise. Cutoffs are learned on a
    * deterministic sample (`idCol % sampleMod == 0`) exactly as CCNet
    * fits its cutoffs offline on a language sample, then broadcast, so
    * labeling the full corpus is a map-only comparison — the exact
    * percentile never runs over the 100 TB corpus, only over the
    * bounded sample. Both the sample scores and the cutoffs are rounded
    * to 6 dp before the comparison, so a sub-ulp interpolation
    * difference between engines cannot flip a boundary document.
    *
    * `scores` is any (id, score) frame — compose with [[bigramLogProb]]
    * or [[stupidBackoffLogScore]]; callers persist it when the lineage
    * is expensive, since cutoff fit + labeling traverse it twice.
    */
  def pplBuckets(scores: DataFrame, idCol: String, scoreCol: String,
                 sampleMod: Int = 5): DataFrame = {
    val cuts = scores.where(col(idCol) % sampleMod === 0)
      .agg(round(expr(s"percentile($scoreCol, 1.0/3)"), 6).as("__c_tail"),
        round(expr(s"percentile($scoreCol, 2.0/3)"), 6).as("__c_mid"))
    scores.crossJoin(broadcast(cuts))
      .select(col(idCol), col(scoreCol),
        when(col(scoreCol) <= col("__c_tail"), lit("tail"))
          .when(col(scoreCol) <= col("__c_mid"), lit("middle"))
          .otherwise(lit("head")).as("ppl_bucket"))
  }

  /** Held-out trigram LM with stupid backoff (Brants et al. 2007, the
    * web-scale scoring CCNet approximates with KenLM): train trigram /
    * bigram / unigram counts on the `isTrain` slice, score every
    * held-out document's trigram positions with
    * `s(w3|w1w2) = c(w1w2w3)/c(w1w2·)` when the trigram was seen in
    * training, backing off to `α·c(w2w3)/c(w2·)`, then to the add-1
    * unigram floor `α²·(c(w3)+1)/(N+V)` — unlike the corpus-trained
    * [[bigramLogProb]], the train/score split makes backoff REAL
    * (held-out n-grams genuinely miss), which is the production shape:
    * score crawl text with a model trained on a trusted slice.
    *
    * Scale shape: three model tables (trigram / bigram / unigram
    * counts + their context totals), each n-gram-vocabulary-sized and
    * broadcast-joined to the scored positions on the n-gram key — the
    * scored corpus never shuffles on a text key; N and V fold IN-PLAN
    * as a broadcast 1-row aggregate (no driver count). Past
    * executor-sized vocabularies the broadcast hints DROP — decided by
    * `maxBroadcastModelRows` against 3× the train-slice token count:
    * tokens bound distinct n-grams PER model order (distinct n-grams
    * ≤ n-gram positions ≤ train tokens), but uni+bi+tri broadcast
    * together, so the gate is `3·tokens ≤ maxBroadcastModelRows` —
    * an honest token count can never admit more than the nominal row
    * budget ACROSS the three model tables. The count is measured by
    * one cheap map-side scan+1-row collect before planning. Each join
    * key is its model's own group-by key, so the sort-merge fallback
    * reuses the model-side exchange. The default threshold (5×10⁷
    * total model rows ≈ broadcasts up to ~1.7×10⁷ train tokens ≈
    * low-GB) keeps the map-only scoring path for trusted-slice-sized
    * models; a 100 TB-vocabulary model takes the shuffle join instead
    * of OOMing the driver.
    * FP discipline as [[unigramLogProb]]:
    * per-position log-scores in integer micro-nats, DECIMAL sums, one
    * double division at the end. Held-out docs with fewer than three
    * tokens have no trigram positions and are absent from the output.
    */
  def stupidBackoffLogScore(df: DataFrame, idCol: String, textCol: String,
                            isTrain: Column,
                            alpha: Double = 0.4,
                            maxBroadcastModelRows: Long = 50000000L,
                            trainTokensHint: Option[Long] = None): DataFrame = {
    import graft.functions.VectorExprs.token_ngrams
    val base = df.select(col(idCol), isTrain.as("__train"),
      tokens(col(textCol)).as("__t"))
    // broadcast-or-shuffle decision. NOTE this is EAGER: with no hint,
    // ONE bounded 1-row collect over the train slice (map-side sum of
    // token counts, no text-key shuffle) runs at plan-CONSTRUCTION
    // time — a deliberate trade (the join strategy must be fixed before
    // the plan exists). Repeat callers who already know their train
    // slice's token count — a corpus manifest, a prior run — pass
    // `trainTokensHint` (an honest upper bound on tokens works) and
    // skip the sizing scan entirely. The hint feeds the SAME gate as
    // the measured count.
    val trainTokens: Long = trainTokensHint.getOrElse(
      base.where(col("__train"))
        .agg(coalesce(sum(size(col("__t"))), lit(0L)).as("n")).head.getLong(0))
    // Gate on 3× the token count (overflow-safe as tokens ≤ budget/3):
    // tokens bound model rows PER order, but uni+bi+tri broadcast
    // together, so an ungated token count at exactly the threshold
    // could admit ~3× the nominal row budget across the three tables.
    val hint: DataFrame => DataFrame =
      if (trainTokens <= maxBroadcastModelRows / 3) broadcast(_) else identity
    def positions(n: Int, train: Boolean) = base
      .where(if (train) col("__train") else !col("__train"))
      .select(col(idCol), explode(token_ngrams(col("__t"), n)).as("ng"))
    val triTrain = positions(3, train = true)
      .withColumn("w12", substring_index(col("ng"), " ", 2))
    val biTrain = positions(2, train = true)
      .withColumn("w1", substring_index(col("ng"), " ", 1))
    val uniTrain = base.where(col("__train"))
      .select(explode(col("__t")).as("tok"))
    val tri = triTrain.groupBy(col("ng")).agg(count(lit(1)).as("c3"))
    val ctx2 = triTrain.groupBy(col("w12")).agg(count(lit(1)).as("c2ctx"))
    val bi = biTrain.groupBy(col("ng").as("w23")).agg(count(lit(1)).as("c2"))
    val ctx1 = biTrain.groupBy(col("w1").as("w2")).agg(count(lit(1)).as("c1ctx"))
    val uni = uniTrain.groupBy(col("tok").as("w3")).agg(count(lit(1)).as("c1"))
    val nv = uniTrain.agg(count(lit(1)).as("n_total"),
      countDistinct(col("tok")).as("v_size"))
    val test = positions(3, train = false)
      .withColumn("w12", substring_index(col("ng"), " ", 2))
      .withColumn("w23", substring_index(col("ng"), " ", -2))
      .withColumn("w2", substring_index(col("w23"), " ", 1))
      .withColumn("w3", substring_index(col("ng"), " ", -1))
    val la = log(lit(alpha))
    val score =
      when(col("c3").isNotNull, log(col("c3") / col("c2ctx")))
        .when(col("c2").isNotNull, la + log(col("c2") / col("c1ctx")))
        .otherwise(la * 2 +
          log((coalesce(col("c1"), lit(0L)) + 1) /
            (col("n_total") + col("v_size"))))
    test
      .join(hint(tri), Seq("ng"), "left")
      .join(hint(ctx2), Seq("w12"), "left")
      .join(hint(bi), Seq("w23"), "left")
      .join(hint(ctx1), Seq("w2"), "left")
      .join(hint(uni), Seq("w3"), "left")
      .crossJoin(broadcast(nv)) // 1 row — always broadcast
      .select(col(idCol),
        round(score * 1e6, 0)
          .cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("lp6"),
        when(col("c3").isNotNull, 0)
          .when(col("c2").isNotNull, 1).otherwise(2).as("__lvl"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_positions"),
        sum(when(col("__lvl") === 1, 1L).otherwise(0L)).as("n_bi_backoffs"),
        sum(when(col("__lvl") === 2, 1L).otherwise(0L)).as("n_uni_backoffs"),
        // boundary-exact avg (see [[exactRound6Ratio]])
        exactRound6Ratio(sum(col("lp6")), lit(1000000L) * count(lit(1)))
          .as("avg_logscore"))
  }

  /** Sequence packing — assign documents to fixed-token-budget training
    * sequences ("packs"), contiguously in (stratum, id) order: a doc's
    * pack is `floor(exclusive-prefix-token-sum / budget)`. The rule is
    * a total function of the corpus (no greedy bin-packing state), so
    * packing is reproducible across engines and runs — the property a
    * training pipeline needs to resume/a-b-test a data order.
    *
    * Returns (stratum, id, n_toks, pack_id). This form computes the
    * prefix sum with one window per stratum — fine when strata are
    * many and bounded (sources, shards); for a 100 TB corpus with few
    * giant strata use [[packSequencesScalable]], which computes the
    * same prefix sum without ever sorting a stratum on one task.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    strataCol: String, budgetTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.select(col(strataCol), col(idCol),
        tokenCount(col(textCol)).as("n_toks"))
      .withColumn("pack_id",
        floor((sum(col("n_toks")).over(w) - col("n_toks")) /
          lit(budgetTokens.toDouble)).cast("int"))
  }

  /** [[packSequences]] at 100 TB: the same packs through the
    * distributed two-pass prefix sum ([[exclusivePrefixScalable]]) over
    * the (stratum, id) order, so no stratum is ever sorted on a single
    * task. PackingSpec asserts bit-equality between the two forms.
    */
  def packSequencesScalable(df: DataFrame, idCol: String, textCol: String,
                            strataCol: String, budgetTokens: Int,
                            numParts: Int = 32): DataFrame =
    exclusivePrefixScalable(
      df.select(col(strataCol), col(idCol),
        tokenCount(col(textCol)).as("n_toks")),
      strataCol, Seq(col(idCol)), "n_toks", numParts)
      .select(col(strataCol), col(idCol), col("n_toks"),
        floor(col("__before") / lit(budgetTokens.toDouble)).cast("int")
          .as("pack_id"))

  /** Output-shard assignment by byte budget — the balanced-file writer
    * every corpus export needs (training loaders want ~equal shard
    * sizes, not ~equal row counts): a doc's shard is
    * `floor(exclusive-prefix-byte-sum / budget)`, contiguously in
    * (stratum, id) order. Same total-function-of-the-corpus
    * reproducibility argument as [[packSequences]], same two-pass
    * distributed prefix sum — no single-task stratum sort at 100 TB,
    * where this op IS the output stage.
    */
  def shardByBytes(df: DataFrame, idCol: String, bytesCol: String,
                   strataCol: String, budgetBytes: Long,
                   numParts: Int = 32): DataFrame =
    exclusivePrefixScalable(
      df.select(col(strataCol), col(idCol),
        col(bytesCol).cast("long").as("n_bytes")),
      strataCol, Seq(col(idCol)), "n_bytes", numParts)
      .select(col(strataCol), col(idCol), col("n_bytes"),
        floor(col("__before") / lit(budgetBytes.toDouble)).cast("int")
          .as("shard_id"))

  /** The two-pass distributed EXCLUSIVE prefix sum behind
    * [[packSequencesScalable]], [[shardByBytes]] and the scalable
    * mixers of [[graft.etl.Sampling]]: returns `rows` plus `__before`,
    * the sum of `weightCol` over the rows that precede each row in its
    * stratum, in (`strataCol`, `order`…) order.
    *
    * Pass 1 range-partitions on (stratum, order…) — so one stratum
    * SPANS many partitions, each locally sorted — and computes
    * per-partition local running sums plus one (partition, stratum)
    * subtotal row. Pass 2 broadcasts the subtotals (O(partitions ×
    * strata-per-partition-boundary) rows, ~KB) back as exclusive
    * offsets. No stratum is ever sorted on a single task, which is
    * exactly the failure mode of a window form when a stratum is
    * 10 TB. Deterministic: range partitioning is boundary-based and the
    * local scan follows the same order the window forms use —
    * PackingSpec and SamplingSpec assert bit-equality with them.
    *
    * Null weights: a row whose weight is null adds nothing to any
    * prefix and gets a null `__before` — the window forms' `sum`
    * semantics, so a null-text doc keeps its row with a null pack or
    * shard id. A caller that must not emit such rows filters them out
    * before calling.
    */
  private[graft] def exclusivePrefixScalable(rows: DataFrame,
                                             strataCol: String,
                                             order: Seq[Column],
                                             weightCol: String,
                                             numParts: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = rows.sparkSession
    val key = col(strataCol) +: order
    val withPid = rows
      .repartitionByRange(numParts, key: _*)
      .sortWithinPartitions(key: _*)
      .withColumn("__pid", spark_partition_id())
    // pass 1: local exclusive prefix sums (one iterator scan per task —
    // rows are already key-sorted within the partition); positions
    // resolved by NAME from the schema
    val iStrat = withPid.schema.fieldIndex(strataCol)
    val iW = withPid.schema.fieldIndex(weightCol)
    val schema = StructType(withPid.schema.fields :+
      StructField("__local_excl", LongType, nullable = true))
    val local = spark.createDataFrame(
      withPid.rdd.mapPartitions { it =>
        var stratum: Any = null
        var running = 0L
        it.map { r =>
          if (r.get(iStrat) != stratum) { stratum = r.get(iStrat); running = 0L }
          if (r.isNullAt(iW)) Row.fromSeq(r.toSeq :+ null)
          else {
            val excl = running
            running += r.getAs[Number](iW).longValue
            Row.fromSeq(r.toSeq :+ excl)
          }
        }
      }, schema)
    // pass 2: per-(partition, stratum) totals → exclusive cross-
    // partition offsets; tiny (≤ partitions × strata), broadcast back
    val subtotal = local.groupBy(col("__pid"), col(strataCol))
      .agg(sum(col(weightCol)).as("__part_total"))
    val offsetW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = subtotal
      .withColumn("__offset",
        coalesce(sum(col("__part_total")).over(offsetW), lit(0L)))
      .select(col("__pid"), col(strataCol), col("__offset"))
    local.join(broadcast(offsets), Seq("__pid", strataCol))
      .select(rows.columns.map(col) :+
        (col("__local_excl") + col("__offset")).as("__before"): _*)
  }

  /** Corpus-level exact line dedup — the C4 recipe (Raffel et al. 2020
    * dedups three-sentence spans; RefinedWeb drops exact duplicate
    * lines): a line that appears in MORE THAN ONE distinct document is
    * boilerplate (headers, footers, licence blurbs) and is removed from
    * every document. The harness corpus is single-line word soup, so a
    * "line" here is a fixed-width row of `lineWords` tokens.
    *
    * Scale shape: explode → groupBy(line) with map-side partial
    * distinct-counts → the duplicate-line set anti-joins back against
    * the exploded corpus on the SAME key (one shuffle key reused), and
    * the anti join's right side carries only the duplicated lines — a
    * small fraction of the corpus, never the corpus itself.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                lineWords: Int): DataFrame = {
    require(lineWords > 0, "need lineWords > 0")
    val nLines = ceil(size(col("__t")) / lit(lineWords.toDouble)).cast("int")
    val lined = df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("line_idx", explode(sequence(lit(0), nLines - 1)))
      .select(col(idCol), col("line_idx"),
        concat_ws(" ",
          slice(col("__t"), col("line_idx") * lineWords + 1, lit(lineWords)))
          .as("line"))
    val dups = lined.groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") > 1)
      .select("line")
    lined.join(dups, Seq("line"), "left_anti")
      .select(col(idCol), col("line_idx"), col("line"))
  }

  /** Cross-source overlap matrix — the corpus diagnostic that tells you
    * WHICH sources are contaminated with each other before mixing:
    * for every source pair, the count of distinct `lineWords`-token
    * lines (same segmentation as [[lineDedup]]) present in both, plus
    * the overlap as a fraction of each side's distinct-line count.
    *
    * Scale shape: explode → per-(source, line) distinct → self-join on
    * the line key → pair hash agg. A line shared by s sources costs
    * s²/2 pair rows — bounded by the (small) source universe, and hot
    * boilerplate lines are exactly the signal this matrix measures.
    * The per-source totals broadcast (|sources| rows).
    */
  def sourceOverlapMatrix(df: DataFrame, srcCol: String, textCol: String,
                          lineWords: Int): DataFrame = {
    require(lineWords > 0, "need lineWords > 0")
    val nLines = ceil(size(col("__t")) / lit(lineWords.toDouble)).cast("int")
    val lines = df.select(col(srcCol), tokens(col(textCol)).as("__t"))
      .withColumn("__i", explode(sequence(lit(0), nLines - 1)))
      .select(col(srcCol), concat_ws(" ",
        slice(col("__t"), col("__i") * lineWords + 1, lit(lineWords)))
        .as("line"))
      .distinct()
    val totals = lines.groupBy(col(srcCol)).agg(count(lit(1)).as("__n"))
    val a = lines.select(col("line"), col(srcCol).as("src_a"))
    val b = lines.select(col("line"), col(srcCol).as("src_b"))
    a.join(b, "line").where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(totals.select(col(srcCol).as("src_a"),
        col("__n").as("__na"))), "src_a")
      .join(broadcast(totals.select(col(srcCol).as("src_b"),
        col("__n").as("__nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        // int/int ratios: boundary-exact round-6 (r16 sweep)
        exactRound6Ratio(col("n_shared"), col("__na")).as("overlap_a"),
        exactRound6Ratio(col("n_shared"), col("__nb")).as("overlap_b"))
  }

  /** Sketch-based cross-source overlap — the 100-TB form of
    * [[sourceOverlapMatrix]]: one Datasketches HLL sketch of the
    * distinct `lineWords`-token lines per source (built in a single
    * linear pass; HLL absorbs duplicate lines natively, so the exact
    * form's per-source `distinct` shuffle disappears), then pairwise
    * union + inclusion-exclusion over the k×k sketch-only frame. The
    * exact matrix shuffles every distinct line into a line-keyed
    * self-join — petabytes at corpus scale; the sketch path moves KBs
    * after the scan (each sketch is ≤ 2^lgK registers) and is the
    * standard cardinality-sketch overlap estimate. The REGISTERS are
    * order/partitioning-free (max-of-hash), but the Datasketches
    * ESTIMATOR is not bit-stable across merge paths: a sketch built by
    * merging partials reports through the union ("out-of-order")
    * estimator, so repartitioning the input can shift an estimate by
    * ~1% — within the sketch's own error envelope, and exact in sparse
    * mode (small per-source cardinalities), but not bit-identical.
    *
    * Estimates are therefore hash- AND plan-dependent (not
    * re-derivable by another engine), so callers materialize them and
    * re-score the exact overlap for a measured error — the
    * `dedup_minhash_est_error` calibration pattern; see
    * `corpus_overlap_sketch`.
    *
    * Output per unordered source pair (src_a < src_b): the two
    * per-source estimates, the union estimate, and
    * `est_shared = max(0, est_a + est_b − est_union)`.
    */
  def sourceOverlapSketch(df: DataFrame, srcCol: String, textCol: String,
                          lineWords: Int, lgK: Int = 12): DataFrame = {
    require(lineWords > 0, "need lineWords > 0")
    val nLines = ceil(size(col("__t")) / lit(lineWords.toDouble)).cast("int")
    val lines = df.select(col(srcCol), tokens(col(textCol)).as("__t"))
      .withColumn("__i", explode(sequence(lit(0), nLines - 1)))
      .select(col(srcCol), concat_ws(" ",
        slice(col("__t"), col("__i") * lineWords + 1, lit(lineWords)))
        .as("line"))
    val sk = lines.groupBy(col(srcCol))
      .agg(hll_sketch_agg(col("line"), lit(lgK)).as("__sk"))
    // k = number of SOURCES (a handful), so the k×k sketch join is a
    // bounded broadcast nested loop over KB-sized rows — deliberate
    val a = sk.select(col(srcCol).as("src_a"), col("__sk").as("__ska"))
    val b = sk.select(col(srcCol).as("src_b"), col("__sk").as("__skb"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        hll_sketch_estimate(col("__ska")).as("est_a"),
        hll_sketch_estimate(col("__skb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("__ska"), col("__skb")))
          .as("est_union"))
      .withColumn("est_shared",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
  }

  /** Per-domain boilerplate line removal — the WITHIN-SITE variant of
    * [[lineDedup]]: a line repeated across `minDocs`+ distinct
    * documents of the SAME domain (site header/footer, nav, licence
    * blurb) is boilerplate FOR THAT DOMAIN and removed there, while the
    * same line appearing once each on many different domains survives —
    * the C4/RefinedWeb boilerplate rule is per-site, not corpus-global,
    * precisely so cross-site common phrases aren't destroyed.
    *
    * Scale shape: identical to [[lineDedup]] with the domain prepended
    * to the one shuffle key — (domain, line) drives both the
    * distinct-doc count and the anti join, so the key is reused across
    * the two stages and no stage ever keys on the bare (hot) line.
    */
  def boilerplateLineDedup(df: DataFrame, idCol: String, domainCol: String,
                           textCol: String, lineWords: Int,
                           minDocs: Int): DataFrame = {
    require(lineWords > 0, "need lineWords > 0")
    require(minDocs > 1, "need minDocs > 1")
    val nLines = ceil(size(col("__t")) / lit(lineWords.toDouble)).cast("int")
    val lined = df.select(col(idCol), col(domainCol), tokens(col(textCol)).as("__t"))
      .withColumn("line_idx", explode(sequence(lit(0), nLines - 1)))
      .select(col(idCol), col(domainCol), col("line_idx"),
        concat_ws(" ",
          slice(col("__t"), col("line_idx") * lineWords + 1, lit(lineWords)))
          .as("line"))
    val bp = lined.groupBy(col(domainCol), col("line"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col(domainCol), col("line"))
    lined.join(bp, Seq(domainCol, "line"), "left_anti")
      .select(col(idCol), col(domainCol), col("line_idx"), col("line"))
  }

  /** Character-entropy quality signal — Shannon entropy (bits) of the
    * per-document character distribution. Low entropy flags repeated-
    * char padding, single-token spam, and base64-ish uniform noise
    * reads HIGH — so the signal is used as a band filter (keep docs in
    * a [lo, hi] entropy window), the Gopher-style complement to the
    * token-level repetition stats.
    *
    * MAP-ONLY (r15): the per-document character histogram folds inside
    * the scan via the codegen'd
    * [[graft.functions.VectorExprs.CharEntropyMicrobits]] expression —
    * no shuffle at any corpus size. The pre-r15 spelling
    * (`explode(sequence)` + `substr` → (doc, char) hash agg) shuffled
    * one row per CORPUS CHARACTER (~7.5e8 rows / 414 s at the 500k-doc
    * sf10 corpus — 20× on 10× data once the char rows outgrew the
    * map-side combine); it remains the DuckDB oracle's formulation,
    * and the expression reproduces it term-for-term. FP discipline as
    * [[unigramLogProb]]: each `-p·log2(p)` term rounds to integer
    * micro-bits (HALF_UP, Spark's own `round(double, 0)` API) and sums
    * as a long — partition-order-invariant; one double division at the
    * end. Empty documents have no characters and are absent from the
    * output (same on both engines).
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(length(col(textCol)) > 0)
      .select(col(idCol),
        length(col(textCol)).cast("long").as("n_text_chars"),
        round(graft.functions.VectorExprs.char_entropy_microbits(
          col(textCol)).cast("double") / 1e6, 6).as("entropy_bits"))

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by the log-likelihood ratio of a TARGET distribution (docs where
    * `isTarget`, e.g. a trusted high-quality slice) over the RAW corpus
    * distribution, both modeled as add-1-smoothed multinomials over
    * HASHED bigram features (`numBuckets` buckets). Downstream
    * selection keeps the top docs by `log_weight` — upsampling raw data
    * that "looks like" the target without training a classifier.
    *
    * Hashing uses the first 8 md5 hex digits of the bigram mod
    * `numBuckets` — the [[graft.etl.Sampling.hashBucket]] recipe:
    * engine-portable (the DuckDB oracle computes the identical bucket)
    * and partition/rerun-invariant, unlike JVM `hashCode`.
    *
    * Scale shape: bigrams come from the codegen'd stride-1
    * [[graft.functions.VectorExprs.TokenNGrams]]; the model is exactly
    * `numBuckets` rows (feature totals fold IN-PLAN via a 1-row agg
    * cross-joined back — no driver-side count, one corpus pass for the
    * model and one for scoring, each a broadcast join on the bucket
    * id). The corpus never shuffles on a raw-text key. FP discipline as
    * [[unigramLogProb]]: per-feature log-ratios in integer micro-nats,
    * DECIMAL sums, one double division at the end. Docs with no bigram
    * positions are absent from the output (same on both engines).
    */
  def dsirLogRatio(df: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, numBuckets: Int = 4096): DataFrame = {
    import graft.functions.VectorExprs.token_ngrams
    require(numBuckets > 0, "need numBuckets > 0")
    val bg = df.select(col(idCol), isTarget.as("__tgt"),
        explode(token_ngrams(tokens(col(textCol)), 2)).as("__bigram"))
      .select(col(idCol), col("__tgt"),
        (conv(substring(md5(col("__bigram")), 1, 8), 16, 10).cast("long")
          % numBuckets).as("__b"))
    val counts = bg.groupBy(col("__b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("ct"))
    val totals = counts.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val model = counts.crossJoin(broadcast(totals)).select(col("__b"),
      round((log((col("ct") + 1) / (col("nt") + lit(numBuckets))) -
             log((col("cr") + 1) / (col("nr") + lit(numBuckets)))) * 1e6, 0)
        .cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("lr6"))
    bg.join(broadcast(model), "__b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("lr6")).cast("double") / 1e6, 6).as("log_weight"))
  }

  /** Exact substring dedup — the Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") ExactSubstr mode:
    * find token spans duplicated anywhere in the corpus at ARBITRARY
    * offsets, the case aligned line dedup ([[lineDedup]]) and
    * stride-aligned chunk hashing ([[chunkWindows]]) both miss. Every
    * stride-1 sliding window of `n` tokens that occurs more than once
    * corpus-wide marks its `[off, off+n)` range; overlapping/adjacent
    * marked windows merge into maximal per-doc removed spans
    * `[span_start, span_end)` (token offsets, 0-based, end-exclusive).
    *
    * Scale shape (100 TB): the full-corpus shuffle carries one 8-byte
    * xxhash64 per window — window STRINGS shuffle only for
    * hash-duplicate candidates (true duplicates plus rare collisions, a
    * small fraction of the corpus), where a second groupBy on the
    * string itself restores exactness: a collision can only ADD
    * candidates, and the string-equality confirm removes them, so the
    * result is bit-identical to grouping on raw strings at a fraction
    * of the shuffle. The span merge is a per-doc window function over
    * duplicate occurrences only, never the corpus. Windows come from
    * the codegen'd stride-1
    * [[graft.functions.VectorExprs.TokenNGrams]] + posexplode — one
    * generate over the scan, no UDF.
    */
  def substringDupSpans(df: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    mergeOffsetSpans(substringDupOcc(df, idCol, textCol, n), idCol, n)

  /** Interval-merge duplicated window offsets (id, off) into maximal
    * per-doc spans. With fixed width n and offsets sorted, the merged
    * span's running end is lag(off)+n, so a new span starts exactly
    * when off > lag(off)+n (off = lag+n is adjacency — one contiguous
    * removed range). Runs over duplicate occurrences only, never the
    * corpus.
    */
  def mergeOffsetSpans(dupOcc: DataFrame, idCol: String,
                       n: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byDoc = W.partitionBy(col(idCol)).orderBy(col("off"))
    dupOcc
      .withColumn("__prev", lag(col("off"), 1).over(byDoc))
      .withColumn("__new",
        when(col("__prev").isNull || col("off") > col("__prev") + n, 1)
          .otherwise(0))
      .withColumn("span_id",
        sum(col("__new"))
          .over(byDoc.rowsBetween(W.unboundedPreceding, W.currentRow))
          .cast("int"))
      .groupBy(col(idCol), col("span_id"))
      .agg(min(col("off")).as("span_start"),
        (max(col("off")) + n).as("span_end"),
        (max(col("off")) + n - min(col("off"))).as("span_tokens"))
  }

  /** Per-doc stride-1 window fingerprints (id, off, w, h) — the unit
    * the substring-dedup family shuffles and indexes.
    */
  def windowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame = {
    require(n > 0, "need n > 0")
    import graft.functions.VectorExprs.token_ngrams
    // tokenize + stride-1 ngrams + posexplode is the family's CPU-dense
    // stage: spread an under-split scan first (guide §2.5; no-op at
    // real scale — see [[graft.Spread]])
    graft.Spread.spread(df).select(col(idCol),
        posexplode(token_ngrams(tokens(col(textCol)), n)).as(Seq("off", "w")))
      .withColumn("h", xxhash64(col("w")))
  }

  /** Incremental exact substring dedup — the ingest-cycle form: a new
    * batch is deduplicated against the PERSISTED window index of the
    * existing corpus (the distinct window strings, bucketed on the
    * window itself), not against a re-shuffled corpus. Each ingest
    * exchanges ONLY the batch windows into the index's bucketing; the
    * corpus side is a bucketed scan with zero exchange — the property
    * that matters when the index is petabyte-scale and the batch is
    * not. (Joining on the string, not the xxhash64, keeps the single
    * join key equal to the bucket key — a two-key (h, w) join would
    * defeat bucketed co-partitioning — and string equality needs no
    * collision confirm.) Output = the batch docs' spans already
    * present in the corpus, merged per doc.
    */
  def substringDedupIncremental(batchWins: DataFrame, corpusIndex: DataFrame,
                                idCol: String, n: Int): DataFrame =
    mergeOffsetSpans(
      batchWins.hint("merge")
        .join(corpusIndex, Seq("w"), "left_semi")
        .select(col(idCol), col("off")),
      idCol, n)

  /** Duplicated-window occurrences (id, off) — the shared core of the
    * substring-dedup family. Pass 1 shuffles one 8-byte xxhash64 per
    * window corpus-wide; pass 2 confirms string equality on the
    * hash-duplicate candidates only (collisions can only ADD
    * candidates, the confirm removes them — bit-identical to grouping
    * raw strings at a fraction of the shuffle).
    */
  private def substringDupOcc(df: DataFrame, idCol: String, textCol: String,
                              n: Int): DataFrame = {
    val hashed = windowFingerprints(df, idCol, textCol, n)
    val dupHash = hashed.groupBy(col("h"))
      .agg(count(lit(1)).as("__c")).where(col("__c") > 1).select("h")
    val cand = hashed.join(dupHash, Seq("h"), "left_semi")
    val dupWin = cand.groupBy(col("w"))
      .agg(count(lit(1)).as("__c")).where(col("__c") > 1).select("w")
    cand.join(dupWin, Seq("w"), "left_semi")
      .select(col(idCol), col("off"))
  }

  /** The removal APPLY step of exact substring dedup — the cleaned
    * corpus. Token index j of a doc is removed iff SOME duplicated
    * window offset o covers it (o ≤ j < o+n); the union of covered
    * indices equals the union of the merged spans, so this path needs
    * no interval merge and no range join: per-doc duplicate offsets
    * aggregate into one small array (≤ tokens-per-doc ints),
    * equi-joined back on the id, and the removal is a single
    * nested-HOF filter pass over the token array — map-side, codegen.
    */
  def substringDedupApply(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    val offs = substringDupOcc(df, idCol, textCol, n)
      .groupBy(col(idCol)).agg(collect_list(col("off")).as("__offs"))
    def kept(t: Column, os: Column): Column =
      filter(t, (_, i) => !exists(os, o => o <= i && i < o + n))
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .join(offs, Seq(idCol), "left")
      .withColumn("__offs",
        coalesce(col("__offs"), array().cast("array<int>")))
      .select(col(idCol),
        concat_ws(" ", kept(col("__t"), col("__offs"))).as("clean_text"),
        size(kept(col("__t"), col("__offs"))).as("n_kept"))
  }

  /** Per-doc kept/removed token accounting over [[substringDupSpans]]:
    * every doc appears (left join) with `n_tokens`, `removed_tokens`
    * (sum of merged span widths — spans are disjoint after the merge,
    * so the sum never double-counts), `kept_tokens`, `n_spans`.
    */
  def substringDedupSummary(df: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame = {
    val rem = substringDupSpans(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(sum(col("span_tokens")).as("__removed"),
        count(lit(1)).as("__spans"))
    df.select(col(idCol), tokenCount(col(textCol)).as("n_tokens"))
      .join(rem, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__removed"), lit(0L)).as("removed_tokens"),
        (col("n_tokens") - coalesce(col("__removed"), lit(0L)))
          .as("kept_tokens"),
        coalesce(col("__spans"), lit(0L)).as("n_spans"))
  }

  /** Overlapping token-window chunking — the context-window splitter: a
    * doc of n tokens becomes `1 + ceil((n - chunk)/stride)` chunks,
    * chunk i covering tokens `[i·stride, i·stride + chunk)` (the last
    * one short). Emits (id, chunk_id, n_chunk_tokens, chunk_hash) —
    * map-only, one codegen'd Project with a posexplode, no shuffle; the
    * hash stands in for the chunk text so downstream exact-dedup of
    * chunks is a plain groupBy.
    */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
                   chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(strideTokens > 0 && chunkTokens >= strideTokens,
      "need 0 < stride <= chunk")
    val nChunks = when(col("__n") <= chunkTokens, lit(1))
      .otherwise(ceil((col("__n") - lit(chunkTokens)) /
        lit(strideTokens.toDouble)).cast("int") + 1)
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .withColumn("chunk_id", explode(sequence(lit(0), nChunks - 1)))
      .select(col(idCol), col("chunk_id"),
        slice(col("__t"), col("chunk_id") * strideTokens + 1, lit(chunkTokens))
          .as("__c"))
      .select(col(idCol), col("chunk_id"),
        size(col("__c")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("__c")).cast("binary")).as("chunk_hash"))
  }

  /** Paragraph-level exact dedup with keep-first semantics (the
    * Dolma-style middle ground between document dedup and line dedup):
    * non-overlapping `chunkTokens`-token "paragraphs" (stride = chunk
    * via [[chunkWindows]]) that recur ANYWHERE in the corpus keep only
    * their first occurrence in (id, chunk_id) order; every chunk row
    * comes back with a `keep` flag so the caller can either drop
    * duplicates or measure them.
    *
    * Scale shape: the arg-min first occurrence is a partial-mergeable
    * `min(struct(id, chunk))` aggregate (SortAggregate — structs
    * aren't hash-aggregable), NOT a row_number window: a boilerplate
    * paragraph with millions of occurrences would ship every
    * occurrence to the window's one task, while the aggregate ships at
    * most one partial min per map partition per hash. The join back is
    * hash-sized on one side.
    */
  def chunkKeepFirst(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int): DataFrame = {
    val ch = chunkWindows(df, idCol, textCol, chunkTokens, chunkTokens)
    val first = ch.groupBy(col("chunk_hash"))
      .agg(min(struct(col(idCol).as("i"), col("chunk_id").as("c"))).as("__f"))
    ch.join(first, "chunk_hash")
      .select(col(idCol), col("chunk_id"), col("n_chunk_tokens"),
        col("chunk_hash"),
        (col(idCol) === col("__f.i") &&
          col("chunk_id") === col("__f.c")).as("keep"))
  }

  /** Text normalization — the cleanup pass a crawl pipeline runs before
    * any hashing or tokenization (fingerprints, dedup keys, and token
    * counts are all whitespace/control-char sensitive, so normalization
    * must happen exactly once, up front): control characters become
    * spaces, whitespace runs collapse to one space, ends trim.
    * `\p{Cntrl}` is the same class DuckDB's `[[:cntrl:]]` matches, so
    * the oracle twin is bit-identical.
    *
    * Scale shape: one codegen'd Project over the scan — map-only, no
    * shuffle, no UDF.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "\\p{Cntrl}", " "), "\\s+", " "))

  /** Control characters in `text` (the "how dirty was it" counter
    * emitted alongside [[normalize]]). */
  def ctrlCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "\\p{Cntrl}", ""))

  /** Luhn digit sum of a fixed-width all-digit string, doubling digits
    * whose 1-based position FROM THE RIGHT satisfies the standard
    * alternation: for a full card number (check digit rightmost) the
    * doubled positions are the even ones; for a check-digit-less
    * payload they are the odd ones (each payload digit sits one
    * position further left once the check digit is appended).
    * Pure integer arithmetic over `sequence`/`transform`/`aggregate` —
    * codegen'd, and the same `list_transform`/`list_sum` tree DuckDB
    * evaluates.
    */
  private def luhnSum(s: Column, len: Int, doubleOddFromRight: Boolean): Column =
    aggregate(
      transform(sequence(lit(1), lit(len)), i => {
        val d = s.substr(i, lit(1)).cast("int")
        val posFromRight = lit(len + 1) - i
        val doubled = if (doubleOddFromRight) posFromRight % 2 === 1
                      else posFromRight % 2 === 0
        when(doubled, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)

  /** Luhn check digit for a `len`-digit payload (ISO/IEC 7812 — public
    * arithmetic; e.g. payload "7992739871" → 3). */
  def luhnCheckDigit(payload: Column, len: Int): Column =
    (lit(10) - luhnSum(payload, len, doubleOddFromRight = true) % 10) % 10

  /** True iff a full `len`-digit number (check digit included)
    * satisfies the Luhn checksum. */
  def luhnValid(card: Column, len: Int): Column =
    luhnSum(card, len, doubleOddFromRight = false) % 10 === 0

  /** Tokenizer-vocabulary builder: the corpus' top-`k` tokens by
    * frequency with rank and the cumulative coverage fraction — the
    * curve a tokenizer team reads to pick a vocab size ("top 32k tokens
    * cover 99.x% of occurrences").
    *
    * Scale shape: explode → partial-aggregable hash agg shrinks the
    * corpus to vocabulary size; the top-k is `TakeOrderedAndProject`
    * (per-partition bounded heaps, one k-row merge — never a global
    * sort); the corpus total folds in-plan as a broadcast 1-row
    * aggregate; the rank/cumsum window runs over the k surviving rows
    * only.
    */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    val w = Window.orderBy(col("cnt").desc, col("term").asc)
    vocab.orderBy(col("cnt").desc, col("term").asc).limit(k)
      .crossJoin(broadcast(total))
      .select(col("term"), col("cnt"),
        row_number().over(w).cast("int").as("rank"),
        // int/int ratio: boundary-exact round-6 (r16 sweep)
        exactRound6Ratio(sum(col("cnt")).over(w), col("n_total"))
          .as("cum_frac"))
  }

  /** PMI collocation mining (Church & Hanks 1990): the top-k adjacent
    * token pairs by pointwise mutual information
    * `ln(N·c(ab) / (c(a)·c(b)))`, with a minimum pair-count floor (PMI
    * is notoriously noisy on hapax pairs — the floor is part of the
    * published recipe). This is how a curation pipeline finds
    * multi-word units ("los angeles") worth protecting from
    * token-level ops, and template phrases worth flagging.
    *
    * Scale shape: one token pass (unigram counts) + one bigram pass,
    * both partial-agg'd; the min-count filter shrinks the pair table
    * BEFORE the two unigram joins (hash joins on the token key — at
    * corpus scale the filtered pair side is the small one and AQE
    * broadcasts it); N folds in-plan as a broadcast 1-row agg. Counts
    * go to double before the ratio so no integer product can overflow;
    * PMI rounds to 6 dp BEFORE the rank cutoff.
    */
  def pmiCollocations(df: DataFrame, textCol: String, k: Int,
                      minCount: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExprs.token_ngrams
    val toks = df.select(explode(tokens(col(textCol))).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val nTok = toks.agg(count(lit(1)).as("n"))
    val bg = df.select(
        explode(token_ngrams(tokens(col(textCol)), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
      .where(col("cb") >= minCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val scored = bg
      .join(uni.select(col("tok").as("w1"), col("cu").as("c1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("cu").as("c2")), "w2")
      .crossJoin(broadcast(nTok))
      .select(col("bigram"), col("cb"),
        round(log(col("n").cast("double") * col("cb").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double"))), 6)
          .as("pmi"))
    val w = Window.orderBy(col("pmi").desc, col("bigram").asc)
    scored.orderBy(col("pmi").desc, col("bigram").asc).limit(k)
      .select(col("bigram"), col("cb"), col("pmi"),
        row_number().over(w).cast("int").as("rank"))
  }

  /** Zipf-law fit — the corpus-health diagnostic: OLS slope/intercept
    * of ln(freq) over ln(rank) for the top-`k` terms. A natural corpus
    * sits near slope −1 (Zipf 1949); template spam or boilerplate
    * flattens the head, OCR noise fattens the tail — so the exponent
    * is a one-number drift gate for ingest monitoring.
    *
    * Scale shape: the term-count pass is the only corpus-sized work
    * (partial-agg'd); the global top-k rides the bounded-heap rewrite
    * (orderBy+limit → TopK), and the fit runs over k rows. The
    * regression uses EXACT integer micro-sums (ln values round to
    * micro-units, moments sum as decimal(38,0)) so the slope is
    * partition-order-invariant and engine-exact — the
    * `agg_stats_battery` discipline.
    */
  def zipfFit(df: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val w = Window.orderBy(col("freq").desc, col("term").asc)
    val top = vocab.orderBy(col("freq").desc, col("term").asc).limit(k)
      .select(col("freq"), row_number().over(w).as("rank"))
    val pts = top.select(
      round(log(col("rank").cast("double")) * 1e6)
        .cast("decimal(38,0)").as("x"),
      round(log(col("freq").cast("double")) * 1e6)
        .cast("decimal(38,0)").as("y"))
    val s = pts.agg(count(lit(1)).cast("decimal(38,0)").as("k"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    s.withColumn("slope_raw",
        (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select(col("k").cast("long").as("k_terms"),
        round(col("slope_raw"), 6).as("zipf_slope"),
        round((col("sy").cast("double") / 1e6 -
          col("slope_raw") * (col("sx").cast("double") / 1e6)) /
          col("k").cast("double"), 6).as("zipf_intercept"))
  }

  /** Count-Min-Sketch over the corpus token stream — the third sketch
    * family next to HLL cardinality (`sourceOverlapSketch`) and
    * approx-percentile: fixed-memory frequency estimation (Cormode &
    * Muthukrishnan 2005). One linear scan folds every token into a
    * `ceil(2/eps) × ceil(ln(1/(1−confidence)))` counter grid via
    * Spark's builtin `count_min_sketch` aggregate; partial grids merge
    * by exact integer cell addition, so — unlike the HLL estimator —
    * the sketch AND its estimates are bit-identical whatever the
    * partitioning (fixed `seed` pins the hash functions). The returned
    * sketch is bounded driver model state (the k-means-centroids
    * precedent): grid size is set by (eps, confidence), independent of
    * the corpus. At 100 TB this is how you answer "how often does term
    * X occur" for arbitrary later probes without ever shuffling the
    * vocabulary: the scan is map-side-combined into KB-sized grids and
    * the driver holds one.
    */
  def cmsTokenSketch(df: DataFrame, textCol: String, eps: Double,
                     confidence: Double,
                     seed: Int): org.apache.spark.util.sketch.CountMinSketch = {
    val bytes = df
      .select(explode(tokens(col(textCol))).as("term"))
      .agg(expr(s"count_min_sketch(term, CAST($eps AS DOUBLE), " +
        s"CAST($confidence AS DOUBLE), $seed)"))
      .head().getAs[Array[Byte]](0)
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  /** Driver-side probe of a [[cmsTokenSketch]]: estimated count per
    * term (CMS never under-counts; over-count ≤ eps·N w.p.
    * `confidence`). `terms` is a bounded probe list (top-k or a fixed
    * watchlist), so the result frame is k rows of model state.
    */
  def cmsEstimates(spark: org.apache.spark.sql.SparkSession,
                   cms: org.apache.spark.util.sketch.CountMinSketch,
                   terms: Seq[String]): DataFrame = {
    import spark.implicits._
    terms.map(t => (t, cms.estimateCount(t))).toDF("term", "est_cnt")
  }

  /** One distributed BPE-training step (Sennrich et al. 2016 — the
    * merge-candidate count): adjacent character-pair frequencies over
    * the corpus, weighted by word frequency; the rank-1 row is the pair
    * BPE would merge next.
    *
    * Scale shape: the pair scan runs over the DISTINCT-word vocabulary
    * (Heaps-law-sized, ≪ corpus — each word's count rides along as the
    * weight), so the per-iteration cost of BPE training is a
    * vocabulary-sized map + hash agg, not a corpus pass; top-k is a
    * bounded-heap `TakeOrderedAndProject`.
    */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val pairs = vocab.where(length(col("w")) >= 2)
      .select(col("wc"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("pair_count"))
    val w = Window.orderBy(col("pair_count").desc, col("pair").asc)
    pairs.orderBy(col("pair_count").desc, col("pair").asc).limit(k)
      .select(col("pair"), col("pair_count"),
        row_number().over(w).cast("int").as("rank"))
  }

  /** Iterative BPE training (Sennrich et al. 2016) — the REAL
    * tokenizer-training loop, not just the single pair-count step of
    * [[bpePairCounts]]: `kMerges` rounds of count adjacent symbol
    * pairs → pick the most frequent (ties: lexicographic on the pair)
    * → merge it everywhere → recount. Returns the learned merge table
    * `(rank, lhs, rhs, merged, pair_count)` — the model a BPE
    * tokenizer ships.
    *
    * Representation: each vocabulary word is a delimiter-rendered
    * symbol string `|c1||c2|...|cn|`, so applying a merge is ONE
    * codegen'd literal `replace(s, "|l||r|", "|lr|")` — linear scans
    * in native string code, no per-word array fold — and the greedy
    * left-to-right non-overlapping semantics of `replace` are exactly
    * BPE's merge-application rule ("a a a" + merge (a,a) → "aa a").
    * `|` is reserved: tokens containing it are excluded from the
    * vocabulary (both here and in the oracle twin).
    *
    * Scale shape: like [[bpePairCounts]], every round runs over the
    * DISTINCT-word vocabulary (Heaps-law-sized, ≪ corpus; word counts
    * ride along as weights), so a round costs one vocabulary-sized
    * map + hash agg; the driver holds only the current top pair (one
    * row per round — the k-means-centroids precedent) and
    * a checkpoint (reliable-dir-aware, [[graft.Checkpoints]]) pins
    * each round's vocabulary so round k never re-executes rounds
    * 1..k-1. Pair counts are integer sums —
    * deterministic under any partitioning.
    */
  def bpeMerges(df: DataFrame, textCol: String, kMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (merges, _) = bpeTrainCore(df, textCol, kMerges)
    merges
      .toDF("rank", "lhs", "rhs", "pair_count")
      .select(col("rank").cast("int"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("pair_count"))
  }

  /** Shared BPE-training loop behind [[bpeMerges]] and [[bpeEncode]]:
    * returns the learned merge list AND the final merged vocabulary
    * `(w, s, wc)` — the original word, its symbol rendering after all
    * `kMerges` merges, and its corpus count — so encoding can read
    * per-word token counts straight off the trained state instead of
    * re-applying the merge table per document.
    */
  private def bpeTrainCore(df: DataFrame, textCol: String, kMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var vocab = graft.Checkpoints.checkpoint(
      df.select(explode(tokens(col(textCol))).as("w"))
        .where(length(col("w")) >= 1 && !col("w").contains("|"))
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        .select(col("w"), regexp_replace(col("w"), "(.)", "|$1|").as("s"),
          col("wc")))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var exhausted = false
    for (i <- 1 to kMerges if !exhausted) {
      val syms = split(expr("substring(s, 2, length(s) - 2)"), "\\|\\|")
      val pairs = vocab
        .select(col("wc"), syms.as("sy"))
        .where(size(col("sy")) >= 2)
        .select(col("wc"),
          explode(transform(sequence(lit(0), size(col("sy")) - 2),
            j => struct(element_at(col("sy"), j + 1).as("l"),
                        element_at(col("sy"), j + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum(col("wc")).as("cnt"))
      val best = pairs
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        merges += ((i, l, r, cnt))
        vocab = graft.Checkpoints.checkpoint(vocab
          .withColumn("s", replace(col("s"),
            lit("|" + l + "||" + r + "|"), lit("|" + l + r + "|"))))
      }
    }
    (merges.toSeq, vocab)
  }

  /** BPE ENCODE — apply the trained merge table and count the tokens
    * each document actually costs (the number every token-budget mixer,
    * sequence packer, and training-cost estimate downstream consumes).
    * Trains `kMerges` merges with [[bpeMerges]]'s exact loop, then
    * scores every document: `n_tokens` (post-merge symbols), `n_words`,
    * `n_chars`, and `chars_per_token` (the compression ratio a tokenizer
    * is judged by — rises as merges land).
    *
    * Scale shape: encoding never touches documents with the merge
    * table. The trained vocabulary already carries each word's final
    * symbol string, so per-word token count is a vocabulary-sized map
    * (`size(split(...))`), and scoring is explode → hash join ON THE
    * WORD (both sides keyed by `w`; the vocabulary side is Heaps-law
    * sized, ≪ corpus, and broadcastable in most deployments) → per-doc
    * integer sums. Deterministic under any partitioning: counts and
    * sums are longs; the one double (`chars_per_token`) is a single
    * division rounded to 6 dp, no accumulation-order term.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                kMerges: Int): DataFrame = {
    val (_, vocab) = bpeTrainCore(df, textCol, kMerges)
    val wordTok = vocab.select(col("w"),
      size(split(expr("substring(s, 2, length(s) - 2)"), "\\|\\|"))
        .cast("long").as("__nt"))
    df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) >= 1 && !col("w").contains("|"))
      .join(wordTok, "w")
      .groupBy(col(idCol))
      .agg(sum(col("__nt")).as("n_tokens"),
        count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      // boundary-exact ratio (see [[exactRound6Ratio]] — this column
      // was the second r15 sf10 census flip)
      .withColumn("chars_per_token",
        exactRound6Ratio(col("n_chars"), col("n_tokens")))
  }

  /** Per-document n-gram novelty: the fraction of a doc's DISTINCT
    * `n`-gram shingles that occur in NO other document (corpus df = 1)
    * — high novelty marks genuinely fresh content, low novelty marks
    * remix/boilerplate even when no single pair crosses a dedup
    * threshold (the corpus-level complement of pairwise near-dup).
    *
    * Scale shape: explode distinct shingles → df hash agg keyed on the
    * gram → join back ON THE SAME KEY (the exchange layout is reused,
    * one effective shuffle) → per-doc partial-aggregable count. No df²
    * term anywhere — this reads the posting LENGTHS, never joins
    * postings against postings.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    // spread rationale as [[windowFingerprints]]
    val grams = graft.Spread.spread(df).select(col(idCol),
      explode(graft.dedup.Dedup.shingles(tokens(col(textCol)), n)).as("g"))
    val dfs = grams.groupBy(col("g")).agg(count(lit(1)).as("__df"))
    grams.join(dfs, "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        exactRound6Ratio(col("n_novel"), col("n_grams")))
  }

  /** BM25 top-k retrieval (Robertson/Sparck-Jones, the Lucene
    * `(k1+1)`/`+1`-idf variant): score every document against a FIXED
    * query term set and keep the global top `k`. The retrieval
    * primitive behind RAG corpus search and query-based data selection.
    *
    * Scale shape: explode tokens → filter to the broadcast query-term
    * literal set (the posting lists of |q| terms — a vanishing fraction
    * of the corpus) → per-(doc, term) tf hash agg → broadcast joins for
    * df (|q| rows) and the 1-row (N, avgdl) corpus stats — the
    * corpus-stat fold is the same in-plan pattern as one-pass TF-IDF,
    * no driver count(). Per-term contributions are rounded to micro
    * units and summed as LONGS, so the per-doc score is exact and
    * partition-order-invariant (FP sum order would otherwise flip
    * 6-dp rounding between engines). Final top-k is an `orderBy` +
    * `limit(k)` over the |docs matching ≥1 term| rows, which Spark
    * plans as TakeOrderedAndProject: a bounded heap per partition, no
    * global sort.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && k > 0, "need query terms and k > 0")
    val dl = docs.select(col(idCol),
      tokenCount(col(textCol)).cast("double").as("__dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("__n"),
      avg("__dl").as("__avgdl"))
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val contrib = tf
      .join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)))
      .withColumn("__c_micro",
        round(col("__idf") * col("__tf") * (k1 + 1.0) /
          (col("__tf") +
            (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl")) * k1)
          * 1e6).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col(idCol).asc)
    contrib.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_terms_hit"),
        (sum("__c_micro") / 1e6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc).limit(k)
      .select(col(idCol), col("n_terms_hit"), col("bm25"),
        row_number().over(w).cast("int").as("rank"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS copy-detection algorithm): hash every
    * token k-gram, slide a window of `w` consecutive hashes, and in
    * each window keep the minimum hash, rightmost occurrence on ties.
    * The guarantee is the point: any shared substring of ≥ w+k−1
    * tokens between two documents yields at least one SHARED
    * fingerprint, at an expected density of only 2/(w+1) — a
    * position-robust near-dup signature that survives insertions,
    * unlike fixed-stride sampling.
    *
    * The published algorithm is a sequential scan; this is its exact
    * DECLARATIVE twin. A position p is the rightmost minimum of some
    * window iff, with l = distance to the nearest earlier position
    * whose hash is strictly smaller (capped at w) and r = distance to
    * the nearest later position whose hash is ≤ (capped at w), some
    * valid window start j satisfies p−l < j < p+r−w+1 — which reduces
    * to the interval test
    * `greatest(1, p−w+1, p−l+1) ≤ least(p, n−w+1, p+r−w)`.
    * Since l and r are capped at w, w−1 `lag`/`lead` probes compute
    * them exactly — no self-join over positions. Docs with fewer than
    * w grams form a single window: the rightmost global minimum.
    *
    * Scale shape: MAP-ONLY — a document's grams all live in its own
    * row, so the whole selection is array higher-order functions
    * (`transform`/`filter`/`element_at`) over the per-row hash array:
    * zero shuffles, zero state, and therefore directly usable inside a
    * stream (the windowed lag/lead twin, kept as
    * [[winnowFingerprintsWindowed]] for the spec cross-check, costs a
    * per-doc shuffle and is illegal in Structured Streaming). Output
    * is ~2/(w+1) of gram positions. Hashes are the first 8 md5 hex
    * digits as a BIGINT — the repo's portable-hash convention
    * (engine-independent, unlike xxhash64 which DuckDB lacks).
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    import graft.functions.VectorExprs.token_ngrams
    require(k >= 1 && w >= 2)
    // smallest lag/lead distance with a smaller (resp. ≤) hash, capped
    // at w; document edges fall out of the p±i bound guards
    val lCase = (1 until w).map(i =>
      s"WHEN p > $i AND element_at(__hs, p - $i) < element_at(__hs, p) " +
        s"THEN $i").mkString(" ")
    val rCase = (1 until w).map(i =>
      s"WHEN p + $i <= __n AND element_at(__hs, p + $i) <= element_at(__hs, p) " +
        s"THEN $i").mkString(" ")
    val keep =
      s"""filter(sequence(1, greatest(__n, 1)), p -> p <= __n AND (
         |  CASE WHEN __n >= $w THEN
         |    greatest(1, p - ${w - 1}, p - (CASE $lCase ELSE $w END) + 1)
         |      <= least(p, __n - ${w - 1}, p + (CASE $rCase ELSE $w END) - $w)
         |  ELSE p = array_max(filter(sequence(1, greatest(__n, 1)),
         |         q -> q <= __n AND element_at(__hs, q) = array_min(__hs)))
         |  END))""".stripMargin
    // spread rationale as [[windowFingerprints]]: md5-per-gram plus the
    // O(grams·w) keep-interval CASE chain is CPU-dense map work
    graft.Spread.spread(docs)
      .select(col(idCol),
        token_ngrams(tokens(col(textCol)), k).as("__grams"))
      .withColumn("__hs", expr(
        "transform(__grams, g -> " +
          "cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint))"))
      .withColumn("__n", size(col("__hs")))
      .select(col(idCol),
        explode(expr(s"transform($keep, " +
          "p -> struct(p as pos, element_at(__hs, p) as fp))")).as("__s"))
      .select(col(idCol), col("__s.pos").as("pos"), col("__s.fp").as("fp"))
  }

  /** The lag/lead window twin of [[winnowFingerprints]] — one per-doc
    * shuffle instead of map-only. Kept (test scope via the spec) as an
    * independent formulation of the rightmost-min interval test; the
    * spec asserts row-set equality on the harness corpus.
    */
  private[text] def winnowFingerprintsWindowed(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExprs.token_ngrams
    require(k >= 1 && w >= 2)
    val byDoc = Window.partitionBy(col(idCol))
    val ordered = byDoc.orderBy(col("pos"))
    val g = docs
      .select(col(idCol),
        posexplode(token_ngrams(tokens(col(textCol)), k))
          .as(Seq("pos0", "gram")))
      .select(col(idCol), (col("pos0") + 1).as("pos"),
        conv(substring(md5(col("gram")), 1, 8), 16, 10)
          .cast("long").as("fp"))
    val l = (1 until w).foldLeft(null: Column) { (acc, i) =>
      val c = lag(col("fp"), i).over(ordered) < col("fp")
      if (acc == null) when(c, lit(i)) else acc.when(c, lit(i))
    }.otherwise(lit(w))
    val r = (1 until w).foldLeft(null: Column) { (acc, i) =>
      val c = lead(col("fp"), i).over(ordered) <= col("fp")
      if (acc == null) when(c, lit(i)) else acc.when(c, lit(i))
    }.otherwise(lit(w))
    g.withColumn("__n", count(lit(1)).over(byDoc))
      .withColumn("__l", l)
      .withColumn("__r", r)
      .withColumn("__rns", row_number().over(
        byDoc.orderBy(col("fp").asc, col("pos").desc)))
      .where(
        (col("__n") >= w &&
          greatest(lit(1), col("pos") - (w - 1), col("pos") - col("__l") + 1)
            <= least(col("pos"), col("__n") - (w - 1),
              col("pos") + col("__r") - w)) ||
        (col("__n") < w && col("__rns") === 1))
      .select(col(idCol), col("pos"), col("fp"))
  }

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010,
    * "Automatic keyword extraction from individual documents"):
    * candidate phrases are the maximal token runs BETWEEN stopwords;
    * each member word scores deg(w)/freq(w) where freq counts the
    * word's occurrences across all candidates and deg sums the lengths
    * of the phrases it appears in (the rake-nltk convention — degree
    * counts co-occurrences including self); a phrase scores the sum
    * over its tokens, and the top-k distinct phrases win. The corpus
    * signal a curation pipeline uses for cheap topic/keyword tagging
    * without a model.
    *
    * Engine parity: word scores go to MICRO-units with one integer
    * rounding (`round(deg·1e6 / freq)`), so phrase sums are exact
    * longs; ranking is (score desc, phrase asc) — no double ever
    * crosses engines. The phrase run-grouping is the stopword prefix
    * count (a per-doc window sum), the same island trick as
    * sessionization.
    *
    * Scale shape: one per-doc window shuffle for run grouping, one
    * phrase agg, one word agg (model-sized — the distinct-word table),
    * a broadcast-friendly join back, and a bounded-heap global top-k
    * (`TakeOrderedAndProject`), never a full sort.
    */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String], k: Int,
                   maxPhraseLen: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ordered = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    // spread rationale as [[windowFingerprints]]
    val toks = graft.Spread.spread(docs)
      .select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("__stop", col("tok").isin(stopwords: _*))
      .withColumn("__grp",
        sum(col("__stop").cast("int")).over(ordered))
    val phrases = toks.where(!col("__stop"))
      .groupBy(col(idCol), col("__grp"))
      .agg(sort_array(collect_list(struct(col("pos"), col("tok"))))
        .as("__run"))
      .select(array_join(expr("transform(__run, r -> r.tok)"), " ")
          .as("phrase"),
        size(col("__run")).as("n_words"))
      .where(col("n_words") <= maxPhraseLen)
    val words = phrases
      .select(col("n_words"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("__freq"),
        sum(col("n_words")).as("__deg"))
      .withColumn("__score_micro",
        round(col("__deg") * lit(1000000L) / col("__freq")).cast("long"))
    val pc = phrases.groupBy(col("phrase"), col("n_words"))
      .agg(count(lit(1)).as("phrase_count"))
    val scored = pc
      .select(col("phrase"), col("n_words"), col("phrase_count"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(broadcast(words.select(col("w"), col("__score_micro"))), "w")
      .groupBy(col("phrase"), col("n_words"), col("phrase_count"))
      .agg(sum(col("__score_micro")).as("score_micro"))
    val w = Window.orderBy(col("score_micro").desc, col("phrase").asc)
    scored.orderBy(col("score_micro").desc, col("phrase").asc).limit(k)
      .select(col("phrase"), col("n_words"), col("phrase_count"),
        col("score_micro"),
        row_number().over(w).cast("int").as("rank"))
  }

  /** MOSS copy-detection pairing over [[winnowFingerprints]]: document
    * pairs sharing at least `minShared` distinct winnowed fingerprints
    * — the report MOSS shows, and the shape a curation pipeline uses
    * as a cheap position-robust near-dup screen ahead of exact
    * verification.
    *
    * Scale shape: the pairing is a fingerprint-bucket self-join, so a
    * boilerplate phrase appearing in millions of docs would explode
    * one bucket quadratically. `maxDf` drops fingerprints whose
    * document frequency exceeds the cap BEFORE pairing — the same
    * hot-bucket guard as the MinHash-LSH and boilerplate paths (a
    * fingerprint that common identifies nothing anyway). Bucket work
    * is then ≤ maxDf² per fingerprint: linear in corpus size.
    */
  def winnowNearDups(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, w: Int = 4, minShared: Int = 2,
                     maxDf: Int = 20): DataFrame = {
    val sel = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol), col("fp")).distinct()
    val dfc = sel.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
    val kept = sel.join(dfc.where(col("__df") <= maxDf), "fp")
    kept.select(col("fp"), col(idCol).as("doc_a"))
      .join(kept.select(col("fp"), col(idCol).as("doc_b")), "fp")
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }
}
