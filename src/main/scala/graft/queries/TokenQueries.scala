package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Token-level queries: n-gram statistics, TF-IDF/BM25 ranking, BPE
  * training and encoding, n-gram language-model log-probabilities,
  * winnowing fingerprints, and sequence packing/chunking. Tokenization
  * and score formulas in the DuckDB twins are written as the identical
  * expression trees (see TextAnalysis scaladoc) so IEEE arithmetic
  * matches bitwise.
  */
object TokenQueries {

  val all: Seq[Query] = Seq(
    // CCNet perplexity terciles: bigram-LM scores labeled head/middle/
    // tail against cutoffs fit on the bounded doc_id%5 sample and
    // broadcast — the full corpus only sees a map-only comparison
    Query("text_ppl_buckets", (s, dir) =>
      TextAnalysis.pplBuckets(
        TextAnalysis.bigramLogProb(
          Tables.documents(s, dir).select("doc_id", "text"),
          "doc_id", "text")
          .select(col("doc_id"), col("avg_logprob")),
        "doc_id", "avg_logprob"),
      // same bigram-LM scores as text_bigram_logprob; cutoffs =
      // quantile_cont over the same doc_id%5 sample, rounded to 6 dp on
      // both sides BEFORE the boundary comparison
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
        |FROM sc, cuts""".stripMargin),

    Query("text_fingerprint", (s, dir) =>
      TextAnalysis.fingerprints(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .select("doc_id", "fp_exact", "fp_norm"),
      """SELECT doc_id, md5(text) AS fp_exact,
        |  md5(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS fp_norm
        |FROM documents""".stripMargin),

    // corpus bigram frequencies: shingle -> explode -> count -> top-20
    // (deterministic count desc, bigram asc ordering)
    Query("text_top_bigrams", (s, dir) =>
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
        .limit(20),
      """WITH toks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
        |), bg AS (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i + 1])) AS bigram
        |  FROM toks WHERE len(t) >= 2
        |)
        |SELECT bigram, count(*) AS n FROM bg
        |GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin),

    // TF-IDF top-3 terms per document — tf * ln(N/df), scores rounded
    // BEFORE ranking so ulp-level ln() differences can't flip the
    // cutoff; final per-doc top-k runs on the TopKPerKey heap operator
    Query("text_tfidf_topk", (s, dir) => {
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
    },
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
        |  FROM scored) WHERE rank <= 3""".stripMargin),

    // BM25 top-k retrieval (the RAG/corpus-search primitive): score all
    // docs against a fixed query term set, keep the global top 20.
    // Posting lists of |q| terms only; corpus stats fold in-plan as a
    // broadcast 1-row agg; per-term contributions sum as micro-unit
    // longs so the score is FP-order-invariant across engines
    Query("text_bm25_topk", (s, dir) =>
      TextAnalysis.bm25TopK(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", Seq("spark", "join", "window", "vector"), 20),
      // same tokenizer, same Lucene-variant BM25 arithmetic, same
      // micro-unit long summation for FP-order invariance
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
        |  FROM g) WHERE rank <= 20""".stripMargin),

    // token counting two ways: whitespace tokens + BPE-ish pre-tokens
    // (letter runs / digit runs / single punctuation) — the unit an
    // LLM-data pipeline budgets by
    Query("text_token_count", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens")),
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens
        |FROM documents""".stripMargin),

    // tokenizer-vocabulary building: top-k tokens with rank + cumulative
    // coverage fraction (the vocab-size curve); bounded-heap top-k, no
    // global sort
    Query("text_vocab_topk", (s, dir) =>
      TextAnalysis.vocabTopK(Tables.documents(s, dir), "text", 25),
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
        |FROM top""".stripMargin),

    // PMI collocations: top-25 adjacent pairs (min pair count 5) by
    // ln(N·c(ab)/(c(a)·c(b))); counts to double before the ratio, PMI
    // rounded to 6 dp before the rank cutoff
    Query("text_pmi_collocations", (s, dir) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, dir), "text",
        k = 25, minCount = 5L),
      // same double-ratio PMI; the bigram extraction reuses the
      // text_bigram_logprob unnest(range) idiom
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
        |  FROM s) WHERE rank <= 25""".stripMargin),

    // Zipf-exponent fit over the top-500 terms: exact integer
    // micro-moment sums → engine-exact OLS slope/intercept; the only
    // corpus-sized work is the term-count pass
    Query("text_zipf_fit", (s, dir) =>
      TextAnalysis.zipfFit(Tables.documents(s, dir), "text", 500),
      // same micro-moment OLS; HUGEINT sums are DuckDB's exact-integer
      // twin of Spark's decimal(38,0)
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
        |FROM sl""".stripMargin),

    // RAKE keyword extraction: stopword-delimited candidate phrases,
    // deg/freq word scores in micro-units, top-25 phrases
    Query("text_rake_keywords", (s, dir) =>
      TextAnalysis.rakeKeywords(Tables.documents(s, dir), "doc_id",
        "text", TextAnalysis.StopwordsEn, k = 25),
      // same stopword-run islands (prefix-count grouping), same
      // micro-unit deg/freq arithmetic
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
        |WHERE rk <= 25""".stripMargin),

    // winnowing fingerprint selection (MOSS): rightmost-min-of-window
    // over md5 3-gram hashes, w=4, via the declarative l/r interval
    // test — one per-doc window shuffle, ~2/(w+1) of positions kept
    Query("text_winnow_fingerprints", (s, dir) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, dir),
        "doc_id", "text", k = 3, w = 4),
      // same l/r interval test over the same md5 3-gram hashes — the
      // sequential MOSS scan re-expressed with lag/lead, so agreement
      // checks the declarative rightmost-min characterisation itself
      s"""WITH $winnowCtes
        |SELECT doc_id, CAST(pos AS INTEGER) AS pos, fp FROM s
        |WHERE $winnowKeep""".stripMargin),

    // MOSS near-dup pairing over winnowed fingerprints: pairs sharing
    // ≥2 distinct fingerprints; df≤20 hot-bucket cap bounds the
    // self-join at maxDf² per fingerprint
    Query("text_winnow_neardups", (s, dir) =>
      TextAnalysis.winnowNearDups(Tables.documents(s, dir),
        "doc_id", "text", k = 3, w = 4, minShared = 2, maxDf = 20),
      // MOSS pairing over the same selection: distinct per-doc
      // fingerprints, df-capped buckets, a<b self-join
      s"""WITH $winnowCtes,
        |sel AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, fp FROM s WHERE $winnowKeep),
        |dfc AS (SELECT fp, count(*) AS df FROM sel GROUP BY 1),
        |kept AS MATERIALIZED (SELECT sel.doc_id, sel.fp FROM sel
        |         JOIN dfc ON sel.fp = dfc.fp WHERE dfc.df <= 20)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS shared_fps
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // screen-accuracy evaluation (the dedup_minhash_est_error
    // pattern): every winnow-screen pair gets its EXACT 3-gram
    // Jaccard — the screen's quality becomes a measured, oracle-
    // checked table instead of a claim. Pairs are deterministic and
    // independently hash-checked by text_winnow_neardups; the artifact
    // only transports them into the oracle
    Query("text_winnow_screen_error", Seq("winnow_pairs"), (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val pairs = graft.Checkpoints.checkpoint(
        TextAnalysis.winnowNearDups(docs, "doc_id", "text",
          k = 3, w = 4, minShared = 2, maxDf = 20)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
          col("shared_fps")))
      val withSh = docs.select(col("doc_id").cast("long").as("doc_id"),
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("__sh"))
      Query.Out(Dedup.withJaccard(pairs, withSh, "doc_id", "__sh")
        .select(col("id_a"), col("id_b"), col("shared_fps"),
          Dedup.jaccard6(col("__ji"), col("__ju")).as("exact_jaccard"),
          (Dedup.jaccard6(col("__ji"), col("__ju")) >= 0.5).as("is_neardup")),
        Seq("winnow_pairs" -> pairs))
    },
      // pairs from the artifact; exact Jaccard recomputed from text with
      // the same shingle spelling as the minhash evaluator
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
        |       JOIN sh b ON b.doc_id = p.id_b""".stripMargin),

    // one distributed BPE-training step: adjacent char-pair counts
    // weighted by word frequency, over the distinct-word vocabulary —
    // rank 1 is the next merge
    Query("text_bpe_pairs", (s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), "text", 25),
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
        |FROM top""".stripMargin),

    // the full iterative BPE training loop (count → merge top pair →
    // recount, k rounds): the learned merge table a tokenizer ships.
    // Every round is vocabulary-sized; the oracle replays the entire
    // loop as a k-stage CTE chain, so the merge CHOICE at every rank
    // is verified, not just the apply step
    Query("text_bpe_merges", (s, dir) =>
      TextAnalysis.bpeMerges(Tables.documents(s, dir), "text", 6),
      bpeMergesOracle(6)),

    // BPE ENCODE: apply the trained merge table and bill each document its
    // token cost — train→encode is the full tokenizer loop; encoding is
    // a vocabulary join, never a per-doc merge replay
    Query("text_bpe_encode", (s, dir) =>
      TextAnalysis.bpeEncode(Tables.documents(s, dir), "doc_id", "text", 6),
      bpeEncodeOracle(6)),

    // unigram LM quality score (CCNet-style perplexity filter, order-0):
    // model trained on the corpus, scored by mean token log-prob —
    // micro-nat decimal sums keep it partition-order-invariant
    Query("text_unigram_logprob", (s, dir) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text"),
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
        |GROUP BY doc_id""".stripMargin),

    // order-1 LM (add-1-smoothed bigrams): catches shuffled/wrong-order
    // text the unigram filter scores as fluent
    Query("text_bigram_logprob", (s, dir) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, dir), "doc_id", "text"),
      // add-1-smoothed bigram LM: same micro-nat decimal discipline; the
      // ratio is a double division on both engines (DuckDB int/int is
      // true division), ln of the same double
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
        |GROUP BY doc_id""".stripMargin),

    // held-out trigram LM with stupid backoff: model trained on the
    // doc_id%10!=7 slice scores the held-out slice — backoff genuinely
    // fires (unlike corpus-trained LMs), the production crawl-scoring
    // shape; per-doc backoff counts expose model coverage. The hint is
    // an honest upper bound from the corpus manifest (every test SF's
    // documents table is ≪10M tokens, far under the 5·10⁷ broadcast
    // threshold) — the repeat-caller path that skips the sizing scan;
    // hintless planning is spec-pinned in TextAnalysisSpec
    Query("text_trigram_backoff", (s, dir) =>
      TextAnalysis.stupidBackoffLogScore(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", col("doc_id") % 10 =!= 7,
        trainTokensHint = Some(10000000L)),
      // same train/score split, same backoff cascade on word-pair joins
      // (Spark joins concatenated n-gram strings; tokens contain no
      // whitespace so the keys are equivalent), same micro-nat sums
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
        |FROM sc GROUP BY doc_id""".stripMargin),

    // sequence packing: docs → fixed-token-budget training sequences,
    // contiguously in (source, doc_id) order — pack assignment is a
    // total function of the corpus (reproducible data order); output is
    // the per-pack manifest. Registered form is the two-pass distributed
    // prefix sum (no single-task stratum sort — a 10-TB stratum would
    // serialize under the window form); the window form survives in
    // PackingSpec as the bit-equal semantic twin.
    Query("text_pack_sequences", (s, dir) =>
      TextAnalysis.packSequencesScalable(
        Tables.documents(s, dir), "doc_id", "text", "source", 512)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("pack_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc")),
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
        |FROM p GROUP BY source, pack_id""".stripMargin),

    // overlapping token-window chunking (context-window splitter):
    // map-only posexplode, chunk hash stands in for the text so chunk-
    // level exact dedup is a downstream groupBy
    Query("text_chunk_windows", (s, dir) =>
      TextAnalysis.chunkWindows(
        Tables.documents(s, dir), "doc_id", "text", 32, 24),
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
        |FROM e""".stripMargin),

    // character-entropy band signal: repeated-char padding scores low,
    // base64-ish noise high — micro-bit decimal sums, order-invariant
    Query("text_char_entropy", (s, dir) =>
      TextAnalysis.charEntropy(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text"),
      // same explode(sequence)+substr character stream, same micro-bit
      // decimal sums — -p·log2(p) terms rounded before summation
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
        |FROM e GROUP BY doc_id, len""".stripMargin),

    // DSIR importance weights: log-likelihood ratio of the lang='en'
    // target slice over the raw corpus on hashed bigram features —
    // classifier-free "looks like the target" data selection
    Query("text_dsir_weights", (s, dir) =>
      TextAnalysis.dsirLogRatio(
        Tables.documents(s, dir).select("doc_id", "lang", "text"),
        "doc_id", "text", col("lang") === "en", numBuckets = 4096),
      // same md5-hex bucket, same add-1 smoothing over 4096 buckets, same
      // micro-nat log-ratio model joined back to every bigram occurrence
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
        |FROM bb JOIN m USING (b) GROUP BY doc_id""".stripMargin)
  )

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
}
