package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.text.TextAnalysis

/** Text cleaning and quality queries: normalization, PII masking and
  * scanning, URL canonicalization, heuristic and classifier quality
  * gates, decontamination, line-level dedup and cross-corpus overlap —
  * the LLM-training-data filters. Tokenization/shingling/score formulas
  * in the DuckDB twins are written as the identical expression trees
  * (see TextAnalysis scaladoc) so IEEE arithmetic matches bitwise.
  */
object TextQueries {

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

  val all: Seq[Query] = Seq(
    // Gopher-style repetition filters (token-level): top-bigram
    // coverage + duplicated-trigram fraction per document
    Query("text_repetition_stats", (s, dir) =>
      TextAnalysis.repetitionStats(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text"),
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
        |FROM bstat b JOIN tstat t USING (doc_id)""".stripMargin),

    // train/eval decontamination: docs sharing any n-token gram with
    // the (deterministic doc_id%97) eval slice; eval grams broadcast.
    // Real pipelines use 8-13 token windows; this corpus' ~50-word
    // vocabulary needs n=4 for the overlap regime to exist at harness
    // scale (8 contaminated docs at sf0.01, 727 at sf0.1)
    Query("text_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      TextAnalysis.contamination(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 4)
    },
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
        |GROUP BY 1""".stripMargin),

    // fuzzy decontamination: training docs whose 3-gram shingle Jaccard
    // vs ANY eval doc (the deterministic doc_id%40 slice — it splits
    // known near-dup pairs at every harness scale) reaches 0.5 — the
    // paraphrase hole exact gram matching leaves. Eval postings
    // broadcast; intersection is counted, never re-joined as arrays
    Query("text_decontaminate_fuzzy", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      TextAnalysis.contaminationFuzzy(
        docs.where(col("doc_id") % 40 =!= 0),
        docs.where(col("doc_id") % 40 === 0),
        "doc_id", "text", shingleSize = 3, threshold = 0.5)
    },
      // same shingle sets, same posting-join intersection counts, same
      // round-before-threshold Jaccard as dedup_jaccard_inverted
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
        |FROM j GROUP BY 1""".stripMargin),

    Query("text_quality_stats", (s, dir) =>
      TextAnalysis.qualityStats(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .drop("text"),
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
        |FROM m""".stripMargin),

    // URL canonicalization (crawl step zero): deterministic adversarial
    // URLs — per group of 4 docs, three spellings of the same page
    // (case host/scheme, default port, fragment, tracking params,
    // param order, trailing slash, www) plus one genuinely distinct
    // URL (other scheme/port/path) that must NOT collapse
    Query("url_canonicalize", (s, dir) =>
      syntheticUrls(s, dir)
        .withColumn("url_canon", graft.text.Urls.canonicalizeUrl(col("url"))),
      // same synthesized URL strings, same regexp/list canonical chain
      s"""WITH u AS ($UrlFixtureSql)
         |SELECT doc_id, url, $UrlCanonSql AS url_canon FROM u""".stripMargin),

    // exact dedup on the canonical URL: 4 spellings → 2 survivors/group
    Query("url_dedup", (s, dir) =>
      graft.text.Urls.urlDedup(syntheticUrls(s, dir), "doc_id", "url"),
      s"""WITH u AS ($UrlFixtureSql),
         |c AS (SELECT doc_id, $UrlCanonSql AS url_canon FROM u)
         |SELECT url_canon, min(doc_id) AS doc_id,
         |  CAST(count(*) AS BIGINT) AS n_copies
         |FROM c GROUP BY 1""".stripMargin),

    // domain-blocklist filter: hosts exploded into their dot-suffix
    // chains, broadcast-semi-joined against the blocklist on EQUALITY
    // (www.example2.com falls to the blocked apex example2.com via its
    // suffix — no LIKE non-equi join anywhere), anti-joined back
    Query("url_domain_filter", (s, dir) => {
      import s.implicits._
      val blocked = Seq("example2.com", "example7.com", "blocked.test")
        .toDF("domain")
      graft.text.Urls.domainFilter(
        syntheticUrls(s, dir), "doc_id", "url", blocked)
    },
      // same host extraction, same suffix-chain explosion, same equality
      // blocklist semantics as Urls.domainFilter
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
         |  WHERE domain IN ('example2.com', 'example7.com', 'blocked.test'))""".stripMargin),

    // Gopher-rules battery (Rae et al. 2021): each raw signal plus the
    // conjunction flag, thresholds scaled to the harness corpus
    Query("text_gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text"),
      // same integer character counts and list ops; thresholds applied to
      // the ROUNDED signals on both engines
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
        |FROM r""".stripMargin),

    Query("text_lang_guess", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langGuess(col("text")).as("lang_guess")),
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
        |FROM c""".stripMargin),

    // PII masking (the redaction sibling of P3's column drop): digit-run
    // scrubbing + keep-last-4 masking, identical regex/concat trees on
    // both engines
    Query("text_pii_mask", (s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        regexp_replace(col("o_orderpriority"), "[0-9]+", "#").as("prio_masked"),
        concat(lit("************"),
          substring(lpad(col("o_orderkey").cast("string"), 16, "0"), 13, 4))
          .as("card_masked")),
      """SELECT o_orderkey,
        |  regexp_replace(o_orderpriority, '[0-9]+', '#', 'g') AS prio_masked,
        |  '************' || substring(lpad(CAST(o_orderkey AS VARCHAR), 16, '0'), 13, 4) AS card_masked
        |FROM orders""".stripMargin),

    // text normalization (the pre-hash cleanup pass): control chars →
    // space, whitespace-run collapse, trim. The corpus is already clean
    // ASCII, so both engines first build the SAME deterministically
    // dirty string (tabs/CR/LF/BEL + double spaces) and normalize it —
    // the dirt the operator exists to remove is actually present
    Query("text_normalize", (s, dir) => {
      val dirty = concat(lit("\t "), col("text"), lit("  \r\n"),
        substring(col("text"), 1, 10), lit("\u0007"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.ctrlCount(dirty).as("n_ctrl"),
        length(dirty).as("raw_len"),
        length(TextAnalysis.normalize(dirty)).as("norm_len"),
        md5(TextAnalysis.normalize(dirty).cast("binary")).as("norm_md5"))
    },
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
        |FROM n""".stripMargin),

    // PII scan battery: email / phone / IPv4 regex detection plus
    // Luhn-checked 16-digit card validation and a full redaction pass.
    // The corpus carries no PII, so both engines synthesize the same
    // deterministic contact blob per row (one valid Luhn card, one
    // corrupted) — the detectors then have real positives AND a
    // discriminating negative to find. Map-only codegen expressions.
    Query("text_pii_scan", (s, dir) => {
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
    },
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
        |FROM blob""".stripMargin),

    // the quality gate a training-data pipeline actually runs: language
    // + quality score + token-count bounds in one filter
    Query("text_quality_gate", (s, dir) => {
      val stats = TextAnalysis.qualityStats(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
      stats
        .withColumn("lang_guess", TextAnalysis.langGuess(col("text")))
        .where(col("lang_guess") === "en" &&
          col("quality_score") >= 0.4 &&
          col("n_tokens").between(10, 2000))
        .select("doc_id", "n_tokens", "quality_score")
    },
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
        |  AND en = greatest(en, de, es, fr)""".stripMargin),

    // C4/RefinedWeb corpus-level line dedup: a "line" (3-token row of
    // the single-line harness docs) appearing in >1 distinct document
    // is boilerplate, removed everywhere. One shuffle key (the line)
    // reused for both the distinct-count and the anti join
    Query("text_line_dedup", (s, dir) =>
      TextAnalysis.lineDedup(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", lineWords = 3),
      // same 3-token lines from the same regex split; duplicate set =
      // lines in >1 distinct doc; NOT IN removes them corpus-wide
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
        |WHERE line NOT IN (SELECT line FROM d)""".stripMargin),

    // per-DOMAIN boilerplate removal (the within-site C4 rule): a line
    // in ≥2 distinct docs of the SAME source is that site's
    // header/footer and removed there; the same line across different
    // sources survives
    Query("text_boilerplate_lines", (s, dir) =>
      TextAnalysis.boilerplateLineDedup(
        Tables.documents(s, dir).select("doc_id", "source", "text"),
        "doc_id", "source", "text", lineWords = 3, minDocs = 2),
      // same 3-token lines; boilerplate set = (source, line) pairs with
      // ≥2 distinct docs; anti join is per-domain (NOT EXISTS on both keys)
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
        |                  WHERE d.source = l.source AND d.line = l.line)""".stripMargin),

    // adaptive per-language length gate: drop docs under their OWN
    // language's 10th-percentile token count — fixed global thresholds
    // over-prune terse languages; the threshold is a per-group exact
    // percentile broadcast back (group-cardinality-sized model).
    // Exact `percentile` buffers each group's values (fine for the
    // oracle-checkable harness); at corpus scale swap in
    // approx_percentile — identical plan shape, bounded sketch memory
    Query("text_adaptive_length_gate", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_toks"))
      val th = d.groupBy(col("lang"))
        .agg(percentile(col("n_toks"), lit(0.1)).as("__p10"))
      d.join(broadcast(th), "lang")
        .where(col("n_toks") >= col("__p10"))
        .select(col("doc_id"), col("lang"), col("n_toks"),
          round(col("__p10"), 6).as("p10"))
    },
      // same linear-interpolation (type-7) percentile per language, same
      // >= cutoff on the unrounded threshold
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER)
        |      AS n_toks
        |  FROM documents),
        |th AS (SELECT lang, quantile_cont(n_toks, 0.1) AS p10
        |       FROM d GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_toks, round(th.p10, 6) AS p10
        |FROM d JOIN th USING (lang)
        |WHERE d.n_toks >= th.p10""".stripMargin),

    // the composed curation pipeline, end to end: exact keep-first
    // dedup → Gopher quality gate → balanced byte-budget sharding,
    // reported as a per-source funnel (raw → post-dedup → kept, with
    // kept token/byte mass and shard count). One tagging pass computes
    // the dedup-survivor flag AND the quality signals (gopherRules'
    // keep-through columns — no re-join on the id); the tagged frame is
    // pinned once so the funnel aggregate and the prefix-sum sharder
    // both read it instead of recomputing the lineage (the tag pass is
    // the only corpus-sized scan in the whole pipeline)
    Query("pipeline_curation_e2e", (s, dir) => {
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      val t = graft.Checkpoints.checkpoint(TextAnalysis.gopherRules(
        Tables.documents(s, dir).select("doc_id", "text", "source", "n_chars")
          .withColumn("is_first", (row_number().over(w) === 1).cast("int")),
        "doc_id", "text", keep = Seq("source", "n_chars", "is_first")))
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
    },
      // the composed funnel: keep-first dedup flag + the gopher-rules
      // arithmetic (same expressions as text_gopher_rules, thresholds on
      // the 6-dp-rounded ratios) + the same exclusive-prefix-sum shard
      // rule as text_shard_by_bytes, restricted to the kept set
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
        |FROM f LEFT JOIN ns ON ns.source = f.source""".stripMargin),

    // classifier-based quality filter (CCNet/fastText shape): logistic
    // regression over md5-hashed token buckets, trained distributed on
    // a FIXED-SIZE content-hash sample (~250 docs whatever the corpus
    // — the CCNet discipline; one corpus scan builds the persisted
    // bucket-array cache, then 3 GD passes read only the sample) with
    // micro-unit-long gradient sums (bit-identical weights whatever
    // the partitioning), scored map-only over the FULL corpus. The
    // trained model is an artifact (bucket -1 = bias, micro units); the
    // oracle re-scores every doc from it
    Query("text_quality_classifier", Seq("quality_lr"), (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
      val (w, b) = graft.text.QualityClassifier.train(
        docs, "text", col("lang") === "en", numBuckets = 256, iters = 3,
        sampleMod = graft.text.QualityClassifier.sampleModFor(
          docs.count(), 250))
      Query.Out(graft.text.QualityClassifier.score(docs, "doc_id", "text",
        w, b, numBuckets = 256, threshold = 0.5),
        Seq("quality_lr" -> OracleAux.linearModel(s, w, b)))
    },
      // scoring re-derived from the materialized micro-unit model: same
      // md5 bucket, integer weight sum (order-free), same sigmoid + 6dp
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
        |SELECT doc_id, p_quality, p_quality >= 0.5 AS keep FROM p""".stripMargin),

    // threshold calibration for the trained filter: the keep threshold
    // is an OPERATING POINT someone must pick, so sweep it — per
    // threshold in {0.1..0.9}, the confusion counts and P/R/F1 against
    // the heuristic label, from ONE map-only scoring pass (label rides
    // through scoring via keepCols; the 9-way fan-out is an array
    // explode of a literal grid, not 9 scans). The model is its own
    // artifact; the oracle re-scores every doc from it and replays the
    // same sweep arithmetic
    Query("text_quality_pr_curve", Seq("quality_lr_pr"), (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
      val (w, b) = graft.text.QualityClassifier.train(
        docs, "text", col("lang") === "en", numBuckets = 256, iters = 3,
        sampleMod = graft.text.QualityClassifier.sampleModFor(
          docs.count(), 250))
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
      Query.Out(conf.withColumn("precision", p).withColumn("recall", r)
        .withColumn("__zp", round(col("precision") * 1e6, 0).cast("long"))
        .withColumn("__zr", round(col("recall") * 1e6, 0).cast("long"))
        .withColumn("f1",
          when(col("precision") + col("recall") > 0,
            TextAnalysis.exactRound6Ratio(
              lit(2L) * col("__zp") * col("__zr"),
              (col("__zp") + col("__zr")) * lit(1000000L))))
        .drop("__zp", "__zr"),
        Seq("quality_lr_pr" -> OracleAux.linearModel(s, w, b)))
    },
      // same per-doc scoring from the materialized micro-unit model,
      // label from lang, then the 9-threshold sweep with P/R/F1 computed
      // from the 6-dp-rounded components on both sides
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
        |FROM pr""".stripMargin),

    // cross-source overlap matrix: distinct shared 3-token lines per
    // source pair + per-side overlap fractions — which sources are
    // contaminated with each other, BEFORE they join a training mix
    Query("text_source_overlap", (s, dir) =>
      TextAnalysis.sourceOverlapMatrix(
        Tables.documents(s, dir).select("source", "text"),
        "source", "text", lineWords = 3),
      // same ceil-segmented lines as text_line_dedup, distinct per
      // (source, line), pair counts via the same line-key self-join
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
        |       JOIN tot tb ON tb.source = src_b""".stripMargin),

    // the 100-TB form of the overlap matrix: per-source HLL sketches
    // of the distinct lines (one linear pass, no per-source distinct
    // shuffle, no line-keyed self-join) + pairwise union /
    // inclusion-exclusion over the k×k sketch-only frame. Estimates
    // are hash-dependent → pinned and declared; exact shared counts
    // re-scored on both sides so the sketch's error is a measured,
    // oracle-checked number (the dedup_minhash_est_error calibration
    // pattern)
    Query("corpus_overlap_sketch", Seq("overlap_hll"), (s, dir) => {
      val docs = Tables.documents(s, dir).select("source", "text")
      val est = graft.Checkpoints.checkpoint(
        TextAnalysis.sourceOverlapSketch(docs, "source", "text",
          lineWords = 3, lgK = 12))
      val exact = TextAnalysis.sourceOverlapMatrix(docs, "source", "text",
          lineWords = 3)
        .select(col("src_a"), col("src_b"), col("n_shared"))
      Query.Out(est.join(exact, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
          col("est_union"), col("est_shared"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          abs(col("est_shared") - coalesce(col("n_shared"), lit(0L)))
            .as("abs_err")), Seq("overlap_hll" -> est))
    },
      // sketch estimates from the aux dump (hash-dependent); exact
      // shared-line counts re-derived with the same line CTE as
      // text_source_overlap, error materialized on both sides
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
        |  ON p.src_a = e.src_a AND p.src_b = e.src_b""".stripMargin),

    // Count-Min-Sketch heavy hitters: estimated vs exact counts for
    // the exact top-20 terms, plus the one-sided overcount. The CMS
    // path answers per-term frequency from a fixed-size counter grid
    // (one map-side-combined scan, NO vocabulary shuffle); the exact
    // top-k here is the calibration reference. Estimates are
    // hash-function-dependent (seeded) → a declared artifact; exact
    // counts re-derived by the oracle. Integer cell merges make
    // the estimates bit-identical whatever the partitioning — CMS is
    // the deterministic sketch, unlike the HLL estimator
    Query("corpus_heavyhitters_cms", Seq("cms_est"), (s, dir) => {
      val docs = Tables.documents(s, dir).select("text")
      val cms = TextAnalysis.cmsTokenSketch(docs, "text",
        eps = 1e-4, confidence = 0.99, seed = 42)
      val exactTop = TextAnalysis.vocabTopK(docs, "text", 20)
        .select("term", "cnt", "rank")
      val terms = exactTop.select("term").collect().map(_.getString(0))
      val est = TextAnalysis.cmsEstimates(s, cms, terms.toSeq)
      Query.Out(est.join(broadcast(exactTop), Seq("term"))
        .select(col("term"), col("rank"), col("cnt"), col("est_cnt"),
          (col("est_cnt") - col("cnt")).as("overcount")),
        Seq("cms_est" -> est))
    },
      // estimates from the aux dump (seeded-hash-dependent); exact
      // top-20 counts re-derived with the text_vocab_topk CTE
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
        |FROM est e JOIN top t ON t.term = e.term""".stripMargin),

    // corpus-level n-gram novelty: share of a doc's distinct trigram
    // shingles with corpus df=1 — posting-LENGTH read, no df² join
    Query("text_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text",
        n = 3),
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
        |GROUP BY doc_id""".stripMargin),

    // incremental AGGREGATE maintenance — the rollup twin of the
    // incremental dedup family: the persisted agg state (group → count
    // + exact integer-cent sum) merges with a batch partial via a
    // second agg; mergeable representations make merged == full
    // recompute BIT-EXACT, which is precisely what the from-scratch
    // oracle asserts. At 100 TB the state is group-cardinality-sized
    // and the corpus is never re-scanned to refresh the rollup.
    Query("agg_incremental_merge", (s, dir) => {
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
    },
      // the oracle IS the from-scratch rollup: a green row asserts the
      // state+batch merge is bit-equal to recomputing over all orders
      // (integer-cent sums are order- and merge-invariant)
      """SELECT o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  count(*) AS n_orders,
        |  round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0, 2)
        |    AS total_price
        |FROM orders GROUP BY 1, 2""".stripMargin),

    // corpus snapshot diff — the dataset-versioning audit between two
    // corpus versions: added / removed / changed / unchanged per doc by
    // content fingerprint, via ONE co-partitioned full outer join on
    // the doc key (at 100 TB both snapshots shuffle once on doc_id and
    // nothing else moves — the diff is join-local). Version B is the
    // %5 slice with every %3 doc's text mutated, so all four statuses
    // occur; real pipelines pass two real snapshot tables.
    Query("corpus_snapshot_diff", (s, dir) => {
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
    },
      // same md5 content fingerprints, same slice/mutation rules, same
      // status cascade over a full outer join
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
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin)
  )

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
}
