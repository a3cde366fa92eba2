package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.text.TextAnalysis

/** Corpus mixing queries: stratified, quota, epoch, temperature,
  * reservoir and weighted sampling, leak-free splits, byte-budget
  * sharding and drift statistics between corpus slices.
  */
object SamplingQueries {

  val all: Seq[Query] = Seq(
    // deterministic stratified sampling (corpus mixing): md5-bucket
    // keep decision per source — upsample src0/src1, downsample rest.
    // Reproducible across partitionings (unlike rand(seed)); the
    // oracle recomputes every bucket from the same md5 arithmetic
    Query("sample_stratified_mix", (s, dir) =>
      graft.etl.Sampling.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source",
        rates = Map("src0" -> 80, "src1" -> 60, "src2" -> 40),
        defaultRate = 20, salt = "mix1"),
      """WITH b AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 8))
        |      AS UBIGINT) % 100 AS BIGINT) AS strat_bucket
        |  FROM documents
        |)
        |SELECT doc_id, source, n_chars, strat_bucket FROM b
        |WHERE strat_bucket < CASE source
        |  WHEN 'src0' THEN 80 WHEN 'src1' THEN 60 WHEN 'src2' THEN 40
        |  ELSE 20 END""".stripMargin),

    // token-budget mixing: training mixes are specified in TOKENS, not
    // docs — per-source deterministic-shuffle order, kept while the
    // exclusive prefix token sum is under the budget. Registered form
    // is the two-pass distributed prefix sum (no single-task stratum
    // sort); the window twin stays spec-equal in SamplingSpec
    Query("sample_token_budget", (s, dir) =>
      graft.etl.Sampling.tokenBudgetMixScalable(
        Tables.documents(s, dir).select("doc_id", "source", "text"),
        "doc_id", "text", "source", budgetTokens = 600L),
      // same md5-of-id order, same exclusive window prefix sum, same
      // floor-semantics cutoff
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
        |SELECT source, doc_id, n_toks FROM c WHERE before < 600""".stripMargin),

    // ingest drift gate: PSI over fixed-width n_chars buckets between
    // the standing corpus (doc_id%10!=7) and the arriving batch slice —
    // a shifted scrape fails loudly BEFORE joining the training mix
    Query("drift_psi_nchars", (s, dir) =>
      graft.etl.Drift.psiByBucket(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", col("doc_id") % 10 =!= 7, col("doc_id") % 10 === 7,
        bucketWidth = 50, maxBucket = 19),
      // same fixed-width clamped buckets, same add-1 smoothing over the
      // FULL 20-bucket domain (empty buckets emit their smoothing-only
      // term), same single-expression PSI term over exact counts
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
        |FROM c, t""".stripMargin),

    // two-sample Kolmogorov–Smirnov drift — the bucket-free complement
    // of the PSI gate: worst-point CDF divergence between view and
    // purchase transaction values, exact via integer cross-multiplied
    // CDF gaps and a hierarchical (bucket + offset) prefix sum
    Query("drift_ks_value", (s, dir) =>
      graft.etl.Drift.ksDistance(Tables.events(s, dir), "value",
        col("event_type") === "view", col("event_type") === "purchase"),
      // naive single-window CDF formulation — different plan shape from
      // the Spark side's hierarchical prefix sum, identical integers
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
        |LIMIT 1""".stripMargin),

    // per-domain quota capping: keep the top-5 docs per source by
    // (n_chars desc, doc_id asc) on the TopKPerKey heap operator — the
    // "no domain may dominate the mix" web-corpus rule
    Query("sample_domain_quota", (s, dir) =>
      graft.plans.TopKPerKey.topKPerKey(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        Seq("source"), Seq("n_chars" -> true, "doc_id" -> false), 5),
      // row_number twin of the TopKPerKey heap operator
      """SELECT doc_id, source, n_chars, rank FROM (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS INTEGER) AS rank
        |  FROM documents)
        |WHERE rank <= 5""".stripMargin),

    // epoch-aware mix EXECUTION (the up-sampling half of mixing): per-
    // source token targets → per-doc repeat counts, full epochs capped
    // at 3 + a deterministic md5-order residual prefix. src1's target
    // oversubscribes (cap binds), src0/src2 exercise the floor-epochs
    // and residual-only regimes at harness scales
    Query("sample_epoch_mix", (s, dir) =>
      graft.etl.Sampling.epochMix(
        Tables.documents(s, dir).select("doc_id", "source", "text"),
        "doc_id", "text", "source",
        targets = Map("src0" -> 4000L, "src1" -> 100000L, "src2" -> 700L),
        maxEpochs = 3),
      // same md5-of-id prefix order, same integer epoch/residual
      // arithmetic over per-source token totals
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
        |WHERE n_repeats >= 1""".stripMargin),

    // α-temperature source weights (the multilingual/multi-source
    // sampling rule, e.g. mC4 / XLM-R: p_i ∝ n_i^α with α = 0.3 —
    // up-samples tail sources, caps the head): per-source token mass,
    // raw share, temperature share, and the boost each source gets.
    // w_i rounds to micro-units BEFORE the total so the normalizing
    // sum is an exact integer (partition-order-invariant); shares
    // divide the micro values on both sides
    Query("sample_temperature_weights", (s, dir) => {
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
    },
      // same md5-of-group-key bucket arithmetic as the stratified mix
      // same micro-unit weight rounding before the exact integer
      // normalizer; shares and boost divide the rounded values
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
        |FROM z""".stripMargin),

    // per-key uniform reservoir: 10 docs per source by md5 draw,
    // through the TopKPerKey bounded heap (map-side ≤ k per key, the
    // exchange carries ≤ k·|keys| rows — never a full-group sort)
    Query("sample_reservoir_per_key", (s, dir) =>
      graft.etl.Sampling.reservoirPerKey(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source", k = 10, salt = "res1"),
      // the same md5-prefix draw, ranked per source — k smallest kept
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
        |FROM r WHERE rk <= 10""".stripMargin),

    // leak-free train/valid/test split: the split decision hashes the
    // GROUP key (source), so near-duplicate docs within one source can
    // never straddle train and test — map-only, no group table join
    Query("sample_leakfree_split", (s, dir) =>
      graft.etl.Sampling.leakFreeSplit(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", salt = "split1", trainPct = 80, validPct = 10),
      """WITH b AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(CAST(('0x' || substr(md5(source || ':split1'), 1, 8))
        |      AS UBIGINT) % 100 AS BIGINT) AS split_bucket
        |  FROM documents)
        |SELECT doc_id, source, n_chars, split_bucket,
        |  CASE WHEN split_bucket < 80 THEN 'train'
        |       WHEN split_bucket < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin),

    // weighted sampling without replacement (Efraimidis–Spirtes):
    // top-10 docs per source by u^(1/n_chars) priority — long docs
    // drawn proportionally more; md5 uniform + micro-unit ln(u)/w rank
    Query("sample_weighted_per_key", (s, dir) =>
      graft.etl.Sampling.weightedSamplePerKey(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", k = 10, salt = "wres1"),
      // same md5 48-bit uniform and micro-unit ln(u)/w priority; DuckDB
      // ranks with row_number under the identical (priority desc, id)
      // total order
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
        |FROM r WHERE rk <= 10""".stripMargin),

    // balanced output sharding by byte budget (the corpus-export
    // writer): shard = floor(exclusive-prefix-byte-sum / budget) in
    // (source, doc_id) order via the same two-pass distributed prefix
    // sum as pack_sequences — no single-task stratum sort at 100 TB
    Query("text_shard_by_bytes", (s, dir) =>
      TextAnalysis.shardByBytes(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", "source", budgetBytes = 4000L)
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum("n_bytes").as("shard_bytes"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc")),
      // same exclusive window prefix sum as pack_sequences, byte weights
      """WITH p AS (
        |  SELECT source, doc_id, n_chars AS n_bytes,
        |    CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_chars) / 4000.0) AS INTEGER) AS shard_id
        |  FROM documents)
        |SELECT source, shard_id, count(*) AS n_docs,
        |  CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY source, shard_id""".stripMargin)
  )
}
