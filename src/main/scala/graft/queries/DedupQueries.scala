package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoints
import graft.model.Tables
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Deduplication queries: exact and keep-first dedup, MinHash/LSH with
  * clustering and tuning, inverted-index Jaccard, containment,
  * suffix-array substring spans, SimHash and incremental (novel-only)
  * dedup against an already-kept corpus.
  */
object DedupQueries {

  val all: Seq[Query] = Seq(
    // exact substring dedup (Lee et al. ExactSubstr): stride-1 8-token
    // sliding-window fingerprints; corpus-duplicated windows merge into
    // maximal per-doc removed spans — duplicate text at ARBITRARY
    // offsets, which aligned line dedup and stride-aligned chunk
    // hashing both miss
    Query("dedup_substring_spans", (s, dir) =>
      TextAnalysis.substringDupSpans(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", n = 8),
      // same window generation via list_slice over range(), same
      // duplicate rule (corpus count > 1), same lag-based interval merge
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
        |FROM spans GROUP BY 1, 2""".stripMargin),

    // the accounting view of the same operator: per-doc kept/removed
    // token budget after span removal (every doc present)
    Query("dedup_substring_summary", (s, dir) =>
      TextAnalysis.substringDedupSummary(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", n = 8),
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
        |FROM toks t LEFT JOIN rem USING (doc_id)""".stripMargin),

    // the APPLY step: the cleaned corpus itself (duplicated spans cut
    // out of every document, full corpus preserved via left join)
    Query("dedup_substring_apply", (s, dir) =>
      TextAnalysis.substringDedupApply(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", n = 8),
      // apply step: token i kept iff no duplicated window offset covers
      // it (1-based lambda index → i-1); same window/dup CTEs as above
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
        |FROM toks t LEFT JOIN sl ON t.doc_id = sl.doc_id""".stripMargin),

    // the ingest-cycle form: new-batch docs (doc_id%10==7) deduplicated
    // against the PERSISTED bucketed window index of the rest of the
    // corpus — the batch side is the only exchange (plan-audited)
    Query("dedup_substring_incremental", (s, dir) => {
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val wins = TextAnalysis.windowFingerprints(docs, "doc_id", "text", 8)
      graft.etl.Bucketing.writeBucketed(
        wins.where(col("doc_id") % 10 =!= 7).select("w").distinct(),
        s"graft_win_index_$sfx", OracleAux.dir(dir, "win_index"), "w", 8)
      TextAnalysis.substringDedupIncremental(
        wins.where(col("doc_id") % 10 === 7),
        s.table(s"graft_win_index_$sfx"), "doc_id", n = 8)
    },
      // incremental: batch windows (doc_id%10==7) found in the corpus
      // window set, merged into spans with the same lag rule
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
        |FROM spans GROUP BY 1, 2""".stripMargin),

    Query("dedup_exact", (s, dir) =>
      Dedup.dedupExact(Tables.documents(s, dir), "text", "doc_id")
        .select(md5(col("text").cast("binary")).as("text_hash"),
          col("doc_id"), col("n_copies")),
      """SELECT md5(text) AS text_hash, min(doc_id) AS doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin),

    // the dedup OUTPUT: surviving corpus after exact dedup (first doc
    // per distinct text wins)
    Query("dedup_keep_first", (s, dir) =>
      Dedup.dedupExactRows(Tables.documents(s, dir), "text", "doc_id")
        .select("doc_id", "lang", "source", "n_chars"),
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin),

    // MinHash LSH near-dups: banding tuned for j≥0.8. 32 hashes in 16
    // 2-row bands puts the per-pair miss probability at (1-j²)^16 —
    // ≈8e-8 at the j=0.80 threshold itself and ≈2e-8 at the j≈0.82
    // cross-replica pairs a replicated fixture plants (the r13 sf1.0
    // sweep caught exactly one such miss under the old 16/8 banding,
    // whose per-pair miss at j=0.82 was ≈1.3e-4) — so LSH output ==
    // exact output with margin even at ~1e6 true pairs, and the exact-
    // jaccard oracle below stays a valid twin
    Query("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.8),
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
        |WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.8""".stripMargin),

    // cluster-level dedup: near-dup pairs → connected components → one
    // canonical (min-id) doc per cluster. The pair list is pinned and
    // declared so DuckDB can verify the component step via a recursive
    // transitive-closure CTE; the iterative Spark loop is
    // Dedup.connectedComponents (large-star/small-star, checkpointed
    // per round)
    Query("dedup_cluster_canonical", Seq("neardup_pairs"), (s, dir) => {
      val pairs = Checkpoints.checkpoint(
        Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.8)
        .select("id_a", "id_b"))
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val w = Window.partitionBy(col("cluster_id"))
      Query.Out(
        comp.select(col("id").as("doc_id"), col("label").as("cluster_id"))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .withColumn("keep", col("doc_id") === col("cluster_id")),
        Seq("neardup_pairs" -> pairs))
    },
      // transitive closure over the materialized pair list, then
      // cluster id = min reachable node — exact twin of the connected-
      // components fixpoint
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
        |FROM comp""".stripMargin),

    // the full near-dup dedup decision a real pipeline ships: cluster
    // the pair graph, then keep the BEST-quality doc per cluster (not
    // min-id) — rank by (quality desc, doc_id asc); Spark plans the
    // rn==1 filter as its native per-cluster group limit
    Query("dedup_cluster_keep_best", Seq("neardup_pairs_kb"), (s, dir) => {
      val pairs = Checkpoints.checkpoint(
        Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.8)
        .select("id_a", "id_b"))
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      val q = graft.text.TextAnalysis.qualityStats(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .select(col("doc_id"), col("quality_score"))
      val w = Window.partitionBy(col("cluster_id"))
      val wOrd = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality_score").desc, col("doc_id").asc)
      Query.Out(comp.join(q, "doc_id")
        .withColumn("n_docs", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(wOrd))
        .where(col("rn") === 1)
        .select(col("cluster_id"), col("n_docs"),
          col("doc_id").as("keep_doc_id"),
          col("quality_score").as("best_quality")),
        Seq("neardup_pairs_kb" -> pairs))
    },
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
        |FROM r WHERE rn = 1""".stripMargin),

    // EXACT full-corpus Jaccard pairs via the inverted shingle index —
    // subquadratic (Σ df² posting pairs, not n²), upgrading the bounded
    // crossJoin baseline to the whole corpus
    Query("dedup_jaccard_inverted", (s, dir) =>
      Dedup.jaccardPairsInverted(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3, threshold = 0.8),
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
        |    / 1000000.0 >= 0.8""".stripMargin),

    // MinHash sketch calibration: per LSH candidate pair, the signature
    // jaccard ESTIMATE next to the exact jaccard + abs error — sizes
    // numHashes for the threshold before trusting the sketch at scale.
    // Estimates are a declared artifact (hash-dependent, not
    // SQL-expressible); the oracle recomputes exact + error from them
    Query("dedup_minhash_est_error", Seq("mh_est"), (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val est = Checkpoints.checkpoint(
        Dedup.minhashEstimatePairs(docs, "doc_id", "text")
          .select("id_a", "id_b", "est_jaccard"))
      val withSh = docs.select(col("doc_id").cast("long").as("doc_id"),
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("__sh"))
      Query.Out(Dedup.withJaccard(est, withSh, "doc_id", "__sh")
        .select(col("id_a"), col("id_b"), col("est_jaccard"),
          Dedup.jaccard6(col("__ji"), col("__ju")).as("exact_jaccard"),
          round(abs(col("est_jaccard") -
            Dedup.jaccard6(col("__ji"), col("__ju"))), 6).as("abs_err")),
        Seq("mh_est" -> est))
    },
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
        |FROM e""".stripMargin),

    // LSH banding tuner: the S-curve evaluated over THIS corpus's
    // observed candidate-pair jaccard distribution — one row per
    // (bands, rows) factorization of the 16-hash signature, with
    // data-weighted expected recall (hi pairs) and candidate waste
    // (lo pairs). Candidate pairs are hash-dependent → a declared
    // artifact; the oracle recomputes exact jaccard and the
    // squaring-chain probabilities from text
    Query("dedup_lsh_tuning", Seq("lsh_tune"), (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val pairs = Checkpoints.checkpoint(
        Dedup.minhashEstimatePairs(docs, "doc_id", "text")
          .select("id_a", "id_b"))
      val withSh = docs.select(col("doc_id").cast("long").as("doc_id"),
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("__sh"))
      val pw = Dedup.withJaccard(pairs, withSh, "doc_id", "__sh")
        // boundary-exact input jaccard: the tuner's own round(·, 6) is
        // then an identity on an exact micro-multiple (r16 sweep)
        .withColumn("jaccard", Dedup.jaccard6(col("__ji"), col("__ju")))
      Query.Out(Dedup.lshBandingTune(pw, "jaccard", numHashes = 16,
        hiThreshold = 0.5), Seq("lsh_tune" -> pairs))
    },
      // estimates read from the materialized aux (hash-dependent); exact
      // jaccard + error recomputed from text — validates the sketch
      // evaluation arithmetic engine-for-engine
      lshTuningOracleSql),

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
    Query("dedup_containment", (s, dir) =>
      Dedup.containmentPairsAuto(Tables.documents(s, dir), "doc_id",
        "text", shingleSize = 3, threshold = 0.5),
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
        |       // (2 * sa.sz) AS DOUBLE) / 1000000.0 >= 0.5""".stripMargin),

    // the batch (excerpt-detection) mode — THE way to run containment
    // at corpus scale: the prefix side is a fixed query slice, the
    // corpus contributes one linear posting pass (×128-probed
    // near-flat); output = the unrestricted join filtered to the batch.
    // Routed through the AUTO entry (r15): the measured Σdf² gate picks
    // count-verify where it is measured-cheap (bench scale: 1.7 s vs
    // the plan-stats broadcast route's 5.3 s) and the broadcast
    // array-verify only in the mid-scale regime where IT is faster
    Query("dedup_containment_batch", (s, dir) =>
      Dedup.containmentPairsAuto(Tables.documents(s, dir), "doc_id",
        "text", shingleSize = 3, threshold = 0.5,
        aFilter = col("doc_id") % 2 === 1),
      // the unrestricted containment oracle filtered to the odd-id batch
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
        |       // (2 * sa.sz) AS DOUBLE) / 1000000.0 >= 0.5""".stripMargin),

    // bounded-cost APPROXIMATE containment screen (bottom-k sketch)
    // for the all-pairs regime the exact join is spill-bound in: the
    // A-side explodes ≤ k postings per doc (constant) instead of the
    // (1-t)·|a| prefix. Estimates are a declared artifact
    // (hash-dependent); exact containment + abs error are re-scored
    // from the full shingle sets — the dedup_minhash_est_error
    // calibration pattern, so the screen's error is a measured,
    // oracle-checked number
    Query("dedup_containment_sketch", Seq("cont_sketch"), (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val est = Checkpoints.checkpoint(
        Dedup.containmentSketchPairs(docs, "doc_id", "text",
          shingleSize = 3, k = 8, minEst = 0.3,
          maxJoinPairs = Dedup.DefaultMaxCandidatePairs))
      val withSh = docs.select(col("doc_id").cast("long").as("doc_id"),
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3).as("__sh"))
      Query.Out(Dedup.withContainment(est, withSh, "doc_id", "__sh")
        .select(col("id_a"), col("id_b"), col("est_containment"),
          col("exact_containment"),
          round(abs(col("est_containment") - col("exact_containment")), 6)
            .as("abs_err")), Seq("cont_sketch" -> est))
    },
      // sketch estimates read from the materialized aux (hash-dependent);
      // exact containment + error recomputed from text — the screen's
      // bounded-error claim as an engine-for-engine-checked number
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
        |FROM e""".stripMargin),

    // incremental ingest dedup: only the NEW batch's fingerprints shuffle
    // against the existing corpus (left_anti) — at 100 TB the corpus
    // side is a bucketed fingerprint index and the new batch is the
    // only moving data; novel docs flow on, dups are dropped
    Query("dedup_incremental_novel", (s, dir) => {
      val fp = graft.text.TextAnalysis.fingerprints(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .select(col("doc_id"), col("fp_norm"))
      fp.where(col("doc_id") % 10 === 7)
        .join(fp.where(col("doc_id") % 10 =!= 7), Seq("fp_norm"), "left_anti")
        .select("doc_id", "fp_norm")
    },
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS fp_norm
        |  FROM documents
        |)
        |SELECT b.doc_id, b.fp_norm
        |FROM fp b WHERE b.doc_id % 10 = 7 AND NOT EXISTS (
        |  SELECT 1 FROM fp c WHERE c.doc_id % 10 <> 7 AND c.fp_norm = b.fp_norm)""".stripMargin),

    // incremental dedup against a PERSISTED bucketed fingerprint index:
    // the corpus side is written once as a bucketed table on fp_norm
    // (the pre-paid shuffle), so the per-batch anti-join exchanges ONLY
    // the new batch — at 100 TB the corpus index is petabyte-scale and
    // static per ingest cycle while each batch is tiny; re-shuffling
    // the corpus per batch (what dedup_incremental_novel models) is the
    // thing this variant retires. Plan-audited: exactly one exchange,
    // on the batch side (PlanAuditSpec).
    Query("dedup_incremental_bucketed", (s, dir) => {
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
    },
      // same semantics as dedup_incremental_novel — the bucketed variant
      // changes the physical plan (where the exchange lands), not the result
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS fp_norm
        |  FROM documents
        |)
        |SELECT b.doc_id, b.fp_norm
        |FROM fp b WHERE b.doc_id % 10 = 7 AND NOT EXISTS (
        |  SELECT 1 FROM fp c WHERE c.doc_id % 10 <> 7 AND c.fp_norm = b.fp_norm)""".stripMargin),

    // paragraph-level exact dedup, keep-first (Dolma-style): recurring
    // 32-token non-overlapping chunks keep only their first occurrence
    // in (doc_id, chunk_id) order — partial-mergeable struct-min, no
    // per-group sort on a potentially hot chunk hash
    Query("dedup_chunk_keep_first", (s, dir) =>
      graft.text.TextAnalysis.chunkKeepFirst(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", chunkTokens = 32),
      // same 32-token non-overlapping chunks as text_chunk_windows; the
      // unique (doc_id, chunk_id) order makes row_number()=1 identical to
      // the struct-min arg-min the Spark side computes
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
        |FROM ch""".stripMargin),

    // exact brute-force n-gram Jaccard on a bounded slice — the oracle-
    // checkable baseline for the LSH path
    Query("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).where(col("doc_id") < 200),
        "doc_id", "text", shingleSize = 3, threshold = 0.8),
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
        |    / 1000000.0 >= 0.8""".stripMargin),

    // SimHash near-dups (hamming ≤ 7 on 64-bit fingerprints; the corpus'
    // planted dup pairs measure hamming 0-7). The fingerprints are a
    // declared artifact so DuckDB can verify the PAIR step exactly
    // (bit_count(xor) over all pairs) — the fingerprint expression
    // itself is covered by DedupSpec
    Query("dedup_simhash", Seq("simhash_fp"), (s, dir) => {
      val fps = Checkpoints.checkpoint(Tables.documents(s, dir).select(
        col("doc_id"),
        Dedup.simhash64(graft.text.TextAnalysis.tokens(col("text"))).as("fp")))
      Query.Out(Dedup.simhashCandidatePairs(fps, "doc_id", "fp",
        maxHamming = 7), Seq("simhash_fp" -> fps))
    },
      // pair step over the fingerprint artifact (the pinned rows the
      // Spark pair step read, written by Verify with the query's output)
      s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        |FROM read_parquet('${OracleAux.sqlDir("simhash_fp")}/*.parquet') a
        |JOIN read_parquet('${OracleAux.sqlDir("simhash_fp")}/*.parquet') b
        |  ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 7""".stripMargin)
  )

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
}
