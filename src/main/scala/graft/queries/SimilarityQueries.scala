package graft.queries

import org.apache.spark.sql.functions._
import graft.Checkpoints
import graft.model.Tables
import graft.similarity.Similarity
import graft.text.TextAnalysis

/** Embedding similarity queries: brute-force, LSH, PQ, IVF and IVF-PQ
  * top-k search with recall checks, hybrid ranking, MMR reranking,
  * k-means cells, clustering quality, embedding statistics and
  * semantic dedup.
  */
object SimilarityQueries {

  val all: Seq[Query] = Seq(
    Query("sim_topk_bruteforce", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        emb.where(col("vec_id") < 8), emb, "vec_id", "embedding", k = 10)
    },
      // DuckDB's list_cosine_similarity over double-cast arrays reproduces
      // the zip_with/aggregate fold bit-for-bit (verified at sf0.01)
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
        |FROM r WHERE rank <= 10""".stripMargin),

    // hard-negative mining (DPR shape): top-10 sub-threshold neighbors
    // per anchor with margin to the anchor's best positive; 0.35 sits
    // inside this corpus's similarity band so some anchors carry
    // positives (finite margins) and some don't (null margins)
    Query("sim_hard_negatives", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(
        emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
        k = 10, posThreshold = 0.35)
    },
      // cosines rounded to 6 dp BEFORE the positive/negative split and
      // the ranking — same discipline as the Spark side
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
        |FROM n WHERE rank <= 10""".stripMargin),

    // hybrid retrieval: RRF fusion of the lexical BM25 top-50 and the
    // dense cosine top-50 (vec_id ≡ doc_id on the embedded corpus
    // slice). Only RANKS cross the sparse/dense boundary — no score
    // calibration — and contributions are micro-unit longs, so the
    // fused order is engine-exact. Both inputs arrive already top-k;
    // the fusion itself is corpus-size-independent
    Query("sim_hybrid_rrf", (s, dir) => {
      val lex = TextAnalysis.bm25TopK(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", Seq("spark", "join", "window", "vector"), 50)
        .select(col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.bruteForceTopK(
        emb.where(col("vec_id") === 0), emb, "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, dense), "doc_id", "rank", topK = 20)
    },
      // hybrid RRF: the bm25 CTE chain (top 50) + the cosine ranking
      // (query vec_id 0, top 50), fused via integer micro-unit
      // round(1e6/(60+rank)) contributions — rank-only fusion, so both
      // engines agree exactly
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
        |  FROM f) WHERE rank <= 20""".stripMargin),

    // per-dimension corpus standardization (whitening): micro-unit
    // integer moments, cleared-fraction z with one sqrt; 64-row stats
    // broadcast back → map-only scoring
    Query("sim_embedding_standardize", (s, dir) =>
      Similarity.standardizeEmbeddings(
        Tables.embeddings(s, dir), "vec_id", "embedding"),
      // same micro-unit moments; DuckDB's unnest-with-position struct
      // trick supplies (dim, v); zero-based dim matches posexplode
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
        |FROM x JOIN v ON x.dim = v.dim""".stripMargin),

    // class-separability diagnostic: per label pair, centroid cosine
    // + both classes' mean within-class distance (micro-exact)
    Query("sim_label_separation", (s, dir) =>
      Similarity.labelSeparation(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label"),
      // same micro-unit centroids, per-row rounded distances, and
      // cleared-fraction centroid cosine
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
        |       JOIN w wb ON p.label_b = wb.label""".stripMargin),

    // feature-redundancy profile: top-30 dimension pairs by |Pearson r|
    // (cleared-fraction integer moments; |r| rounded before the rank)
    Query("sim_dim_correlation", (s, dir) =>
      Similarity.dimCorrelations(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 30),
      // same moments via the pairwise self-join; rank under the same
      // (|r| desc, dims) total order
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
        |WHERE rk <= 30""".stripMargin),

    // power-iteration PCA: 8 fixed von Mises rounds over the exact
    // micro-unit covariance — every iterate bit-replayed by the
    // unrolled SQL oracle (pivot normalisation pins scale AND sign)
    Query("sim_power_iteration", (s, dir) =>
      Similarity.topPrincipalDirection(
        Tables.embeddings(s, dir), "vec_id", "embedding", iters = 8),
      powerIterOracleSql(8)),

    // 128 planes = 16 bands × 8 bits + query-side multi-probe: band-key
    // space 256 keeps buckets ~n/256 (subquadratic candidates); see
    // Similarity.srpPlan for the sizing rule at other corpus scales.
    // Candidates are pinned and declared so DuckDB verifies the exact
    // re-rank (the hash-dependent candidate stage is covered by the
    // recall spec)
    Query("sim_topk_lsh", Seq("lsh_cands"), (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cands = Checkpoints.checkpoint(
        Similarity.lshCandidates(q, emb, "vec_id", "embedding"))
      Query.Out(Similarity.rerankTopK(cands, q, emb, "vec_id", "embedding",
        k = 10), Seq("lsh_cands" -> cands))
    },
      // exact re-rank over the materialized LSH candidate pairs — same
      // cosine/rank formulation as the (hash-green) brute-force oracle
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
        |FROM r WHERE rank <= 10""".stripMargin),

    // recall@k evaluation of the SRP-LSH path against brute force — the
    // index-quality gate. Recomputes its own candidate set (no ordering
    // dependency on sim_topk_lsh's aux dir); evaluation cost is
    // |Q|·k-row joins, corpus-size-independent
    Query("sim_recall_at_k", Seq("recall_cands"), (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cands = Checkpoints.checkpoint(
        Similarity.lshCandidates(q, emb, "vec_id", "embedding"))
      val approx = Similarity.rerankTopK(cands, q, emb, "vec_id",
        "embedding", k = 10)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        k = 10)
      Query.Out(Similarity.recallAtK(approx, exact),
        Seq("recall_cands" -> cands))
    },
      // exact top-10 (brute-force CTE) vs the re-ranked materialized
      // candidate set — per-query hit fraction, same tiebreaks both sides
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
        |GROUP BY x.query_id""".stripMargin),

    // per-label embedding centroid via a typed Aggregator (UDAF
    // surface): partial buffers merge across the shuffle, the exchange
    // carries one (dim+1)-double buffer per (label × partition)
    Query("agg_vector_centroid", (s, dir) => {
      val mean = graft.functions.VectorAgg.vecMean(64)
      Tables.embeddings(s, dir)
        .groupBy(col("label"))
        .agg(mean(col("embedding")).as("raw"))
        // exploded to scalar rows: the harness compare sorts row values,
        // which array-typed cells would break
        .select(col("label"), posexplode(col("raw")))
        .select(col("label"), (col("pos") + 1).cast("long").as("idx"),
          round(col("col"), 6).as("centroid_val"))
    },
      """WITH x AS (
        |  SELECT label, unnest(embedding) AS e,
        |    generate_subscripts(embedding, 1) AS idx
        |  FROM embeddings
        |)
        |SELECT label, CAST(idx AS BIGINT) AS idx,
        |  round(avg(CAST(e AS DOUBLE)), 6) AS centroid_val
        |FROM x GROUP BY 1, 2""".stripMargin),

    // k-means model training (Lloyd, 3 rounds, deterministic stratified
    // init) + cell profile. The trained model is an artifact so DuckDB
    // verifies the ASSIGNMENT step exactly (argmax of list_dot_product
    // over the centroid table); the iterative trainer itself is covered
    // by SimilaritySpec (objective improvement + determinism)
    Query("agg_kmeans_cells", Seq("kmeans_centroids"), (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        numCells = 8, iters = 3)
      Query.Out(emb.select(col("vec_id"),
          Similarity.cellFor(cents)(col("embedding")).as("cell"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec_id")),
        Seq("kmeans_centroids" -> OracleAux.centroids(s, cents)))
    },
      // nearest-centroid assignment against the materialized k-means
      // model; struct-max in Spark = (sim DESC, cell DESC) in SQL
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
        |FROM a GROUP BY 1""".stripMargin),

    // MMR diversified re-rank over the dense top-30 per query (k=10,
    // λ=0.7): sequential in k, parallel across queries (one
    // flatMapGroups task each, candK² local cosines). Candidates with
    // double vecs are pinned and declared so the oracle replays the
    // greedy loop exactly via a recursive CTE
    Query("sim_mmr_rerank", Seq("mmr_cands"), (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 4)
      val cands = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        k = 30)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("score").as("rel"))
      val withVecs = Checkpoints.checkpoint(
        cands.join(emb.select(col("vec_id").as("cand_id"),
          col("embedding").cast("array<double>").as("vec")), "cand_id")
        .select("query_id", "cand_id", "rel", "vec"))
      Query.Out(Similarity.mmrRerank(withVecs, k = 10, lambda = 0.7),
        Seq("mmr_cands" -> withVecs))
    },
      // the greedy MMR loop replayed as a recursive CTE over the
      // materialized candidates: anchor = best rel per query; each step's
      // LATERAL picks argmax of 0.7·rel − (1−0.7)·max-sim-to-picked.
      // The λ literals are ::DOUBLE-cast because DuckDB otherwise parses
      // 1.0 − 0.7 as DECIMAL (exactly 0.3) while the Scala loop computes
      // the double 0.30000000000000004 — a 1e-17 drift that flips 1e-6
      // rounding ties; sims round to 6 dp exactly as the Scala loop does
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
        |FROM sel""".stripMargin),

    // cluster-quality gate: simplified (centroid-based) silhouette of
    // the same 8-cell / 3-iter k-means model — per-cell mean of
    // s = (b−a)/max(a,b) over own/runner-up cosine distances. Trains
    // and declares its own centroid table (no ordering dependency on
    // agg_kmeans_cells); one map-only corpus pass + 8-row agg
    Query("sim_cluster_silhouette", Seq("silhouette_centroids"), (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        numCells = 8, iters = 3)
      Query.Out(Similarity.clusterSilhouette(emb, "vec_id", "embedding", cents),
        Seq("silhouette_centroids" -> OracleAux.centroids(s, cents)))
    },
      // simplified silhouette against the materialized centroid table:
      // own/runner-up by (sim DESC, cell DESC) on unrounded cosines,
      // sims rounded to 6 dp before a/b, s folded as micro-unit longs
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
        |FROM m GROUP BY 1""".stripMargin),

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
    Query("sim_topk_pq", Seq("pq_codebooks", "pq_codes"), (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cbs = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      val codes = Checkpoints.checkpoint(
        Similarity.pqEncode(emb, "vec_id", "embedding", cbs))
      val topk = Similarity.pqAdcTopK(q, codes, cbs,
        "vec_id", "embedding", k = 10)
      val qv = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      val nv = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("__nv"))
      Query.Out(
        topk.join(broadcast(qv), Seq("query_id")).join(nv, Seq("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            col("est_dot"),
            round(Similarity.dot(col("__qv"), col("__nv")), 6).as("exact_dot")),
        Seq("pq_codebooks" -> OracleAux.codebooks(s, cbs), "pq_codes" -> codes))
    },
      // full ADC replay from the materialized model: per-subspace dots
      // rounded to micro-units (round ≡ Spark round(x,0) ≡ HALF_UP),
      // integer-summed, ranked on the micro value; exact dot re-scored
      // on the winners with the list_dot_product twin of FloatVecDot
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
        |WHERE r.rank <= 10""".stripMargin),

    // the production PQ shape measured: ADC shortlist(50) → exact-dot
    // re-rank(10), recall@10 against brute-force dot — the quantized
    // index's quality as an oracle-checked number (the sim_recall_at_k
    // pattern; raw ADC ranking alone carries the quantization error
    // sim_topk_pq materializes, re-ranking buys it back)
    Query("sim_pq_recall", Seq("pqr_codebooks", "pqr_codes"), (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cbs = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      val codes = Checkpoints.checkpoint(
        Similarity.pqEncode(emb, "vec_id", "embedding", cbs))
      val approx = Similarity.pqShortlistRerank(q, codes, cbs, emb,
        "vec_id", "embedding", k = 10, shortlist = 50)
      val exact = Similarity.bruteForceTopKDot(q, emb, "vec_id",
        "embedding", k = 10)
      Query.Out(Similarity.recallAtK(approx, exact),
        Seq("pqr_codebooks" -> OracleAux.codebooks(s, cbs), "pqr_codes" -> codes))
    },
      // full two-stage replay: ADC estimates from the materialized
      // model → shortlist(50) → exact-dot re-rank(10) → recall join vs
      // the brute-force dot top-10 (rank on the RAW dot — FloatVecDot ≡
      // list_dot_product bitwise, the sim_topk_bruteforce discipline)
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
        |GROUP BY 1""".stripMargin),

    // the composed retrieval stack (FAISS-style IVFADC, non-residual):
    // IVF cells pick WHO gets scored (~nprobe/numCells of the corpus),
    // PQ codes make scoring them cheap (m lookups, no float reads),
    // exact dot re-ranks the shortlist. Candidates, codes and
    // codebooks materialize; the oracle replays ADC over exactly the
    // candidate pairs, shortlists, and re-ranks with the
    // list_dot_product twin
    Query("sim_topk_ivfpq", Seq("pqi_codebooks", "pqi_codes", "pqi_cands"),
        (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cbs = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      val codes = Checkpoints.checkpoint(
        Similarity.pqEncode(emb, "vec_id", "embedding", cbs))
      val cands = Checkpoints.checkpoint(Similarity.ivfCandidates(q, emb,
        "vec_id", "embedding", numCells = 16, nprobe = 8))
      Query.Out(Similarity.ivfPqTopK(q, emb, cands, codes, cbs,
          "vec_id", "embedding", k = 10, shortlist = 50),
        Seq("pqi_codebooks" -> OracleAux.codebooks(s, cbs),
          "pqi_codes" -> codes, "pqi_cands" -> cands))
    },
      // ADC replay RESTRICTED to the materialized candidate pairs, then
      // shortlist(50) on the micro estimates and exact-dot re-rank(10)
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
        |FROM r WHERE rank <= 10""".stripMargin),

    // the PUBLISHED IVFADC form (Jégou et al. 2011 §IV): PQ codebooks
    // quantize RESIDUALS x − c_cell(x), which concentrate near zero
    // and quantize with less error than raw vectors; the estimate is
    // q·c_cell (a per-(query, cell) constant) + the residual ADC sum.
    // Centroids, cell assignments, codebooks, codes, and candidates
    // all materialize; the oracle replays the two-term estimate,
    // shortlist, and exact re-rank
    Query("sim_topk_ivfpq_res", Seq("pqres_cents", "pqres_cells",
        "pqres_codebooks", "pqres_codes", "pqres_cands"), (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        numCells = 16, iters = 1)
      // r19 multi-consumer pin: resid feeds the cell table, the three
      // pqTrain actions AND the encode — five executions of the
      // scan+cellFor+zip_with subtree without it
      val resid = Checkpoints.checkpoint(
        Similarity.residuals(emb, "vec_id", "embedding", cents))
      val cells = resid.select("vec_id", "cell")
      val cbs = Similarity.pqTrain(resid, "vec_id", "__resid",
        m = 8, k = 16, iters = 2)
      val codes = Checkpoints.checkpoint(
        Similarity.pqEncode(resid, "vec_id", "__resid", cbs))
      val cands = Checkpoints.checkpoint(Similarity.ivfProbe(q, "vec_id",
        "embedding", cents,
        cells.select(col("vec_id").as("neighbor_id"), col("cell")),
        nprobe = 8))
      Query.Out(Similarity.ivfPqResidualTopK(q, emb, cands, cells, codes,
          cents, cbs, "vec_id", "embedding", k = 10, shortlist = 50),
        Seq("pqres_cents" -> cents.map(_._1).zipWithIndex
            .map { case (v, i) => (i, v.map(_.toDouble)) }.toSeq
            .toDF("cell", "vec"),
          "pqres_cells" -> cells, "pqres_codebooks" -> OracleAux.codebooks(s, cbs),
          "pqres_codes" -> codes, "pqres_cands" -> cands))
    },
      // two-term estimate replay: q·centroid (per query×cell) + the
      // residual-codebook ADC sum over the candidate pairs, then
      // shortlist(50) and exact-dot re-rank(10)
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
        |FROM r WHERE rank <= 10""".stripMargin),

    // IVF-bucketed ANN; probe-join candidates materialized, re-rank
    // DuckDB-verified (recall vs brute force asserted in SimilaritySpec)
    Query("sim_topk_ivf", Seq("ivf_cands"), (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 8)
      val cands = Checkpoints.checkpoint(Similarity.ivfCandidates(q, emb,
        "vec_id", "embedding", numCells = 16, nprobe = 8))
      Query.Out(Similarity.rerankTopK(cands, q, emb, "vec_id", "embedding",
        k = 10), Seq("ivf_cands" -> cands))
    },
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
        |FROM r WHERE rank <= 10""".stripMargin),

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
    Query("sim_cosine_neardups", Seq("cosine_cands"), (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cands = Checkpoints.checkpoint(
        Similarity.cosineNearDupsAuto(emb, "vec_id", "embedding",
          threshold = 0.4).select(col("id_a"), col("id_b")))
      Query.Out(Similarity.cosineNearDupsFromCandidates(cands,
        emb, "vec_id", "embedding", threshold = 0.4),
        Seq("cosine_cands" -> cands))
    },
      // exact threshold stage over the materialized near-dup candidates
      s"""WITH p AS (SELECT id_a, id_b
        |  FROM read_parquet('${OracleAux.sqlDir("cosine_cands")}/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT p.id_a, p.id_b,
        |  list_cosine_similarity(ae.v, be.v) AS score
        |  FROM p JOIN e ae ON p.id_a = ae.vec_id
        |         JOIN e be ON p.id_b = be.vec_id)
        |SELECT id_a, id_b, round(score, 6) AS score
        |FROM s WHERE score >= 0.4""".stripMargin),

    // SemDeDup: k-means cells bound the pairwise-cosine work to
    // Σ|cell|² (never n²); drop = a smaller-id same-cell neighbor at
    // cosine ≥ t. Centroids materialized so DuckDB re-derives the
    // ASSIGNMENT and the within-cell NOT-EXISTS exactly
    Query("dedup_semantic", Seq("semdedup_centroids"), (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        numCells = 8, iters = 3)
      Query.Out(Similarity.semanticDedup(emb, "vec_id", "embedding", cents,
        threshold = 0.4), Seq("semdedup_centroids" -> OracleAux.centroids(s, cents)))
    },
      // nearest-centroid assignment re-derived from the materialized
      // model, then the SemDeDup drop rule as a correlated NOT EXISTS
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
        |FROM a x""".stripMargin),

    // int8 symmetric quantization of embeddings (the 4× storage
    // compression a 100 TB vector corpus ships with): per-vector scale
    // = max|x|/127, q_i = round(x_i/scale). Emits the scale, the exact
    // integer checksum of the codes, and the max reconstruction error —
    // all order-insensitive folds, so the DuckDB twin (list lambdas)
    // matches bitwise
    Query("scalar_embedding_quantize", (s, dir) => {
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
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)/127.0 AS sc
        |  FROM e)
        |SELECT vec_id, round(sc, 9) AS scale,
        |  CAST(list_sum(list_transform(v, x -> round(x/sc, 0))) AS BIGINT) AS q_sum,
        |  round(list_max(list_transform(v,
        |    x -> abs(x - round(x/sc, 0)*sc))), 9) AS max_err
        |FROM s""".stripMargin)
  )

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
}
