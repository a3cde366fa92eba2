package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tables

/** Graph queries over graphs derived from the harness tables (the
  * supplier↔customer purchase graph, the part co-purchase graph):
  * fixed-iteration PageRank, label propagation, triangle counts, summary
  * statistics and k-core peeling. Iterative operators carry unrolled
  * DuckDB twins (one CTE per iteration) of the same iteration counts.
  */
object GraphQueries {

  val all: Seq[Query] = Seq(
    // iterative graph rank (graft.graph.PageRank): 5 rounds of fixed-
    // point PageRank over the supplier↔customer purchase graph. All-
    // integer update rule → bit-identical across engines and partition
    // orders; per-iteration cost is two shuffles of the (small) rank
    // table, unrolled into one declarative plan
    Query("graph_pagerank_fixed", (s, dir) =>
      graft.graph.PageRank.pageRankFixed(
        graft.graph.PageRank.purchaseGraph(
          Tables.lineitem(s, dir), Tables.orders(s, dir)),
        "src", "dst", "w", iterations = 5),
      pagerankOracleSql),

    // community detection (graft.graph.LabelPropagation): 4 synchronous
    // LPA rounds over the same purchase graph — integer message sums +
    // (weight desc, label asc) argmax make the fixed-iteration trace
    // engine- and partition-order-exact
    Query("graph_label_propagation", (s, dir) =>
      graft.graph.LabelPropagation.labelPropagationFixed(
        graft.graph.PageRank.purchaseGraph(
          Tables.lineitem(s, dir), Tables.orders(s, dir)),
        "src", "dst", "w", iterations = 4),
      labelPropagationOracleSql),

    // exact triangle counts + clustering coefficient
    // (graft.graph.Triangles): degree-ordered wedge enumeration over
    // the part co-purchase graph — O(m^1.5) wedges regardless of hub
    // skew. Oracle is the naive a<b<c triple join (no ordering trick),
    // so the two formulations cross-check each other
    Query("graph_triangle_counts", (s, dir) =>
      graft.graph.Triangles.triangleCounts(
        graft.graph.Triangles.coPurchaseEdges(Tables.lineitem(s, dir),
          partMod = 4),
        "src", "dst"),
      // independent formulation: canonical a<b<c triple join, no degree
      // ordering — agreement with the Spark side proves the wedge-
      // direction trick counts each triangle exactly once
      """WITH pr AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM pr a JOIN pr b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        |  GROUP BY 1),
        |tri AS MATERIALIZED (
        |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM e e1
        |  JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tc AS MATERIALIZED (
        |  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        |    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY 1)
        |SELECT d.node, d.degree, COALESCE(t.triangles, 0) AS triangles,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CASE WHEN d.degree >= 2 THEN
        |    CAST((2 * CAST(2 * COALESCE(t.triangles, 0) AS HUGEINT) * 1000000
        |          + d.degree * (d.degree - 1))
        |         // (2 * d.degree * (d.degree - 1)) AS DOUBLE)
        |      / 1000000.0 + 0.0
        |  ELSE 0.0 END AS lcc
        |FROM deg d LEFT JOIN tc t ON d.node = t.node""".stripMargin),

    // one-row graph-health summary: transitivity 3T/W + Newman degree
    // assortativity, every sum integer-exact, 6 dp only at the end
    Query("graph_summary_stats", (s, dir) =>
      graft.graph.Triangles.graphSummary(
        graft.graph.Triangles.coPurchaseEdges(Tables.lineitem(s, dir),
          partMod = 4),
        "src", "dst"),
      // HUGEINT keeps the cleared-fraction sums exact; one double
      // division at the end mirrors the Spark side
      """WITH pr AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM pr a JOIN pr b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS MATERIALIZED (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |ns AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg),
        |tri AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |       JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |es AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |    CAST(sum(du.d * dv.d) AS BIGINT) AS a,
        |    CAST(sum(du.d + dv.d) AS BIGINT) AS b,
        |    CAST(sum(du.d * du.d + dv.d * dv.d) AS BIGINT) AS dd
        |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node)
        |SELECT ns.n_nodes, es.n_edges, tri.n_triangles, ns.n_wedges,
        |  -- boundary-exact int/int round-6 (see text_unigram_logprob)
        |  CASE WHEN ns.n_wedges > 0 THEN
        |    CAST((2 * CAST(3 * tri.n_triangles AS HUGEINT) * 1000000
        |          + ns.n_wedges) // (2 * ns.n_wedges) AS DOUBLE)
        |      / 1000000.0 + 0.0
        |  ELSE 0.0 END AS transitivity,
        |  -- signed num/den: den's sign folds into the numerator;
        |  -- HUGEINT promotion BEFORE the products (r15 census lesson)
        |  CASE WHEN 2 * CAST(es.n_edges AS HUGEINT) * es.dd
        |         - CAST(es.b AS HUGEINT) * es.b <> 0 THEN
        |    (CASE WHEN (4 * CAST(es.n_edges AS HUGEINT) * es.a - CAST(es.b AS HUGEINT) * es.b)
        |            * (2 * CAST(es.n_edges AS HUGEINT) * es.dd - CAST(es.b AS HUGEINT) * es.b) < 0
        |      THEN -1.0 ELSE 1.0 END)
        |    * CAST((2 * abs(4 * CAST(es.n_edges AS HUGEINT) * es.a - CAST(es.b AS HUGEINT) * es.b)
        |              * 1000000
        |            + abs(2 * CAST(es.n_edges AS HUGEINT) * es.dd - CAST(es.b AS HUGEINT) * es.b))
        |           // (2 * abs(2 * CAST(es.n_edges AS HUGEINT) * es.dd - CAST(es.b AS HUGEINT) * es.b))
        |           AS DOUBLE)
        |    / 1000000.0 + 0.0
        |  END AS assortativity
        |FROM ns, tri, es""".stripMargin),

    // k-core peeling (graft.graph.KCore): 10 fixed rounds at k=20 over
    // the sampled co-purchase graph. The peel genuinely cascades: at
    // sf0.01, 500 → 404 nodes with the fixpoint after 9 peels; sf0.1
    // reaches it after 7, and at sf0.001 the graph empties after 3
    Query("graph_kcore_peel", (s, dir) =>
      graft.graph.KCore.kCoreTruncated(
        graft.graph.Triangles.coPurchaseEdges(Tables.lineitem(s, dir),
          partMod = 4),
        "src", "dst", coreK = 20, rounds = 10),
      kcoreOracleSql)
  )

  /** Unrolled 4-iteration twin of graph_label_propagation. The argmax
    * is re-expressed as a `row_number` window under the identical total
    * order (weight desc, label asc) — same result as the Spark side's
    * `(wsum, -lbl)` struct-max, different-but-equivalent formulation.
    *
    * The multiply-referenced CTEs (`pairs`, `e`, each `l_k`: both
    * `b_{k+1}` and `l_{k+1}` read `l_k`) are MATERIALIZED: DuckDB 1.0
    * inlines CTEs per reference, so without the hint the unrolled
    * chain re-evaluates each level's whole subtree 2^depth times —
    * fine at sf0.1 (it fit in memory, ~6× CPU), but at sf1.0 the
    * replayed window sorts spilled >75 GB of temp before failing.
    * With materialization the oracle is linear in the edge count
    * (sf0.1 34 s → 5.8 s, identical rows; sf1.0 completes).
    */
  private def labelPropagationOracleSql: String = {
    val iters = (1 to 4).map { k =>
      s"""b$k AS (
         |  SELECT dst, lbl AS nl FROM (
         |    SELECT m.dst, m.lbl, row_number() OVER (PARTITION BY m.dst
         |      ORDER BY m.wsum DESC, m.lbl ASC) AS rn
         |    FROM (SELECT e.dst, l.lbl, SUM(e.w) AS wsum
         |          FROM e JOIN l${k - 1} l ON e.src = l.node
         |          GROUP BY 1, 2) m) WHERE rn = 1),
         |l$k AS MATERIALIZED (
         |  SELECT l.node, COALESCE(b.nl, l.lbl) AS lbl
         |  FROM l${k - 1} l LEFT JOIN b$k b ON l.node = b.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT CAST(l_suppkey AS BIGINT) AS s,
       |    CAST(o_custkey + 10000000 AS BIGINT) AS c,
       |    COUNT(*) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |e AS MATERIALIZED (
       |  SELECT s AS src, c AS dst, w FROM pairs
       |  UNION ALL
       |  SELECT c AS src, s AS dst, w FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
       |$iters
       |SELECT node, lbl AS community FROM l4""".stripMargin
  }

  /** Unrolled 10-round twin of graph_kcore_peel: each round recomputes
    * degrees and keeps edges whose BOTH endpoints clear the k=20 bar.
    * Every CTE is MATERIALIZED — DuckDB inlines plain CTEs, and each
    * round references the previous one three times, so an un-hinted
    * chain expands 3^10-fold (the same blowup the Spark side truncates
    * with per-round checkpoints).
    */
  private def kcoreOracleSql: String = {
    val R = 10
    val rounds = (1 to R).map { r =>
      s"""k$r AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT node, count(*) AS d FROM (
         |      SELECT u AS node FROM e${r - 1}
         |      UNION ALL SELECT v FROM e${r - 1}) GROUP BY 1)
         |  WHERE d >= 20),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN k$r a ON e.u = a.node JOIN k$r b ON e.v = b.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
       |  FROM lineitem WHERE l_partkey % 4 = 0),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM pr a JOIN pr b ON a.ok = b.ok AND a.pk < b.pk),
       |$rounds
       |SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
       |  SELECT u AS node FROM e$R UNION ALL SELECT v FROM e$R)
       |GROUP BY 1""".stripMargin
  }

  /** Unrolled 5-iteration twin of graph_pagerank_fixed — same all-
    * integer update rule (`//` is DuckDB's integral division, matching
    * Spark's `div` on the positive longs here), so values are exact.
    */
  private def pagerankOracleSql: String = {
    val iters = (1 to 5).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |    CAST(150000 + (85 * COALESCE(c.cin, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT ew.dst, SUM((r.pr * ew.w) // ew.ow) AS cin
         |    FROM ew JOIN r${k - 1} r ON ew.src = r.node
         |    GROUP BY ew.dst) c
         |  ON n.node = c.dst)""".stripMargin
    }.mkString(",\n")
    // base CTEs MATERIALIZED: every r_k level re-reads `ew` and
    // `nodes`, and DuckDB inlines CTEs per reference — without the
    // hint the 6M-row lineitem⋈orders base is re-evaluated ~11 times
    // across the 5 unrolled levels (linear, unlike label-prop's
    // exponential chain, but still ~6× the oracle's useful work)
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT CAST(l_suppkey AS BIGINT) AS s,
       |    CAST(o_custkey + 10000000 AS BIGINT) AS c,
       |    COUNT(*) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |e AS MATERIALIZED (
       |  SELECT s AS src, c AS dst, w FROM pairs
       |  UNION ALL
       |  SELECT c AS src, s AS dst, w FROM pairs),
       |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM e GROUP BY 1),
       |ew AS MATERIALIZED (
       |  SELECT e.src, e.dst, e.w, o.ow FROM e JOIN ow o ON e.src = o.src),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
       |$iters
       |SELECT node, pr FROM r5""".stripMargin
  }
}
