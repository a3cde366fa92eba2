package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact triangle counting + local clustering coefficient over an
  * undirected edge list — the graph-density signal a crawl-curation
  * pipeline uses to separate organically-linked communities from
  * link-farm cliques (spam rings are near-cliques: high clustering
  * at high degree), and the classic "how cohesive is this co-purchase
  * neighbourhood" market-basket measure.
  *
  * Algorithm: degree-ordered node-iterator (Schank & Wagner 2005;
  * the MapReduce adaptation is Suri & Vassilvitskii 2011 / Cohen
  * 2009). Each undirected edge is DIRECTED from its (degree, id)-
  * smaller endpoint to the larger; wedges are enumerated only at the
  * lowest-ranked vertex of each triangle, then closed against the
  * canonical edge set. The ordering is the whole trick: out-degree
  * under it is bounded by O(√m), so wedge count is O(m^1.5) worst
  * case instead of Σ d(v)² — the difference between a hub node with
  * degree 10⁶ generating 10¹² wedges and generating none.
  *
  * Scale shape (100 TB): three shuffles — degree agg, the wedge
  * self-join on the low endpoint, and the closing-edge hash join —
  * all on key columns, no cartesian anywhere (plan-audited). The
  * degree table is node-sized (≪ edges) and joins back onto the edge
  * list as the small side of a hash join; AQE broadcasts it outright
  * on harness scales. Skewed hubs are exactly what the degree
  * ordering neutralises, so no salting is needed. Everything is
  * integer except the final coefficient, which rounds to 6 dp on
  * both engines.
  */
object Triangles {

  /** Per-node triangle participation over an undirected edge list
    * given as `(aCol, bCol)` rows in ANY orientation, possibly with
    * duplicates / self-loops (both are dropped by canonicalisation).
    * Returns one row per node that appears in at least one edge:
    * `(node: long, degree: long, triangles: long, lcc: double)` with
    * `lcc = round(2·T / (d·(d−1)), 6)` and 0.0 for degree-1 nodes.
    */
  def triangleCounts(edges: DataFrame, aCol: String,
                     bCol: String): DataFrame = {
    val raw = edges.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    // r19 multi-consumer pins: `e` feeds the degree agg, the directed
    // join AND the closing join (3 references), `deg` two joins plus
    // the final left join (3) — each reference replans (and absent
    // runtime stage reuse, re-runs) the whole upstream edge
    // construction, which for the co-purchase callers is itself a
    // self-join. Pin both (eager — the repo's multi-consumer policy).
    val e = graft.Checkpoints.checkpoint(
      raw.select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v")).distinct())

    val deg = graft.Checkpoints.checkpoint(
      e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree")))

    // direct u—v from the (degree, id)-smaller endpoint to the larger;
    // carry the head's (degree, id) so the wedge join can order heads
    val withDeg = e
      .join(deg.select(col("node").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv")), "v")
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val de = withDeg.select(
      when(uLower, col("u")).otherwise(col("v")).as("lo"),
      when(uLower, col("v")).otherwise(col("u")).as("hi"),
      when(uLower, col("dv")).otherwise(col("du")).as("dhi"))

    // wedges at the lowest-ranked vertex, heads ordered so each
    // triangle is generated exactly once, closed on the canonical edge
    val w1 = de.select(col("lo"), col("hi").as("h1"), col("dhi").as("d1"))
    val w2 = de.select(col("lo"), col("hi").as("h2"), col("dhi").as("d2"))
    val wedges = w1.join(w2, Seq("lo"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("h1") < col("h2")))
      .select(col("lo"),
        least(col("h1"), col("h2")).as("u"),
        greatest(col("h1"), col("h2")).as("v"))
    val tri = wedges.join(e, Seq("u", "v"))

    val perNode = tri.select(col("lo").as("node"))
      .unionAll(tri.select(col("u").as("node")))
      .unionAll(tri.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))

    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          // int/int ratio: boundary-exact round-6 (r16 sweep)
          graft.text.TextAnalysis.exactRound6Ratio(
            lit(2L) * coalesce(col("triangles"), lit(0L)),
            col("degree") * (col("degree") - lit(1L))))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** One-row graph-health summary — the numbers a crawl-graph monitor
    * tracks per snapshot: size, triangle mass, global clustering
    * (transitivity), and Newman's degree assortativity (Newman 2002,
    * "Assortative mixing in networks"). Spam/link-farm subgraphs show
    * up as high clustering with strongly negative assortativity.
    *
    * Everything reduces to INTEGER sums over edges and degrees, so the
    * result is engine- and partition-order-exact:
    *   transitivity  = 3T / W,          W = Σᵥ C(d(v), 2)
    *   assortativity = (4·M·Σjk − B²) / (2·M·Σ(j²+k²) − B²),
    *                   B = Σ(j+k) over the M canonical edges
    * (Newman's eq. 4 with numerator and denominator cleared of the
    * 1/M factors). Both round to 6 dp only at the very end. The three
    * edge sums use the exact hi/lo long split (M·ΣD grows as M², past
    * a long at ~10⁷ edges); `strata` is the >4·10⁹-edge escape — see
    * [[graft.similarity.Similarity.splitStratum]].
    *
    * Scale shape: [[triangleCounts]] supplies T; the rest is one
    * degree agg + two node-sized hash joins onto the edge list + a
    * handful of 1-row aggregates combined by broadcast cross join.
    */
  def graphSummary(edges: DataFrame, aCol: String,
                   bCol: String, strata: Int = 1): DataFrame = {
    require(strata >= 1)
    val raw = edges.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    // pins: rationale as [[triangleCounts]] (e → nodeStats/triStats/
    // edgeStats, deg → nodeStats + two edge joins)
    val e = graft.Checkpoints.checkpoint(
      raw.select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v")).distinct())
    val deg = graft.Checkpoints.checkpoint(
      e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d")))
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(d * (d - 1)) div 2").as("n_wedges"))
    val triStats = triangleCounts(e, "u", "v")
      .agg((sum(col("triangles")) / 3).cast("long").as("n_triangles"))
    // exact stratified hi/lo long split sums (Similarity.splitSumHi):
    // M·ΣD grows as M² and overflows a long past ~10⁷ edges; the
    // per-row partials stay plain codegen'd longs in ~M/S-row
    // edge-hash stratum groups (this is a GLOBAL aggregate — without
    // strata the Σlo group bound of ~4·10⁹ rows would cap the graph
    // size), and the decimal recombination runs on S stratum rows +
    // one output row (DuckDB's HUGEINT twin is exact the same way)
    import graft.similarity.Similarity.{splitSumHi, splitSumLo, splitTotal, splitStratum}
    val edgeStats = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .groupBy(splitStratum(xxhash64(col("u"), col("v")), strata)
        .as("__st"))
      .agg(count(lit(1)).as("n0"),
        splitSumHi(col("du") * col("dv")).as("ah"),
        splitSumLo(col("du") * col("dv")).as("al"),
        splitSumHi(col("du") + col("dv")).as("bh"),
        splitSumLo(col("du") + col("dv")).as("bl"),
        splitSumHi(col("du") * col("du") + col("dv") * col("dv"))
          .as("dh"),
        splitSumLo(col("du") * col("du") + col("dv") * col("dv"))
          .as("dl"))
      .agg(sum(col("n0")).as("n_edges"),
        sum(splitTotal(col("ah"), col("al")))
          .cast("decimal(38,0)").as("__a"),
        sum(splitTotal(col("bh"), col("bl")))
          .cast("decimal(38,0)").as("__b"),
        sum(splitTotal(col("dh"), col("dl")))
          .cast("decimal(38,0)").as("__d"))
    // 1-row aggregate sides: explicit broadcast makes the plan self-
    // documenting and immune to a future stats misestimate
    nodeStats.crossJoin(broadcast(triStats)).crossJoin(broadcast(edgeStats))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          // int/int ratio: boundary-exact round-6 (r16 sweep)
          graft.text.TextAnalysis.exactRound6Ratio(
            lit(3L) * col("n_triangles"), col("n_wedges")))
          .otherwise(lit(0.0)).as("transitivity"),
        {
          // integer numerator/denominator, one double division at the
          // end (operators kept at end-of-line: a leading `-` on a
          // continuation line is a discarded unary statement in Scala)
          val num = lit(4L) * col("n_edges") * col("__a") -
            col("__b") * col("__b")
          val den = lit(2L) * col("n_edges") * col("__d") -
            col("__b") * col("__b")
          // int/int with a signed denominator: fold den's sign into
          // the numerator, then boundary-exact round-6 (r16 sweep)
          when(den =!= 0,
            graft.text.TextAnalysis.exactRound6Ratio(
              when(den < 0, -num).otherwise(num), abs(den)))
            .as("assortativity")
        })
  }

  /** The harness graph: part co-purchase — two parts are adjacent iff
    * some order contains both (the market-basket projection of
    * lineitem). Unlike [[PageRank.purchaseGraph]] this one is NOT
    * bipartite: every multi-part order contributes a clique, so the
    * graph is triangle-rich by construction.
    *
    * `partMod` keeps every part with `l_partkey % partMod == 0` — a
    * systematic node sample (1 = full graph). The registered queries
    * use 4: edge density falls ~16× and wedge work ~64×, keeping the
    * bench-scale run seconds-sized while the ×32 replica probe of this
    * same graph carries the linearity evidence (`graph_tri_x32` 14.0 s:
    * BASELINE_HISTORY.md "Round-13 full-registry decade sweep"). The
    * full-graph probe read 32.9 s → 469.6 s for ×32 edges — ~14× time
    * on 32× data, comfortably sublinear.
    */
  def coPurchaseEdges(lineitem: DataFrame, partMod: Int = 1): DataFrame = {
    val pr = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").cast("long").as("pk"))
      .where(col("pk") % partMod === 0).distinct()
    val a = pr.select(col("ok"), col("pk").as("pa"))
    val b = pr.select(col("ok"), col("pk").as("pb"))
    a.join(b, Seq("ok")).where(col("pa") < col("pb"))
      .select(col("pa").as("src"), col("pb").as("dst")).distinct()
  }
}
