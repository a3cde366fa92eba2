package graft.dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Capped-sketch recall at the DECISION BOUNDARY (VERDICT r17 #2).
  *
  * The hot-shingle cap's bias bound — est loses at most (capped shared
  * shingles in a's sketch)/ka — was validated in r17 only on zipftok
  * pairs at c ≥ 0.8, far above threshold−margin, where the margin
  * trivially absorbs it. This fixture places TRUE pairs at
  * c ∈ [t−0.15, t+0.05] whose shared shingles are PREDOMINANTLY
  * capped-hot, probing the bound exactly where a loss turns into a
  * miss.
  *
  * Deterministic construction (all tokens distinct → shingle counts
  * are exact; no RNG): every doc opens with one shared 12-token HOT
  * block (its 10 interior shingles have df = #docs — the bucket any
  * binding cap cuts), then pair p's docs A=2p / B=2p+1 share an
  * m-token cold block (df=2) and diverge into q / 3 private filler
  * tokens. Exactly: |S_A| = m+q+10, shared = m+10 of which 10 hot, so
  *   true containment  c = (m+10)/(m+q+10)
  *   hot mass fraction h = 10/(m+10)
  *   capped est (|S_A| ≤ k, deterministic) = m/|S_A| = c·(1−h).
  * Cells sweep h ∈ {.83,.5,.25} × c ∈ [.375,.556]; budget is chosen
  * between the cold Σdf² and the hot bucket so the cap cuts exactly
  * the hot shingles.
  *
  * Measures per cell, uncapped vs capped, with the r18 capped-hot
  * compensation ON and OFF: recall of planted pairs, mean estimate,
  * the analytic floor c·(1−h) — pinning that (a) the bias bound is
  * TIGHT, (b) uncompensated capped recall collapses exactly where
  * c·(1−h) < minEst, (c) compensation restores recall for every pair
  * with ≥1 cold shared shingle without touching the join volume.
  * The boundary fixture's 200-pairs-per-cell table is in BASELINE.md
  * "Capped-sketch recall at the decision boundary"; DedupSpec runs both
  * fixtures at 8 pairs per cell.
  */
object CapRecallFixture {
  private[graft] val HotTokens: Seq[String] = (0 until 12).map(i => s"hot$i")

  /** (m cold-shared tokens, q A-private tokens) per cell. */
  private[graft] val Cells: Seq[(Int, Int)] = Seq(
    (2, 20), (2, 15), (2, 12), (2, 10),    // h=.83: c=.375/.444/.500/.545
    (10, 33), (10, 25), (10, 20), (10, 16), // h=.50: c=.377/.444/.500/.556
    (30, 66), (30, 50), (30, 40), (30, 33)) // h=.25: c=.377/.444/.500/.548

  private[graft] def fixtureRows(cells: Seq[(Int, Int)], pairsPerCell: Int)
      : Seq[(Long, String, Int, Int)] = {
    var p = 0
    cells.flatMap { case (m, q) =>
      (0 until pairsPerCell).flatMap { _ =>
        val id = p; p += 1
        val shared = (0 until m).map(i => s"p${id}s$i")
        val aUniq = (0 until q).map(i => s"p${id}a$i")
        val bFill = (0 until 3).map(i => s"p${id}b$i")
        Seq((2L * id, (HotTokens ++ shared ++ aUniq).mkString(" "), m, q),
          (2L * id + 1, (HotTokens ++ shared ++ bFill).mkString(" "), m, q))
      }
    }
  }

  /** BULK-cut fixture (r18 verdict #3): same pair algebra as the
    * boundary fixture, but the shared 12-token block is per-GROUP
    * (4 consecutive pairs = 8 docs share one MID block) instead of
    * corpus-global. The cut bucket is then df=8 with 10·#groups
    * DISTINCT hashes — the BODY of the df spectrum, growing with the
    * corpus — and its posting mass is ~0.48 of all postings ≥ minEst,
    * so a binding cap is a DEEP cut and the compensation guard
    * (cutFrac ≥ minEst) must disable the credit. The measured curve
    * is the deep-cap recall trade the guard accepts deliberately:
    * capped recall collapses exactly where the analytic floor
    * c·(1−h) = m/|S_A| drops below minEst — even for pairs at
    * c up to 0.75, far ABOVE the screen threshold — and the
    * compensated screen must be IDENTICAL to the uncompensated one
    * (guard disengaged), unlike the boundary fixture where
    * compensation restores every cold-sharing pair.
    */
  private[graft] val BulkCells: Seq[(Int, Int)] = Seq(
    (2, 8),   // c=.600 floor=.100 — deep miss despite c >> threshold
    (5, 5),   // c=.750 floor=.250 — miss
    (7, 3),   // c=.850 floor=.350 — exactly at minEst: survives
    (8, 4),   // c=.818 floor=.364 — survives
    (10, 2))  // c=.909 floor=.455 — survives

  private[graft] def bulkFixtureRows(cells: Seq[(Int, Int)],
                                     pairsPerCell: Int)
      : Seq[(Long, String, Int, Int)] = {
    var p = 0
    cells.flatMap { case (m, q) =>
      (0 until pairsPerCell).flatMap { _ =>
        val id = p; p += 1
        val gid = id / 4 // 4 pairs (8 docs) share one MID block
        val mid = (0 until 12).map(i => s"g${gid}m$i")
        val shared = (0 until m).map(i => s"p${id}s$i")
        val aUniq = (0 until q).map(i => s"p${id}a$i")
        val bFill = (0 until 3).map(i => s"p${id}b$i")
        Seq((2L * id, (mid ++ shared ++ aUniq).mkString(" "), m, q),
          (2L * id + 1, (mid ++ shared ++ bFill).mkString(" "), m, q))
      }
    }
  }

  private[graft] case class CapRecallCell(
      m: Int, q: Int, cTrue: Double, hotFrac: Double, floor: Double,
      pairs: Long, recallUncapped: Double, recallCapped: Double,
      recallCompensated: Double, meanEstUncapped: Double,
      meanEstCapped: Double, meanEstCompensated: Double)

  /** Runs the three screens over the boundary fixture, folds per-cell. */
  private[graft] def measure(spark: SparkSession, pairsPerCell: Int,
                             k: Int = 64, minEst: Double = 0.35,
                             budget: Long = 10000000L): Seq[CapRecallCell] =
    measureRows(spark, fixtureRows(Cells, pairsPerCell), k, minEst, budget)

  /** The three screens over the BULK-cut fixture. Budget default cuts
    * the df=8 MID bucket while keeping df ≤ 2: summed over the five
    * cells, cumulative Σdf² per pairsPerCell unit is 165 (df ≤ 2) vs
    * 965 (with MID), so 400·pairsPerCell sits strictly between.
    */
  private[graft] def measureBulk(spark: SparkSession, pairsPerCell: Int,
                                 k: Int = 64, minEst: Double = 0.35,
                                 budgetPerPair: Long = 400L)
      : Seq[CapRecallCell] =
    measureRows(spark, bulkFixtureRows(BulkCells, pairsPerCell), k, minEst,
      budgetPerPair * pairsPerCell)

  private def measureRows(spark: SparkSession,
                          rows: Seq[(Long, String, Int, Int)],
                          k: Int, minEst: Double,
                          budget: Long): Seq[CapRecallCell] = {
    import spark.implicits._
    val docs = rows.map(r => (r._1, r._2)).toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    val planted = rows.filter(_._1 % 2 == 0)
      .map(r => (r._1, r._1 + 1, r._3, r._4)).toDF("id_a", "id_b", "m", "q")
    def screen(maxJoinPairs: Long, compensate: Boolean, tag: String) =
      Dedup.containmentSketchPairs(docs, "doc_id", "text",
          shingleSize = 3, k = k, minEst = minEst,
          maxJoinPairs = maxJoinPairs, capCompensate = compensate)
        .select(col("id_a"), col("id_b"),
          col("est_containment").as(s"est_$tag"))
    val unc = screen(0L, compensate = false, "unc")
    val cap = screen(budget, compensate = false, "cap")
    val comp = screen(budget, compensate = true, "comp")
    planted
      .join(unc, Seq("id_a", "id_b"), "left")
      .join(cap, Seq("id_a", "id_b"), "left")
      .join(comp, Seq("id_a", "id_b"), "left")
      .groupBy(col("m"), col("q"))
      .agg(count(lit(1)).as("n"),
        count(col("est_unc")).as("n_unc"),
        count(col("est_cap")).as("n_cap"),
        count(col("est_comp")).as("n_comp"),
        avg(col("est_unc")).as("mean_unc"),
        avg(col("est_cap")).as("mean_cap"),
        avg(col("est_comp")).as("mean_comp"))
      .collect().toSeq
      .map { r =>
        val m = r.getInt(0); val q = r.getInt(1)
        val shared = m + 10.0; val sa = m + q + 10.0
        val n = r.getLong(2)
        CapRecallCell(m, q, shared / sa, 10.0 / shared, m / sa, n,
          r.getLong(3).toDouble / n, r.getLong(4).toDouble / n,
          r.getLong(5).toDouble / n,
          Option(r.get(6)).fold(0.0)(_.asInstanceOf[Double]),
          Option(r.get(7)).fold(0.0)(_.asInstanceOf[Double]),
          Option(r.get(8)).fold(0.0)(_.asInstanceOf[Double]))
      }
      .sortBy(c => (c.m, c.q))
  }
}
