package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Similarity._

/** Recall measurements of the cell-bounded near-dup route, used by
  * SimilaritySpec. The sf0.1/sf1.0 curves they produced are in
  * BASELINE_HISTORY.md "Cell-route recall, measured".
  */
object CellRouteRecall {

  /** Measured recall of the cell-bounded route (VERDICT r15 #5): the
    * SemDeDup trade — cross-cell true pairs are missed — as a NUMBER
    * instead of prose. The route finds a pair iff both endpoints land
    * in the same k-means cell (deterministic given the centroids), so
    * recall at threshold t is the fraction of true pairs (cosine ≥ t)
    * that are same-cell. Estimator: a hash-deterministic `sampleN`-row
    * sample ([[Similarity.measuredBgSim]]'s pattern) brute-forced
    * against itself — sample pairs are a uniform subset of all pairs,
    * so the same-cell fraction over true sample pairs is unbiased for
    * global pair recall, at constant cost (sampleN²/2 cosines) whatever
    * the corpus. Centroids are trained EXACTLY as
    * [[Similarity.cellBoundedNearDups]] trains them (same cell count,
    * same sample modulus, one Lloyd round), so the measurement is of
    * the production route, not a lookalike.
    * Returns one row per threshold:
    * `(threshold, n_true_pairs, n_samecell_pairs, recall)`.
    */
  def cellRouteRecall(corpus: DataFrame, idCol: String, vecCol: String,
                      thresholds: Seq[Double], sampleN: Int = 2048,
                      targetCellRows: Int = 1024): DataFrame = {
    require(thresholds.nonEmpty)
    val n = corpus.count()
    val numCells = math.max(4, math.min(65536,
      math.ceil(n.toDouble / targetCellRows).toInt))
    val cents = trainCentroids(corpus, idCol, vecCol, numCells, iters = 1,
      sampleMod = trainSampleModFor(n, numCells))
    val sample = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        l2Norm(col(vecCol)).as("__nn"),
        cellFor(cents)(col(vecCol)).as("__c"))
      .orderBy(xxhash64(col("__id")), col("__id")).limit(sampleN)
    val a = sample.select(col("__id").as("__ia"), col("__v").as("__va"),
      col("__nn").as("__na"), col("__c").as("__ca"))
    val b = sample.select(col("__id").as("__ib"), col("__v").as("__vb"),
      col("__nn").as("__nb"), col("__c").as("__cb"))
    val scored = a.crossJoin(broadcast(b))
      .where(col("__ia") < col("__ib"))
      .select(cosineWithNorms(dot(col("__va"), col("__vb")),
        col("__na"), col("__nb")).as("s"),
        (col("__ca") === col("__cb")).as("same"))
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      sum(when(col("s") >= t, 1L).otherwise(0L)).as(s"t_$i"),
      sum(when(col("s") >= t && col("same"), 1L).otherwise(0L))
        .as(s"f_$i")) }
    val g = scored.agg(aggs.head, aggs.tail: _*)
    val rows = thresholds.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("threshold"),
        col(s"t_$i").as("n_true_pairs"),
        col(s"f_$i").as("n_samecell_pairs"),
        when(col(s"t_$i") > 0,
          col(s"f_$i").cast("double") / col(s"t_$i")).as("recall"))
    }
    g.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Planted-duplicate recall of the cell-bounded route (VERDICT r15
    * #5): plant `nPlant` deterministic perturbed copies (component j
    * scaled by 1 ± eps, alternating — cosine ≈ (1−eps²)/(1+eps²) of the
    * original, ≈0.995 at eps=0.05), retrain the quantizer on
    * corpus + plants exactly as the route would see them, and measure
    * the fraction of (original, copy) pairs landing same-cell. One row
    * per eps: `(eps, mean_planted_sim, n_planted, n_samecell, recall)`.
    */
  def cellRoutePlantedRecall(corpus: DataFrame, idCol: String,
                             vecCol: String, epss: Seq[Double],
                             nPlant: Int = 256,
                             targetCellRows: Int = 1024): DataFrame = {
    require(epss.nonEmpty && nPlant > 0)
    val maxId = corpus.agg(max(col(idCol).cast("long"))).head().getLong(0)
    val base = corpus.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v"))
      .orderBy(xxhash64(col("__id"), lit(29)), col("__id")).limit(nPlant)
    val out = epss.zipWithIndex.map { case (eps, k) =>
      val perturbed = transform(col("__v"), (x, j) =>
        (x * when(pmod(j, lit(2)) === 0, lit(1.0f) + lit(eps.toFloat))
          .otherwise(lit(1.0f) - lit(eps.toFloat))).cast("float"))
      val plants = base.select(
        (col("__id") + lit(maxId + 1 + k.toLong * nPlant)).as("__id"),
        perturbed.as("__v"))
      val all = corpus.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v")).unionAll(plants)
      val n = all.count()
      val numCells = math.max(4, math.min(65536,
        math.ceil(n.toDouble / targetCellRows).toInt))
      val cents = trainCentroids(all, "__id", "__v", numCells, iters = 1,
        sampleMod = trainSampleModFor(n, numCells))
      val cellOf = all.select(col("__id"), cellFor(cents)(col("__v"))
        .as("__c"), col("__v"), l2Norm(col("__v")).as("__nn"))
      val orig = cellOf.select(col("__id").as("__io"), col("__c").as("__co"),
        col("__v").as("__vo"), col("__nn").as("__no"))
      val cp = cellOf.select(
        (col("__id") - lit(maxId + 1 + k.toLong * nPlant)).as("__io"),
        col("__c").as("__cc"), col("__v").as("__vc"), col("__nn").as("__nc"))
        .where(col("__io") >= 0)
      base.select(col("__id").as("__io"))
        .join(orig, "__io").join(cp, "__io")
        .agg(lit(eps).as("eps"),
          avg(cosineWithNorms(dot(col("__vo"), col("__vc")),
            col("__no"), col("__nc"))).as("mean_planted_sim"),
          count(lit(1)).as("n_planted"),
          sum(when(col("__co") === col("__cc"), 1L).otherwise(0L))
            .as("n_samecell"))
        .withColumn("recall",
          col("n_samecell").cast("double") / col("n_planted"))
    }
    out.reduce(_ unionAll _)
  }
}
