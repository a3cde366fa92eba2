package graft.etl

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Tables

/** Sampling operators (training-data pipelines downsample constantly):
  * seeded Bernoulli `sample` and stratified `sampleBy`. Engine-internal
  * RNG means no DuckDB oracle — the contract here is determinism for a
  * fixed seed and statistically sane fractions.
  */
class SamplingSpec extends SparkSpec {

  test("sample(fraction, seed) is deterministic and near the target fraction") {
    val e = Tables.events(spark, sf())
    val a = e.sample(withReplacement = false, 0.2, seed = 42L)
    val b = e.sample(withReplacement = false, 0.2, seed = 42L)
    assert(a.collect().map(_.getLong(0)).toSeq ===
      b.collect().map(_.getLong(0)).toSeq, "same seed, same sample")
    val frac = a.count().toDouble / e.count()
    assert(frac > 0.1 && frac < 0.3, s"fraction $frac far from 0.2")
  }

  test("Sampling.stratifiedSample is invariant under repartitioning " +
    "(the property rand(seed) lacks) and honors per-stratum rates") {
    val d = graft.model.Tables.documents(spark, sf())
      .select("doc_id", "source", "n_chars")
    def ids(df: org.apache.spark.sql.DataFrame) =
      Sampling.stratifiedSample(df, "doc_id", "source",
        rates = Map("src0" -> 80, "src1" -> 0), defaultRate = 20,
        salt = "mix1")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val base = ids(d)
    assert(base == ids(d.repartition(13)), "sample must not depend on layout")
    assert(base == ids(d.orderBy(col("n_chars"))), "nor on row order")
    val bySrc = Sampling.stratifiedSample(d, "doc_id", "source",
      Map("src0" -> 80, "src1" -> 0), 20, "mix1")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src1"), "rate 0 drops the stratum")
    val totals = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val f0 = bySrc("src0").toDouble / totals("src0")
    assert(f0 > 0.55 && f0 < 1.0, s"src0 fraction $f0 far from 0.8")
  }

  test("sampleBy stratifies: per-key fractions honored") {
    val e = Tables.events(spark, sf()).select("event_id", "event_type")
    val fractions = Map("click" -> 0.5, "error" -> 0.1, "purchase" -> 0.0,
      "signup" -> 1.0, "view" -> 0.0)
    val s = e.stat.sampleBy("event_type", fractions, seed = 42L)
    val counts = s.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = e.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("purchase") && !counts.contains("view"))
    assert(counts("signup") === totals("signup"), "fraction 1.0 keeps all")
    val clickFrac = counts("click").toDouble / totals("click")
    assert(clickFrac > 0.3 && clickFrac < 0.7, s"click fraction $clickFrac")
  }

  test("tokenBudgetMix keeps a deterministic per-stratum prefix meeting " +
    "the token floor, invariant to input partitioning") {
    val docs = Tables.documents(spark, sf("sf0.01"))
      .select("doc_id", "source", "text")
    val kept = Sampling.tokenBudgetMix(docs, "doc_id", "text", "source", 600L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    for ((src, rows) <- kept.groupBy(_._1)) {
      val total = rows.map(_._3).sum
      assert(total >= 600, s"$src kept only $total tokens (budget floor)")
    }
    assert(kept.length < docs.count(), "budget must be selective here")
    // reproducible shuffle: a repartition must not change the sample
    val kept2 = Sampling.tokenBudgetMix(
      docs.repartition(13), "doc_id", "text", "source", 600L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(kept2 == kept.toSet)
    // the two-pass distributed prefix sum is bit-equal to the window
    // form (the packSequencesScalable proof, for the mix order)
    val scalable = Sampling.tokenBudgetMixScalable(
      docs, "doc_id", "text", "source", 600L, numParts = 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(scalable == kept.toSet)
    // null texts contribute nothing and are never selected — and the
    // window and two-pass forms agree on that instead of one throwing
    import spark.implicits._
    val dirty = docs.unionByName(
      Seq((900001L, "src0", null: String), (900002L, "src1", null: String))
        .toDF("doc_id", "source", "text"))
    val dirtyW = Sampling.tokenBudgetMix(dirty, "doc_id", "text", "source", 600L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val dirtyS = Sampling.tokenBudgetMixScalable(
      dirty, "doc_id", "text", "source", 600L, numParts = 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(dirtyW == kept.toSet && dirtyS == kept.toSet,
      "null-text rows must not change the mix or crash either form")
  }

  test("epochMix: capped strata repeat exactly maxEpochs times, others " +
    "land their token target within one doc, residual picks follow the " +
    "md5 prefix order, and the plan is partitioning-invariant") {
    val docs = Tables.documents(spark, sf("sf0.01"))
      .select("doc_id", "source", "text")
    val targets = Map("src0" -> 4000L, "src1" -> 100000L, "src2" -> 700L)
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.epochMix(df, "doc_id", "text", "source", targets, maxEpochs = 3)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val out = run(docs)
    assert(run(docs.repartition(13)).toSet == out.toSet)
    assert(out.map(_._1).toSet == Set("src0", "src1", "src2"),
      "only targeted strata appear")
    val toks = docs
      .select(col("source"), col("doc_id"),
        graft.text.TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val avail = toks.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    for ((src, target) <- targets) {
      val rows = out.filter(_._1 == src)
      val emitted = rows.map(r => r._3.toLong * r._4).sum
      val eFloor = target / avail(src)
      if (eFloor >= 3) {
        // cap binds: every doc exactly 3 times, no residual
        assert(rows.forall(_._4 == 3), s"$src must cap at 3 epochs")
        assert(emitted == 3L * avail(src))
        assert(rows.length.toLong == docs.where(col("source") === src).count())
      } else {
        val maxDoc = toks.filter(_._1._1 == src).values.max
        assert(emitted >= target && emitted < target + maxDoc,
          s"$src emitted $emitted for target $target (max doc $maxDoc)")
        // the +1 picks are a prefix of the same deterministic order the
        // budget mixer uses
        val budgetIds = Sampling.tokenBudgetMix(
          docs.where(col("source") === src), "doc_id", "text", "source",
          target - eFloor * avail(src) max 1L)
          .collect().map(_.getLong(1)).toSet
        val plusOne = rows.filter(_._4 == eFloor + 1).map(_._2).toSet
        if (target - eFloor * avail(src) > 0)
          assert(plusOne == budgetIds,
            s"$src residual picks must equal the budget-mix prefix")
      }
    }
  }

  test("temperature weights: shares sum to ~1, tail sources boosted " +
    "above head sources, deterministic across partitionings") {
    def run(dir: String) = graft.SparkEntry
      .queries("sample_temperature_weights")(spark, dir)
      .orderBy(col("source"))
      .select("source", "n_tokens", "p_raw", "p_temp", "boost")
      .collect().toSeq
    val rows = run(sf())
    assert(rows.nonEmpty)
    val pSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(pSum - 1.0) < 1e-3, s"p_temp must normalize: $pSum")
    // α < 1 flattens the distribution: the smallest source's boost must
    // exceed the largest source's boost
    val bySize = rows.sortBy(_.getLong(1))
    assert(bySize.head.getDouble(4) > bySize.last.getDouble(4),
      "temperature must up-weight the tail relative to the head")
    assert(run(sf()) == rows, "deterministic re-run")
  }

  test("reservoirPerKey: exactly k per key, the k smallest draws, " +
    "layout-invariant") {
    val d = Tables.documents(spark, sf()).select("doc_id", "source", "n_chars")
    def ids(df: org.apache.spark.sql.DataFrame) =
      Sampling.reservoirPerKey(df, "doc_id", "source", k = 5, salt = "res1")
        .select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    val got = ids(d)
    // reference: full window rank over the same draw
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("__draw").asc, col("doc_id").asc)
    val ref = d.withColumn("__draw",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":res1"))),
          1, 8), 16, 10).cast("long"))
      .withColumn("__rk", row_number().over(w)).where(col("__rk") <= 5)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == ref, "heap-per-key must equal the window-rank reference")
    got.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.size == 5, s"$src must yield exactly k rows")
    }
    assert(got == ids(d.repartition(13)), "sample must not depend on layout")
  }

  test("weightedSamplePerKey matches a driver-side A-ES reference and " +
    "favours heavy weights") {
    import spark.implicits._
    // one key, 60 items: item 0 carries weight 5000, the rest 1-ish
    val rows = (0L until 60L).map(i =>
      (i, "k", if (i == 0L) 5000L else 1L + (i % 3)))
    val got = Sampling.weightedSamplePerKey(
        rows.toDF("id", "key", "w"), "id", "key", "w", k = 8, salt = "s1")
      .select("id", "rank").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // reference: same md5 draw, same micro-unit ln(u)/w priority
    val md = java.security.MessageDigest.getInstance("MD5")
    def pri(id: Long, w: Long): Long = {
      val hex = md.digest(s"$id:s1".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val m = java.lang.Long.parseLong(hex, 16).toDouble
      math.round(math.log((m + 1.0) / 281474976710657.0) / w * 1e6)
    }
    val ref = rows.map { case (i, _, w) => (i, pri(i, w)) }
      .sortBy { case (i, p) => (-p, i) }.take(8).zipWithIndex
      .map { case ((i, _), r) => i -> (r + 1) }.toMap
    assert(got == ref)
    // u^(1/5000) ≈ 1 — the heavy item must be drawn, at rank 1
    assert(got(0L) == 1)
    // layout invariance
    val re = Sampling.weightedSamplePerKey(
        rows.toDF("id", "key", "w").repartition(7),
        "id", "key", "w", k = 8, salt = "s1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(re == got.keySet)
    // zero/negative weights can never be sampled
    val z = Sampling.weightedSamplePerKey(
        Seq((1L, "k", 0L), (2L, "k", -3L), (3L, "k", 2L))
          .toDF("id", "key", "w"), "id", "key", "w", k = 3, salt = "s1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(z == Set(3L))
  }
}
