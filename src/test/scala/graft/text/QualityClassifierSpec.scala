package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec

class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  test("train separates planted vocabularies; scoring thresholds correctly") {
    // positives speak one vocabulary, negatives another — a linear
    // model over hashed tokens must separate them in 3 GD passes
    val docs = ((0 until 40).map(i =>
        (i.toLong, true, s"clean$i good fine clean${i % 5} nice text here")) ++
      (40 until 80).map(i =>
        (i.toLong, false, s"spam$i junk garbage spam${i % 5} bad noise zzz")))
      .toDF("id", "y", "text")
    val (w, b) = QualityClassifier.train(docs, "text", col("y"),
      numBuckets = 256, iters = 12, learnRate = 20.0)
    val scored = QualityClassifier.score(docs, "id", "text", w, b, 256, 0.5)
      .join(docs.select("id", "y"), "id")
    val acc = scored.where(col("keep") === col("y")).count() / 80.0
    assert(acc >= 0.95, s"separable data must separate, accuracy=$acc")
    val gap = scored.groupBy("y").agg(avg("p_quality")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(gap(true) > 0.6 && gap(false) < 0.4,
      s"margins should separate: $gap")
  }

  test("sampleMod trains on the content-hash sample: identical to a " +
    "full train over the pre-filtered subset") {
    val docs = graft.model.Tables.documents(spark, sf())
      .select("doc_id", "lang", "text")
    val mod = 4L
    val (w1, b1) = QualityClassifier.train(docs, "text",
      col("lang") === "en", numBuckets = 64, iters = 2, sampleMod = mod)
    val pre = docs.where(pmod(xxhash64(col("text")), lit(mod)) === 0)
    val (w2, b2) = QualityClassifier.train(pre, "text",
      col("lang") === "en", numBuckets = 64, iters = 2)
    assert(b1 == b2 && w1.sameElements(w2),
      "sampleMod must be exactly the xxhash64-of-content filter")
    assert(pre.count() < docs.count(),
      "fixture must actually sample the corpus down")
  }

  test("score keepCols pass through; pr-curve confusion counts are " +
    "consistent and monotone in the threshold") {
    val out = graft.SparkEntry
      .queries("text_quality_pr_curve")(spark, sf())
      .orderBy(col("thr"))
      .select("thr", "tp", "fp", "fn", "tn").collect()
    assert(out.length == 9)
    val nPos = out.head.getLong(1) + out.head.getLong(3)
    val nNeg = out.head.getLong(2) + out.head.getLong(4)
    out.foreach { r =>
      assert(r.getLong(1) + r.getLong(3) == nPos, "tp+fn = #positives")
      assert(r.getLong(2) + r.getLong(4) == nNeg, "fp+tn = #negatives")
    }
    val tps = out.map(_.getLong(1)).toSeq
    assert(tps == tps.sorted.reverse, "tp non-increasing as thr rises")
    val fps = out.map(_.getLong(2)).toSeq
    assert(fps == fps.sorted.reverse, "fp non-increasing as thr rises")
  }

  test("training is deterministic: identical weights across runs and " +
    "partitionings") {
    val docs = graft.model.Tables.documents(spark, sf())
      .select("doc_id", "lang", "text")
    val (w1, b1) = QualityClassifier.train(docs, "text",
      col("lang") === "en", numBuckets = 64, iters = 2)
    val (w2, b2) = QualityClassifier.train(docs.repartition(13), "text",
      col("lang") === "en", numBuckets = 64, iters = 2)
    assert(b1 == b2, "bias must be bit-identical")
    assert(w1.sameElements(w2),
      "micro-unit long gradient sums must make weights bit-identical")
  }
}
