package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Tables
import graft.similarity.Similarity

class VectorExprsSpec extends SparkSpec {
  import spark.implicits._

  test("native float_dot is bit-identical to the HOF fold on real embeddings") {
    val emb = Tables.embeddings(spark, sf()).limit(100)
      .select($"vec_id", $"embedding")
    val both = emb.select(
      VectorExprs.float_dot($"embedding", $"embedding").as("native"),
      Similarity.dotHof($"embedding", $"embedding").as("hof"))
    assert(both.where($"native" =!= $"hof").count() == 0)
  }

  test("native expressions are SQL-callable via GraftExtensions") {
    Tables.documents(spark, sf()).limit(10).createOrReplaceTempView("docs_v")
    val out = spark.sql(
      """SELECT doc_id, graft_simhash64(split(trim(text), '\\s+')) AS fp
        |FROM docs_v""".stripMargin).collect()
    assert(out.length == 10 && out.forall(!_.isNullAt(1)))
    val dot = spark.sql(
      "SELECT graft_float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head().getDouble(0)
    assert(dot == 11.0)
  }

  test("SrpBandKeys equals per-slice SrpSignature (the form it batches)") {
    val emb = Tables.embeddings(spark, sf()).limit(50)
    val planes = graft.similarity.Similarity.hyperplanes(48, 64)
    val batched = emb.select($"vec_id",
      VectorExprs.srp_band_keys($"embedding", planes, bands = 6, bitsPerBand = 8)
        .as("keys"))
    val perSlice = emb.select($"vec_id" +: (0 until 6).map(bi =>
      VectorExprs.srp_signature($"embedding",
        planes.slice(bi * 8, (bi + 1) * 8)).as(s"k$bi")): _*)
    val a = batched.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = perSlice.collect().map(r =>
      r.getLong(0) -> (1 to 6).map(i => r.getLong(i))).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (id, keys) => assert(keys == b(id), s"vec $id") }
  }

  test("TokenNGrams == the HOF spelling (order, every-occurrence and " +
    "distinct modes), interpreted == codegen") {
    val docs = Tables.documents(spark, sf()).select($"doc_id",
      split(trim($"text"), "\\s+").as("t")).where(size($"t") >= 3)
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val fast = collectMap(docs.select($"doc_id",
      VectorExprs.token_ngrams($"t", 3)))
    val hof = collectMap(docs.select($"doc_id",
      transform(sequence(lit(0), size($"t") - 3),
        i => concat_ws(" ", slice($"t", i + lit(1), lit(3))))))
    assert(fast == hof, "every-occurrence mode must match the HOF plan")
    val fastD = collectMap(docs.select($"doc_id",
      VectorExprs.token_ngrams($"t", 3, distinct = true)))
    val hofD = collectMap(docs.select($"doc_id",
      array_distinct(transform(sequence(lit(0), size($"t") - 3),
        i => concat_ws(" ", slice($"t", i + lit(1), lit(3)))))))
    assert(fastD == hofD, "distinct mode must match array_distinct order")
    // short-input guard: empty result, not a descending sequence
    val shorty = Seq((1L, Seq("a", "b"))).toDF("doc_id", "t")
      .select($"doc_id", VectorExprs.token_ngrams($"t", 3))
    assert(collectMap(shorty) == Map(1L -> Nil))
  }

  test("bucket_rank = count of boundaries <= x, duplicates and ends included") {
    val bs = Array(1.0, 2.0, 2.0, 5.0)
    val xs = Seq(0.5, 1.0, 1.5, 2.0, 3.0, 5.0, 9.9)
    val expected = xs.map(x => bs.count(_ <= x))
    val got = xs.toDF("x")
      .select(VectorExprs.bucket_rank($"x", bs)).as[Int].collect().toSeq
    assert(got == expected)
  }

  test("approx sketches land near exact values") {
    val li = Tables.lineitem(spark, sf())
    val approx = li.groupBy($"l_returnflag").agg(
      approx_count_distinct($"l_orderkey").as("a"),
      percentile_approx($"l_extendedprice", lit(0.5), lit(1000)).as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = li.groupBy($"l_returnflag").agg(
      count_distinct($"l_orderkey").as("e"),
      expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (e, m)) =>
      val (a, am) = approx(k)
      assert(math.abs(a - e).toDouble / e < 0.1, s"$k: hll $a vs exact $e")
      assert(math.abs(am - m) / m < 0.1, s"$k: median $am vs exact $m")
    }
  }

  test("PqCodes/PqNearestCode == the unrolled array_max spelling it " +
    "replaced (which blew janino's 64 KB method limit at m*k scale)") {
    val emb = Tables.embeddings(spark, sf()).limit(200)
    val m = 8
    val cbs = Similarity.pqTrain(emb, "vec_id", "embedding", m = m, k = 16)
    val subDim = cbs.head.head.length
    // the pre-round-12 unrolled spelling, kept verbatim as the oracle
    def oldCode(cb: Array[Seq[Float]])(sub: org.apache.spark.sql.Column) = {
      val scored = cb.zipWithIndex.map { case (cw, i) =>
        val half = cw.map(x => x.toDouble * x.toDouble).sum / 2.0
        struct((VectorExprs.float_dot(sub, typedLit(cw)) - lit(half)).as("s"),
          lit(i).as("code"))
      }
      array_max(array(scored: _*)).getField("code")
    }
    val oldCodes = array((0 until m).map(j =>
      oldCode(cbs(j))(slice($"embedding", j * subDim + 1, subDim))
        .cast("int")): _*)
    val both = emb.select(
      VectorExprs.pq_codes($"embedding", cbs).as("fast"), oldCodes.as("slow"))
    assert(both.where(not($"fast" <=> $"slow")).count() == 0,
      "full-vector codes must match the unrolled plan")
    // the train-loop sibling on the exploded (id, subspace, subvector) frame
    val exploded = emb.select($"vec_id", posexplode(array((0 until m).map(j =>
      slice($"embedding", j * subDim + 1, subDim)): _*)))
      .select($"vec_id", $"pos".as("j"), $"col".as("sv"))
    val both2 = exploded.select(
      VectorExprs.pq_nearest_code($"sv", $"j", cbs).as("fast"),
      (0 until m).foldLeft(lit(-1)) { (acc, j) =>
        when($"j" === j, oldCode(cbs(j))($"sv")).otherwise(acc)
      }.as("slow"))
    assert(both2.where($"fast" =!= $"slow").count() == 0,
      "per-subspace assignment must match the when-chain plan")
    // score tie resolves to the HIGHER code, exactly like array_max
    // over struct(s, code)
    val tieCb: Array[Array[Seq[Float]]] =
      Array(Array(Seq(1f, 0f), Seq(1f, 0f), Seq(0f, 1f)))
    val tied = Seq((1L, Seq(1f, 0f))).toDF("id", "v")
      .select(VectorExprs.pq_codes($"v", tieCb).as("c")).head.getSeq[Int](0)
    assert(tied == Seq(1), s"tie must pick the higher code, got $tied")
  }
}
