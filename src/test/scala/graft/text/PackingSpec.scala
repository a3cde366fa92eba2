package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sequence packing + chunking invariants. The load-bearing one: the
  * distributed two-pass prefix sum must be BIT-EQUAL to the window
  * form — same pack for every doc — because the scalable path is what
  * runs at 100 TB and the window path is what the DuckDB oracle checks.
  */
class PackingSpec extends SparkSpec {

  private def docs = graft.model.Tables.documents(spark, sf())

  test("packSequencesScalable == packSequences (every doc, every stratum)") {
    // one doc's text nulled: it adds no tokens to any prefix and keeps
    // its row with a null pack_id in both forms
    val withNull = docs.withColumn("text",
      when(col("doc_id") =!= 250, col("text")))
    val w = TextAnalysis.packSequences(withNull, "doc_id", "text", "source", 512)
    // numParts=5 forces strata to span partition boundaries (10 sources,
    // 500 docs) so the cross-partition offset path actually executes
    val s = TextAnalysis.packSequencesScalable(withNull, "doc_id", "text",
      "source", 512, numParts = 5)
    assert(w.exceptAll(s).isEmpty && s.exceptAll(w).isEmpty,
      "two-pass prefix sum must reproduce the window form exactly")
    assert(s.where(col("pack_id").isNull).count() == 1)
    // sanity: multiple packs exist, so the test isn't vacuous
    assert(w.select("pack_id").distinct().count() > 1)
  }

  test("packs are contiguous in doc order and respect the budget rule") {
    val p = TextAnalysis.packSequences(docs, "doc_id", "text", "source", 512)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    for ((src, rows) <- p.groupBy(_._1)) {
      val ordered = rows.sortBy(_._2)
      // pack ids are non-decreasing in doc order, starting at 0
      assert(ordered.head._4 == 0)
      assert(ordered.sliding(2).forall {
        case Array(a, b) => b._4 >= a._4; case _ => true
      }, s"non-monotone packs in $src")
      // pack_id == floor(exclusive prefix / budget), re-derived
      var running = 0L
      for ((_, _, n, pid) <- ordered) {
        assert(pid == (running / 512).toInt)
        running += n
      }
    }
  }

  test("chunkWindows covers every token with the right overlap") {
    val c = TextAnalysis.chunkWindows(docs, "doc_id", "text", 32, 24)
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_chunks"),
        max(col("chunk_id")).as("last_chunk"),
        sum(col("n_chunk_tokens")).as("sum_chunk_toks"),
        max(col("n_chunk_tokens")).as("max_chunk_toks"))
      .join(docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_toks")), "doc_id")
      .collect()
    assert(c.nonEmpty)
    for (r <- c) {
      val (nChunks, last, sumToks, maxToks, n) =
        (r.getLong(1), r.getInt(2), r.getLong(3), r.getInt(4), r.getInt(5))
      assert(last == nChunks - 1, "chunk ids dense from 0")
      val expected = if (n <= 32) 1L else math.ceil((n - 32) / 24.0).toLong + 1
      assert(nChunks == expected, s"n=$n chunks=$nChunks")
      assert(maxToks <= 32)
      // full coverage: chunks jointly span all n tokens — total chunked
      // tokens = n + overlap; overlap = 8 per chunk boundary
      assert(sumToks == n + (nChunks - 1) * 8, s"n=$n sum=$sumToks chunks=$nChunks")
    }
  }

  test("chunkKeepFirst keeps exactly the first (doc, chunk) occurrence " +
    "of a repeated paragraph and all unique paragraphs") {
    import spark.implicits._
    // 4-token chunks; docs 1 and 2 share paragraph "dup dup dup dup",
    // doc 2 also repeats it internally at chunk 1
    val docs = Seq(
      (1L, "dup dup dup dup aaa bbb ccc ddd"),
      (2L, "dup dup dup dup dup dup dup dup"),
      (3L, "all unique words in this one doc")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkKeepFirst(docs, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(4)).toMap
    assert(out((1L, 0)), "first occurrence kept")
    assert(!out((2L, 0)) && !out((2L, 1)),
      "cross-doc AND within-doc repeats dropped")
    assert(out((1L, 1)) && out((3L, 0)) && out((3L, 1)), "unique chunks kept")
    assert(out.size == 6)
  }
}
