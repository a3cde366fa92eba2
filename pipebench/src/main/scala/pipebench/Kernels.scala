package pipebench

import scala.util.Random

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.VectorExprs

/** Per-row cost of the codegen'd column functions in `graft.functions`,
  * each timed through its public wrapper over one cached generated
  * frame: the median time of an aggregate that reads every output
  * value, divided by the row count. The figure includes reading the
  * kernel's input columns from the cache.
  */
object Kernels {
  val Rows = 100000L
  val Reps = 5

  def measure(spark: SparkSession): Seq[(String, Double)] = {
    val rnd = new Random(11)
    def vec(salt: Int): Column =
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(col("id"), i, lit(salt)), lit(2001L)) - 1000).cast("float") / 1000.0f).cast("float"))
    val vocab = array(Corpus.Vocab.map(lit): _*)
    val frame = spark.range(Rows).select(
        vec(1).as("v"), vec(2).as("w"),
        (pmod(xxhash64(col("id"), lit(3)), lit(1000000L)) / 1e6).as("x"),
        transform(sequence(lit(0), lit(39)), i =>
          element_at(vocab, (pmod(xxhash64(col("id"), i, lit(4)), lit(Corpus.Vocab.length.toLong)) + 1).cast("int")))
          .as("toks"))
      .withColumn("sh", VectorExprs.token_ngrams(col("toks"), 3, distinct = true))
      .cache()
    frame.count()

    val cents = Array.fill(16 * 64)((rnd.nextGaussian() / 8).toFloat)
    val centNorms = cents.grouped(64).map(c => math.sqrt(c.map(x => x.toDouble * x).sum)).toArray
    val codebooks = Array.fill(8)(Array.fill(16)(Seq.fill(8)((rnd.nextGaussian() / 8).toFloat)))
    val perms = Dedup.permutations(32)
    val bounds = (1 to 99).map(_ / 100.0).toArray

    val kernels: Seq[(String, Column)] = Seq(
      "float_dot" -> sum(VectorExprs.float_dot(col("v"), col("w"))),
      "nearest_cells" -> sum(size(VectorExprs.nearest_cells(col("v"), cents, centNorms, 4))),
      "pq_codes" -> sum(size(VectorExprs.pq_codes(col("v"), codebooks))),
      "minhash_signature" -> sum(element_at(VectorExprs.minhash_signature(col("sh"),
        perms.map(_._1), perms.map(_._2), Dedup.MinHashPrime), 1)),
      "token_ngrams" -> sum(size(VectorExprs.token_ngrams(col("toks"), 3))),
      "bucket_rank" -> sum(VectorExprs.bucket_rank(col("x"), bounds)))
    val out = kernels.map { case (name, agg) =>
      val q = frame.agg(agg)
      q.collect() // compile once outside the timing
      val ts = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        q.collect()
        (System.nanoTime() - t0).toDouble
      }
      s"functions.$name.ns_per_row" -> Stats.median(ts) / Rows
    }
    frame.unpersist(blocking = true)
    out
  }
}
