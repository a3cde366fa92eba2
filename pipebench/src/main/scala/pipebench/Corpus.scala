package pipebench

import java.io.File
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The curation corpus: `documents`, `embeddings` and `lineitem` tables
  * in the harness schema, generated from one seed.
  *
  * Documents draw tokens from a small vocabulary with a skewed
  * frequency; some are near-copies of an earlier document (a few
  * tokens replaced) and some are excerpts of one, so the dedup and text
  * operators find pairs. Embeddings are 64-d Gaussian vectors, some
  * planted as noisy copies. Lineitem carries the order/part pairs the
  * co-purchase graph is built from.
  */
object Corpus {
  val Docs = 1000
  val Vectors = 1000
  val Dim = 64
  val Orders = 4000
  val Parts = 300

  val Vocab: IndexedSeq[String] = ("the a of to and in data spark query row column table scan " +
    "join hash merge sort group filter order key value batch stream window agg line part " +
    "customer vector index fast slow small big dup cache shuffle stage task plan node edge " +
    "graph text token").split(" ").toIndexedSeq

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Seq[Float], label: Int)
  final case class Line(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int)

  def documents(rnd: Random): Seq[Doc] = {
    def word(): String = Vocab(math.min(Vocab.length - 1, (math.pow(rnd.nextDouble(), 1.6) * Vocab.length).toInt))
    val texts = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    (0 until Docs).map { i =>
      val r = rnd.nextDouble()
      val toks =
        if (i > 10 && r < 0.15) {
          val src = texts(rnd.nextInt(texts.length))
          (1 to 1 + rnd.nextInt(2)).foldLeft(src)((t, _) => t.updated(rnd.nextInt(t.length), word()))
        } else if (i > 10 && r < 0.2) {
          val src = texts(rnd.nextInt(texts.length))
          val len = math.max(3, (src.length * (0.6 + 0.3 * rnd.nextDouble())).toInt)
          val from = rnd.nextInt(src.length - len + 1)
          src.slice(from, from + len)
        } else Vector.fill(20 + rnd.nextInt(60))(word())
      texts += toks
      val text = toks.mkString(" ")
      Doc(i.toLong, text, Seq("en", "es", "pt", "de")(rnd.nextInt(4)), s"src${i % 7}", text.length.toLong)
    }
  }

  def embeddings(rnd: Random): Seq[Emb] = {
    val vs = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
    (0 until Vectors).map { i =>
      val v =
        if (i > 10 && rnd.nextDouble() < 0.05) vs(rnd.nextInt(vs.length)).map(x => x + (rnd.nextGaussian() * 0.02).toFloat)
        else Seq.fill(Dim)((rnd.nextGaussian() / 8.0).toFloat)
      vs += v
      Emb(i.toLong, v, rnd.nextInt(10))
    }
  }

  def lineitem(rnd: Random): Seq[Line] =
    (0 until Orders).flatMap { o =>
      (1 to 1 + rnd.nextInt(7)).map(n => Line(o.toLong, 1L + rnd.nextInt(Parts), 1L + rnd.nextInt(100), n))
    }

  def write(spark: SparkSession, variant: Long, dir: File): Unit = {
    import spark.implicits._
    val rnd = new Random(variant * 7919L + 17L)
    documents(rnd).toDF().coalesce(1).write.parquet(new File(dir, "documents.parquet").getPath)
    embeddings(rnd).toDF().coalesce(1).write.parquet(new File(dir, "embeddings.parquet").getPath)
    lineitem(rnd).toDF().coalesce(1).write.parquet(new File(dir, "lineitem.parquet").getPath)
  }
}
