package pipebench

import java.io.File
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The curation operators: one registry query per family over a
  * generated corpus, each run once per pass.
  *
  * Unit of work: one pass. A query's construction (the call that returns
  * its DataFrame, with every eager job it runs) and its execution (one
  * aggregate that reads every output row and hashes it) are timed
  * separately. Each query's row count and content hash must equal the
  * value recorded in `golden/curation.tsv` for the corpus variant.
  *
  * The corpus variant is `seed mod Variants`, so recorded hashes exist
  * for every seed.
  */
object Curation {
  val Slots = 4
  val Variants = 32
  val WarmUpPasses = 1

  val Queries: Seq[(String, String)] = Seq(
    "dedup" -> "dedup_minhash_lsh",
    "similarity" -> "sim_topk_bruteforce",
    "multimodal" -> "multimodal_features",
    "graph" -> "graph_kcore_peel",
    "text" -> "text_tfidf_topk")

  /** Row count and an order-independent content hash of a frame. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(df.col).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(20,0)")), bit_xor(col("h"))).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  def variant(seed: Long): Long = Math.floorMod(seed, Variants.toLong)

  def readGolden(f: File): Map[(Long, String), String] =
    if (!f.isFile) Map.empty
    else {
      val src = Source.fromFile(f)
      try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t"))
        .collect { case Array(v, q, d) => (v.toLong, q) -> d }.toMap
      finally src.close()
    }

  /** Records the golden digests: `pipebench.Curation <out.tsv> <work dir>`. */
  def main(args: Array[String]): Unit = {
    val out = new File(args(0))
    val work = new File(args(1)).getAbsoluteFile
    val lines = (0L until Variants).flatMap { v =>
      val dir = new File(work, s"variant$v")
      Main.deleteTree(dir)
      dir.mkdirs()
      val spark = Main.session(Slots, dir)
      val corpus = new File(dir, "corpus")
      Corpus.write(spark, v, corpus)
      val ds = Queries.map { case (_, q) =>
        s"$v\t$q\t${digest(SparkEntry.queries(q)(spark, corpus.getPath))}"
      }
      spark.stop()
      Main.deleteTree(dir)
      ds
    }
    val w = new java.io.PrintWriter(out)
    try {
      w.println("# variant\tquery\trows:hash_sum:hash_xor (pipebench.Curation)")
      lines.foreach(w.println)
    } finally w.close()
  }
}

final class Curation(goldenFile: File) extends Workload {
  import Curation._

  val slots = Slots
  val minUnits = 4

  def prepare(spark: SparkSession, seed: Long, dir: File): Session = {
    val v = variant(seed)
    val corpus = new File(dir, "corpus")
    Corpus.write(spark, v, corpus)
    new CurationSession(spark, corpus.getPath,
      readGolden(goldenFile).collect { case ((`v`, q), d) => q -> d })
  }

  final class CurationSession(spark: SparkSession, corpus: String,
                              golden: Map[String, String]) extends Session {
    def warmUp(traced: Boolean): Unit = (1 to WarmUpPasses).foreach(_ => unit(new Results, None))

    def unit(res: Results, engine: Option[Engine]): Unit = {
      val tracer = new Tracer
      val rows = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      res.timedUnit(engine.isDefined) {
        Queries.foreach { case (family, q) =>
          res.guard(q) {
            val df = tracer.span(s"$family.construct")(SparkEntry.queries(q)(spark, corpus))
            val d = tracer.span(s"$family.exec")(digest(df))
            rows(family) += d.takeWhile(_ != ':').toLong
            golden.get(q).contains(d)
          }
        }
      }
      if (engine.isDefined) {
        val t = tracer.selfTimes
        Metrics.Families.foreach { f =>
          res.layerSample(s"$f.construct_s", t.getOrElse(s"$f.construct", 0.0))
          res.layerSample(s"$f.exec_s", t.getOrElse(s"$f.exec", 0.0))
          res.layerSample(s"$f.rows_out", rows(f).toDouble)
        }
      }
    }

    override def after(res: Results, traced: Boolean): Unit =
      if (traced) Kernels.measure(spark).foreach { case (k, v) => res.layer(k) = v }
  }
}
