package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{JobCounter, SparkSpec}

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  // triangle {1,2,3} with a chain 3-4-5-6 hanging off it: the classic
  // multi-round peel — each round exposes the next chain node
  private val chain = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
    (4L, 5L), (5L, 6L))

  private def rows(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def run(edges: Seq[(Long, Long)], k: Int,
                  rounds: Int): Map[Long, Long] =
    rows(KCore.kCoreTruncated(edges.toDF("src", "dst"), "src", "dst", k, rounds))

  /** The fixed-round form kCoreTruncated replaced: every round peels,
    * whether or not anything is left to peel. Returns the `(node,
    * degree)` table after each of rounds 1..`rounds` — the output of
    * that form called with each round count.
    */
  private def unrolled(edges: DataFrame, k: Int,
                       rounds: Int): Seq[Map[Long, Long]] = {
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
    val raw = edges.select(col("src").cast("long").as("a"),
        col("dst").cast("long").as("b"))
      .where(col("a") =!= col("b"))
    var e = raw.select(least(col("a"), col("b")).as("u"),
      greatest(col("a"), col("b")).as("v")).distinct().localCheckpoint()
    (1 to rounds).map { _ =>
      val keep = degrees(e).where(col("degree") >= k).select("node")
      e = e.join(keep.select(col("node").as("u")), "u")
        .join(keep.select(col("node").as("v")), "v")
        .select("u", "v").localCheckpoint()
      rows(degrees(e))
    }
  }

  private def clique(n: Long): Seq[(Long, Long)] =
    for (a <- 1L to n; b <- a + 1 to n) yield (a, b)

  test("2-core of triangle+chain peels the chain one hop per round") {
    // converged (3 rounds): only the triangle survives, all degree 2
    assert(run(chain, 2, 3) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // truncated at 1 round: only the endpoint 6 is gone; 5 now dangles
    // with degree 1 — the truncation contract reports it as-is
    assert(run(chain, 2, 1) == Map(1L -> 2L, 2L -> 2L, 3L -> 3L,
      4L -> 2L, 5L -> 1L))
  }

  test("stopping at the fixpoint gives the fixed-round output for every " +
    "round count") {
    val small = chain.toDF("src", "dst")
    unrolled(small, 2, 5).zipWithIndex.foreach { case (want, i) =>
      assert(rows(KCore.kCoreTruncated(small, "src", "dst", 2, i + 1)) == want,
        s"triangle+chain, rounds=${i + 1}")
    }
    val harness = Triangles.coPurchaseEdges(
      graft.model.Tables.lineitem(spark, sf()), partMod = 4)
    unrolled(harness, 20, 10).zipWithIndex.foreach { case (want, i) =>
      assert(rows(KCore.kCoreTruncated(harness, "src", "dst", 20, i + 1)) == want,
        s"harness graph, rounds=${i + 1}")
    }
  }

  test("a graph that is its own k-core runs no extra jobs for more rounds") {
    val k5 = clique(5).toDF("src", "dst")
    def jobs(rounds: Int): Int = {
      val (r, n) = JobCounter.count(spark.sparkContext)(
        rows(KCore.kCoreTruncated(k5, "src", "dst", 4, rounds)))
      assert(r == (1L to 5L).map(_ -> 4L).toMap)
      n
    }
    val one = jobs(1)
    assert(jobs(10) <= one)
  }

  test("threshold above the max degree empties the graph") {
    assert(run(chain, 5, 2).isEmpty)
    def jobs(rounds: Int): Int = {
      val (r, n) = JobCounter.count(spark.sparkContext)(run(chain, 5, rounds))
      assert(r.isEmpty)
      n
    }
    // one peel empties the graph; the rounds after it run nothing
    val one = jobs(1)
    assert(jobs(10) <= one)
  }

  test("reversed duplicates and self-loops are canonicalised away") {
    val messy = chain ++ chain.map(_.swap) ++ Seq((1L, 1L))
    assert(run(messy, 2, 3) == run(chain, 2, 3))
  }

  test("harness graph at the registered (k=20, 10 rounds) is converged: " +
    "an 11th round drops nobody, and the peel genuinely cascaded") {
    val e = Triangles.coPurchaseEdges(
      graft.model.Tables.lineitem(spark, sf()), partMod = 4)
    val r10 = KCore.kCoreTruncated(e, "src", "dst", 20, 10)
    val r11 = KCore.kCoreTruncated(e, "src", "dst", 20, 11)
    val n10 = r10.count()
    assert(n10 == r11.count())
    assert(r10.where($"degree" < 20).count() == 0)
    // more than one round did work (a one-shot threshold filter would
    // not need the loop)
    val r1 = KCore.kCoreTruncated(e, "src", "dst", 20, 1)
    assert(r1.count() > n10)
  }
}
