package pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PlanWalkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def executed(df: DataFrame): PlanCounts = {
    df.collect()
    PlanWalk.count(df.queryExecution.executedPlan)
  }

  test("broadcast hash join: two range scans, one broadcast exchange") {
    val c = executed(spark.range(100).join(broadcast(spark.range(10)), "id"))
    assert(c == PlanCounts(scans = 2, exchanges = 1, bhj = 1,
      operators = c.operators, codegen = c.codegen))
    // Range, Range, BroadcastExchange, BroadcastHashJoin, Project:
    // everything but the exchange is compiled
    assert(c.operators == 5)
    assert(c.codegen == 4)
  }

  test("sort-merge join: one shuffle per side") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // several partitions, so neither side is already co-partitioned
      val c = executed(spark.range(0, 100, 1, 4).join(spark.range(0, 10, 1, 3), "id"))
      assert(c.smj == 1 && c.bhj == 0 && c.bnlj == 0)
      assert(c.exchanges == 2)
      assert(c.scans == 2)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a self-join of one aggregate reuses its exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val agg = spark.range(0, 100, 1, 4).groupBy((col("id") % 10).as("k")).count()
      val c = executed(agg.join(agg.withColumnRenamed("count", "n"), "k"))
      assert(c.reusedExchanges == 1)
      assert(c.smj == 1)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a non-equi join plans a broadcast nested loop join") {
    val c = executed(spark.range(20).as("a")
      .join(broadcast(spark.range(5).as("b")), col("a.id") < col("b.id")))
    assert(c.bnlj == 1 && c.bhj == 0 && c.smj == 0)
  }

  test("the adaptive wrapper is looked through to the final plan") {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val c = executed(spark.range(100).join(broadcast(spark.range(10)), "id"))
      assert(c.bhj == 1 && c.scans == 2)
      assert(c.codegenFrac > 0.0 && c.codegenFrac < 1.0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "false")
  }
}
