package graft

import graft.functions.GraftExtensions
import graft.plans.TopKPerKey

/** [[Session]] is the one way sessions are built and extended. */
class SessionSpec extends SparkSpec {

  test("repeated factory and register calls leave one strategy, no optimizer " +
    "rules, and SQL-callable graft functions") {
    val s = Session()
    GraftExtensions.register(Session())
    TopKPerKey.ensureRegistered(s)
    assert(s eq spark)
    assert(s.experimental.extraStrategies.count(_ == TopKPerKey.TopKStrategy) == 1)
    assert(s.experimental.extraOptimizations.isEmpty)
    val dot = s.sql(
      "SELECT graft_float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head().getDouble(0)
    assert(dot == 11.0)
  }

  test("SPARK_GRAFT_CONF splits on ';' when present, else on ','") {
    assert(Session.parseConf("a.b=1;c=x,y") == Seq("a.b" -> "1", "c" -> "x,y"))
    assert(Session.parseConf("a.b=1,c=k=v") == Seq("a.b" -> "1", "c" -> "k=v"))
    assert(Session.parseConf("c=x;") == Seq("c" -> "x"))
    assert(Session.parseConf("") == Nil)
  }

  test("window top-k plans as Spark's native group limit, which Bench's " +
    "topk_rewrite_fires check reports") {
    val exec = SparkEntry.queries("window_top_order_per_customer")(spark, sf())
      .queryExecution.executedPlan
    assert(Bench.groupLimitBeforeExchange(exec), exec)
    assert(!exec.toString.contains("FinalTopK"), exec)
    assert(Bench.topkLimitFires(spark, sf()))
    // and the check fails when Spark stops inferring the group limit
    val threshold = "spark.sql.optimizer.windowGroupLimitThreshold"
    spark.conf.set(threshold, "-1")
    try assert(!Bench.topkLimitFires(spark, sf()))
    finally spark.conf.unset(threshold)
  }
}
