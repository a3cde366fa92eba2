package graft

/** Plan-inspection utility: prints the formatted physical plan for one
  * or more queries (all when no names given). Usage:
  * `runMain graft.Explain <sfDir> [name ...]`. Used to audit pushdown,
  * pruning, broadcast choice, and whole-stage-codegen coverage.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session()
    names.foreach { n =>
      println(s"\n===== $n =====")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
