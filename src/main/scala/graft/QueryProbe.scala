package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-query execution profiler (optimization-round instrumentation,
  * guide §1/§7): runs the named registry queries under the Bench
  * session config with a listener that tallies, per query, the number
  * of Spark jobs, stages, tasks, shuffle read/write bytes and records,
  * and per-job wall times. This answers "where do the seconds go" when
  * the Spark UI is off — a query whose wall time is 40 jobs of 50 ms is
  * fixed-overhead-bound (fewer actions/rounds is the lever); one with 2
  * jobs and 1 GB of shuffle read is shuffle-bound (guide §2 applies).
  *
  * Usage: sbt "runMain graft.QueryProbe name1,name2" [env as Bench].
  * Not part of the driver contract; diagnostics only.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val pats = args.headOption.map(_.split(',').toSeq).getOrElse(Seq())
    val spark = Session()
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val jobTimes = mutable.ListBuffer.empty[(Int, Long)] // jobId -> ms
    // (stageId, name, tasks, wallMs, executorRunMs, shufR, shufW, input)
    val stageRows =
      mutable.ListBuffer.empty[(Int, String, Int, Long, Long, Long, Long, Long)]
    var stages = 0
    var tasks = 0
    var shufR = 0L
    var shufW = 0L
    var inputB = 0L
    val jobStart = mutable.Map.empty[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart(j.jobId) = j.time
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobStart.remove(j.jobId).foreach(t0 =>
          jobTimes += ((j.jobId, j.time - t0)))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufR += m.shuffleReadMetrics.totalBytesRead
          shufW += m.shuffleWriteMetrics.bytesWritten
          inputB += m.inputMetrics.bytesRead
          val wall = (for {
            t1 <- s.stageInfo.completionTime
            t0 <- s.stageInfo.submissionTime
          } yield t1 - t0).getOrElse(0L)
          stageRows += ((s.stageInfo.stageId,
            s.stageInfo.name.takeWhile(_ != '\n').take(60),
            s.stageInfo.numTasks, wall, m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val names = SparkEntry.queries.keys.toSeq
      .filter(n => pats.isEmpty || pats.exists(n.contains)).sorted
    val repeat = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPEAT", "1").toInt
    for (name <- names; rep <- 1 to repeat) {
      // construction/planning cost split: fn() construction (includes
      // any aux writes/collects the query runs eagerly), then pure
      // plan+codegen of the final frame, then the counted action
      if (rep > 0) {
        val tc0 = System.nanoTime()
        val frame = SparkEntry.queries(name)(spark, sfDir)
        val tc1 = System.nanoTime()
        frame.queryExecution.executedPlan // force analysis+optimization
        val tc2 = System.nanoTime()
        println(f"PLANSPLIT $name%-32s rep=$rep construct=${(tc1 - tc0) / 1e9}%6.2fs plan=${(tc2 - tc1) / 1e9}%6.2fs")
      }
      // fresh tallies per query
      jobTimes.clear(); stageRows.clear(); stages = 0; tasks = 0
      shufR = 0L; shufW = 0L; inputB = 0L
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // give the listener bus a moment to drain
      Thread.sleep(300)
      val jt = jobTimes.toList.sortBy(-_._2)
      val jobsSum = jt.map(_._2).sum / 1000.0
      println(f"PROBE $name%-32s wall=$sec%7.2fs jobs=${jt.size}%3d " +
        f"jobsSum=$jobsSum%7.2fs stages=$stages%4d tasks=$tasks%5d " +
        f"shufR=${shufR / 1048576.0}%8.1fMB shufW=${shufW / 1048576.0}%8.1fMB " +
        f"input=${inputB / 1048576.0}%8.1fMB")
      val top = jt.take(8).map { case (id, ms) => f"j$id=${ms / 1000.0}%.2fs" }
      println(s"  top jobs: ${top.mkString(" ")}")
      for ((sid, nm, nt, wall, run, sr, sw, in) <-
             stageRows.toList.sortBy(-_._4).take(12))
        println(f"  stage $sid%4d tasks=$nt%4d wall=${wall / 1000.0}%6.2fs " +
          f"cpu=${run / 1000.0}%7.2fs shufR=${sr / 1048576.0}%7.1fMB " +
          f"shufW=${sw / 1048576.0}%7.1fMB input=${in / 1048576.0}%7.1fMB  $nm")
    }
    spark.stop()
  }
}
