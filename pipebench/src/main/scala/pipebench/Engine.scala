package pipebench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for one traced window: a SparkListener for jobs,
  * stages, tasks, shuffle, spill and GC, and a QueryExecutionListener
  * that keeps the executed plan of every action for [[PlanWalk]].
  * Attach it, run the work, then [[detach]] and read [[summary]].
  */
final class Engine(spark: SparkSession) extends SparkListener {
  import Engine.Task

  @volatile private var jobs = 0
  private val stageMs = new ConcurrentLinkedQueue[((Int, Int), Long)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val shuffleWrite = new java.util.concurrent.atomic.AtomicLong()
  private val shuffleRead = new java.util.concurrent.atomic.AtomicLong()
  private val spill = new java.util.concurrent.atomic.AtomicLong()
  private val gcMs = new java.util.concurrent.atomic.AtomicLong()
  private val plans = new ConcurrentLinkedQueue[SparkPlan]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val ms = for (s <- i.submissionTime; c <- i.completionTime) yield c - s
    stageMs.add(((i.stageId, i.attemptNumber()), ms.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.add(Task((e.stageId, e.stageAttemptId), m.executorRunTime))
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  /** Plans executed outside the QueryExecutionListener's reach (the
    * micro-batches of a stream) are handed in here.
    */
  def addPlan(p: SparkPlan): Unit = plans.add(p)

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    this
  }

  def detach(): Unit = {
    org.apache.spark.pipebench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  def planCounts: PlanCounts =
    plans.asScala.map(PlanWalk.count).foldLeft(PlanCounts())(_ + _)

  /** max / median task run time in the stage that ran longest. */
  def taskSkew: Double = {
    val st = stageMs.asScala.toSeq
    if (st.isEmpty) 1.0
    else {
      val slowest = st.maxBy(_._2)._1
      val ts = tasks.asScala.filter(_.stage == slowest).map(_.runMs.toDouble).toSeq
      if (ts.isEmpty) 1.0
      else {
        val med = Stats.median(ts)
        if (med <= 0) 1.0 else ts.max / med
      }
    }
  }

  def summary: mutable.LinkedHashMap[String, Double] = {
    val p = planCounts
    mutable.LinkedHashMap(
      "engine.jobs" -> jobs.toDouble,
      "engine.stages" -> stageMs.size.toDouble,
      "engine.tasks" -> tasks.size.toDouble,
      "engine.shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
      "engine.shuffle_read_mb" -> shuffleRead.get / 1048576.0,
      "engine.spill_mb" -> spill.get / 1048576.0,
      "engine.gc_s" -> gcMs.get / 1000.0,
      "engine.task_skew" -> taskSkew,
      "plan.scans" -> p.scans.toDouble,
      "plan.exchanges" -> p.exchanges.toDouble,
      "plan.reused_exchanges" -> p.reusedExchanges.toDouble,
      "plan.smj" -> p.smj.toDouble,
      "plan.bhj" -> p.bhj.toDouble,
      "plan.bnlj" -> p.bnlj.toDouble,
      "plan.codegen_frac" -> p.codegenFrac)
  }
}

object Engine {
  private final case class Task(stage: (Int, Int), runMs: Long)
}
