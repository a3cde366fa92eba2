package org.apache.spark.graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of code starts. Only jobs of the
  * block's own job group count (AQE submits stage jobs from other
  * threads, which inherit the group), and the listener bus is drained
  * before the count is read. The bus is package-private to Spark, hence
  * this file's package.
  */
object JobCounter {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-counter-${UUID.randomUUID()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
