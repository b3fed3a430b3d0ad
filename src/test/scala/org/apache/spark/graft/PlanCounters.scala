package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Per-run plan counters for tests: Spark jobs launched under one job
  * group, and classes compiled by whole-stage and expression codegen. The
  * listener bus is drained before jobs are read, so every job of the
  * finished action is counted. */
object PlanCounters {

  /** (jobs, newly compiled classes) of `body`, run on this thread. */
  def measure(sc: SparkContext)(body: => Unit): (Int, Long) = {
    val group = s"plan-counters-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    (jobs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0)
  }
}
