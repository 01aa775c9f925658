package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The two scheduler internals the benchmark reads from outside the
  * program: the job-id counter (counts every job, AQE stage jobs
  * included, with no listener attached) and the listener-bus drain that
  * makes listener counters complete at a span boundary. */
object PerfbenchBridge {
  def jobsSubmitted(sc: SparkContext): Long = sc.dagScheduler.nextJobId.get().toLong

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
