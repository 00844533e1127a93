package org.apache.spark

import org.apache.spark.executor.TaskMetrics

/** Builds task metrics for synthetic listener events; the setters are
  * package-private, hence this package. */
object TaskMetricsFixture {
  def apply(runMs: Long, cpuNs: Long, gcMs: Long, spillB: Long): TaskMetrics = {
    val m = new TaskMetrics
    m.setExecutorRunTime(runMs)
    m.setExecutorCpuTime(cpuNs)
    m.setJvmGCTime(gcMs)
    m.incDiskBytesSpilled(spillB)
    m
  }
}
