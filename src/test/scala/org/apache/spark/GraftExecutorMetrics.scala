package org.apache.spark

/** Test bridge to the `private[spark]` executor-metrics poll that the driver
  * and executor heartbeaters run. A JVM's first poll starts one process
  * (`getconf PAGESIZE`, the process-tree metrics' page-size probe), so a spec
  * that counts process starts polls once before it records. Lives in the
  * `org.apache.spark` package purely for access. */
object GraftExecutorMetrics {
  def poll(): Unit = executor.ExecutorMetrics.getCurrentMetrics(SparkEnv.get.memoryManager)
}
