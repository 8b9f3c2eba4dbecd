package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run waits for every queued job/stage/task event before it
  * reads per-span counters, so no task is attributed late or lost. */
object FlowbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
