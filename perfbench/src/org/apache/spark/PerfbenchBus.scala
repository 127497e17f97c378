package org.apache.spark

/** Access to two `private[spark]` internals the benchmark reads. */
object PerfbenchBus {
  /** Block until every queued listener event has been delivered, so a span
    * ends only after the task events it caused are counted. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes the block manager currently holds in storage memory (cached and
    * checkpointed blocks, broadcast blocks). In local mode this is the one
    * block manager of the job. */
  def storageMemoryUsed: Long =
    Option(SparkEnv.get).map(_.memoryManager.storageMemoryUsed).getOrElse(0L)
}
