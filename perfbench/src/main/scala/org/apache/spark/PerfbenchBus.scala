package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every
  * queued event (job, stage and streaming-progress events are
  * asynchronous) before it reads its listeners' records.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
