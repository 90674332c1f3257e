package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The benchmark's one reach into Spark internals: block until the async
  * listener bus has delivered every queued event, so span counters are
  * complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
