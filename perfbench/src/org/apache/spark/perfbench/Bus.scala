package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private: a traced span
  * waits for queued listener events before it reads its counters, so a
  * job that ended inside the span is counted in that span.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
