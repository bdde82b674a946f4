package org.apache.spark.sql.graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Test helper: the Janino compiles a block causes, read off Spark's
  * process-wide codegen counter (a codegen cache hit compiles nothing).
  * Anything else compiling in the JVM at the same time counts too, so
  * run the block with no query in flight.
  */
object CodegenCount {

  def compiles[T](f: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = f
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }
}
