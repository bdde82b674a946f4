package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ReplicateRows
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Test helper: the SQL executions (one per Dataset action or command)
  * a block runs, in order, as their [[QueryExecution]]s. Lives in the
  * Spark package to drain the listener bus, so no event of the block is
  * missed and no earlier one leaks in.
  */
object ExecutionRecorder {

  def record[T](spark: SparkSession)(f: => T): (T, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val out = f
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Does the execution's optimized plan run a `ReplicateRows` generator
    * (the rewrite of EXCEPT ALL / INTERSECT ALL)? Looks through cached
    * relations, whose plans run inside the execution that fills them.
    */
  def replicatesRows(qe: QueryExecution): Boolean = {
    def logical(p: LogicalPlan): Boolean = p.exists {
      case g: Generate         => g.generator.isInstanceOf[ReplicateRows]
      case r: InMemoryRelation => physical(r.cacheBuilder.cachedPlan)
      case _                   => false
    }
    def physical(p: SparkPlan): Boolean = p.exists {
      case g: GenerateExec           => g.generator.isInstanceOf[ReplicateRows]
      case a: AdaptiveSparkPlanExec  => physical(a.inputPlan)
      case s: InMemoryTableScanExec  => physical(s.relation.cacheBuilder.cachedPlan)
      case _                         => false
    }
    logical(qe.optimizedPlan)
  }

  /** Data files the execution's file scans listed (the sum of their
    * `numFiles` metrics, through adaptive query stages).
    */
  def filesScanned(qe: QueryExecution): Long = filesPerScan(qe).sum

  /** The `numFiles` metric of each of the execution's file scans. */
  def filesPerScan(qe: QueryExecution): Seq[Long] = {
    object Plans extends AdaptiveSparkPlanHelper
    Plans.collect(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }
  }
}
