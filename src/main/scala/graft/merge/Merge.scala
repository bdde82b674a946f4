package graft.merge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** The reference's four merge strategies
  * (reference: dagster_delta/config.py:190-196, handler.py:70-120).
  */
sealed trait MergeType { def name: String }
object MergeType {
  /** matched → update all columns; unmatched source rows dropped. */
  case object UpdateOnly extends MergeType { val name = "update_only" }
  /** insert only source rows with no match (write-time dedup). */
  case object DeduplicateInsert extends MergeType { val name = "deduplicate_insert" }
  /** matched → update; unmatched source → insert. */
  case object Upsert extends MergeType { val name = "upsert" }
  /** matched → update; target rows unmatched by source → delete; no
    * insert clause (reference: handler.py:117-118).
    */
  case object ReplaceDeleteUnmatched extends MergeType { val name = "replace_delete_unmatched" }
}

/** Merge configuration (reference: dagster_delta/config.py:199-215):
  * `predicate` is a SQL join condition over `source_alias`/`target_alias`
  * (e.g. "s.a = t.a"), overridable per output
  * (handler.py:83-88,150).
  */
final case class MergeConfig(
    mergeType: MergeType,
    predicate: String,
    sourceAlias: String = "s",
    targetAlias: String = "t",
    /** Partition-scope predicate on the target: rows outside it are left
      * untouched and the merge scan is confined to it
      * (reference ANDs partition conjuncts into the merge predicate,
      * handler.py:92-98).
      */
    partitionFilter: Option[Column] = None,
    /** Reject source columns whose type differs from the target's
      * (reference: config.py `error_on_type_mismatch`, default true).
      */
    errorOnTypeMismatch: Boolean = true,
    /** Delta parity: error when one target row matches more than one
      * source row in an update strategy (default false keeps the
      * documented emit-one-row-per-match semantics; enabling costs one
      * extra aggregation over the matched pairs).
      */
    failOnMultipleMatches: Boolean = false,
    /** Delta's merge `autoMerge`: source columns absent from the target
      * are appended to the table schema (nullable) in the same commit —
      * untouched files read them as null, carried-over and unmatched
      * rows get null, matched/inserted rows take the source values.
      * Off by default: extra source columns are ignored, like the write
      * path without a schemaMode.
      */
    schemaEvolution: Boolean = false,
    metadata: Map[String, String] = Map.empty)

final case class MergeStats(
    version: Long,
    numSourceRows: Long,
    numOutputRows: Long)

/** The reference's merge API ([[MergeConfig]]) over graft's one merge
  * engine: each strategy is a clause preset of [[MergeClausesExecutor]],
  * as delta-rs builds them from its clause builders (reference:
  * handler.py:70-120):
  *
  *   - update_only:   WHEN MATCHED UPDATE ALL
  *   - dedup_insert:  WHEN NOT MATCHED INSERT ALL
  *   - upsert:        both
  *   - replace_delete_unmatched: WHEN MATCHED UPDATE ALL +
  *                    WHEN NOT MATCHED BY SOURCE DELETE
  *
  * The config's scope, type check and single-match settings ride along
  * into the engine. If the target table doesn't exist it is created empty
  * from the source schema first (reference: handler.py:241-252).
  *
  * Multi-match caveat: when one target row matches several source rows the
  * update strategies emit one row per match (Delta errors instead, as
  * `failOnMultipleMatches` does). Callers needing Delta semantics should
  * de-duplicate the source on the merge key first (e.g. with
  * [[graft.ext.Dedup.latestByKey]]).
  */
object MergeExecutor {

  def merge(
      spark: SparkSession,
      source: DataFrame,
      path: String,
      config: MergeConfig,
      partitionBy: Seq[String] = Nil): MergeStats =
    MergeClausesExecutor.run(spark, source, path, partitionBy, lower(config))

  /** A strategy as its clause preset plus the config's settings. */
  private def lower(config: MergeConfig): MergeClausesExecutor.Spec = {
    val (matched, notMatched, bySource) = config.mergeType match {
      case MergeType.UpdateOnly        => (Seq(UpdateAll()), Nil, Nil)
      case MergeType.DeduplicateInsert => (Nil, Seq(InsertAll()), Nil)
      case MergeType.Upsert            => (Seq(UpdateAll()), Seq(InsertAll()), Nil)
      case MergeType.ReplaceDeleteUnmatched =>
        (Seq(UpdateAll()), Nil, Seq(Delete()))
    }
    MergeClausesExecutor.Spec(config.predicate, matched, notMatched, bySource,
      config.sourceAlias, config.targetAlias, config.schemaEvolution,
      scope = config.partitionFilter,
      typeCheck = config.errorOnTypeMismatch,
      singleMatch = config.failOnMultipleMatches,
      label = config.mergeType.name,
      metadata = config.metadata ++
        Map("operation" -> s"MERGE:${config.mergeType.name}"))
  }

  /** The pure-relational core: merge `source` into `target` and return the
    * new target contents — the engine's clause row core over the
    * strategy's preset, i.e. the same function the on-disk merge runs on
    * its touched rows. `partitionFilter` is not applied here (the caller
    * passes the in-scope rows). Public so it can be used (and
    * oracle-checked) as a standalone transformation without a table on
    * disk.
    *
    * Row tracking: a target carrying the physical id/version columns
    * threads them through — a surviving target row (updated or carried)
    * keeps its id; an updated row's version is NULL (it takes the
    * rewrite commit's version); inserted rows get NULL for both (fresh
    * defaults at write time).
    */
  def apply(target0: DataFrame, source: DataFrame, config: MergeConfig): DataFrame = {
    // schema evolution: pad the target with source-only columns (null);
    // without the flag the extra source columns are simply ignored
    val target =
      if (!config.schemaEvolution) target0
      else graft.io.Schemas.padTo(target0, source.schema)
    val plumbing = Set(graft.io.RowTracking.PhysicalCol,
      graft.io.RowTracking.PhysicalVersionCol)
    val schema = StructType(target.schema.filterNot(f => plumbing(f.name)))
    val m = lower(config)
    MergeClausesExecutor.checkSource(target, schema, source, m)
    MergeClausesExecutor.rowCore(target, target, source, expr(config.predicate),
      schema, m)
  }
}
