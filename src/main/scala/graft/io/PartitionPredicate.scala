package graft.io

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types.StructType

import graft.log.{AddFile, Snapshot}

/** The one driver-side partition-predicate evaluator, with no Spark job,
  * behind the file pruner [[DataSkipping.pruner]]: scan planning
  * ([[graft.sources.GraftFileIndex]]), conflict checks, replaceWhere
  * overwrites, OPTIMIZE ... WHERE and merge scopes all reach it. The
  * reference narrows a partition-scoped overwrite the same way, by
  * comparing partition values (dagster_delta/handler.py:190-225). A
  * predicate is bound to a typed partition row and evaluated once per
  * distinct partition-value map.
  */
object PartitionPredicate {

  /** The snapshot's partition columns, typed as the table declares them. */
  def schemaOf(snap: Snapshot): StructType =
    StructType(snap.partitionColumns.map(c =>
      snap.schema.find(_.name == c).getOrElse(
        throw new IllegalStateException(s"partition column $c missing from schema"))))

  /** One typed row per distinct partition-value map of `files`: the hive
    * sentinel or a missing value is NULL, any other value is cast from
    * its log string in time zone `zone`. With `withBaseRowId` the rows
    * are per FILE and append its `baseRowId` and `addedVersion` (NULL for
    * pre-feature files).
    */
  def rows(
      schema: StructType,
      files: Seq[AddFile],
      zone: String,
      withBaseRowId: Boolean = false): Seq[(InternalRow, Seq[AddFile])] = {
    def values(pv: Map[String, String]): Seq[Any] = schema.map { f =>
      pv.get(f.name).filter(_ != DEFAULT_PARTITION_NAME)
        .map(s => Cast(Literal(s), f.dataType, Some(zone)).eval(null)).orNull
    }
    if (withBaseRowId)
      files.map(f => (InternalRow.fromSeq(values(f.partitionValues) ++ Seq(
        f.baseRowId.map(java.lang.Long.valueOf).orNull,
        f.addedVersion.map(java.lang.Long.valueOf).orNull)), Seq(f)))
    else
      files.groupBy(_.partitionValues).toSeq.map { case (pv, fs) =>
        (InternalRow.fromSeq(values(pv)), fs)
      }
  }

  /** A test of a row of layout `schema` against all of `conds`,
    * resolved predicates whose attributes name fields of `schema`;
    * interpreted: a test runs once over few rows (one per partition or
    * file), and generated code would inline each literal, so every new
    * partition value would compile a class of its own. Spark's own
    * partition pruners interpret for the same reason.
    */
  def compile(schema: StructType, conds: Seq[Expression]): InternalRow => Boolean =
    if (conds.isEmpty) _ => true
    else {
      val pred = Predicate.createInterpreted(conds.reduce(And).transform {
        case a: AttributeReference =>
          val i = schema.fieldIndex(a.name)
          BoundReference(i, schema(i).dataType, nullable = true)
      })
      pred.initialize(0)
      pred.eval
    }

  /** `pred` analyzed against `schema` — a filter over an empty
    * DataFrame, so no job runs.
    */
  def analyze(spark: SparkSession, schema: StructType, pred: Column): Expression =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema).filter(pred)
      .queryExecution.analyzed.collectFirst { case f: Filter => f.condition }.get

  /** `pred` resolved against `snap`'s schema: None when it names a data
    * column. A partition predicate that is non-deterministic or holds a
    * subquery has no per-partition answer and fails.
    */
  def resolve(spark: SparkSession, snap: Snapshot, pred: Column): Option[Expression] = {
    val cond = analyze(spark, snap.schema, pred)
    if (!cond.references.forall(a => snap.partitionColumns.contains(a.name))) None
    else {
      require(cond.deterministic && !SubqueryExpression.hasSubquery(cond),
        s"partition predicate $pred must be deterministic and subquery-free")
      Some(cond)
    }
  }

  /** Live files of `snap` whose partition values satisfy `pred`, which
    * must reference partition columns only.
    */
  def files(spark: SparkSession, snap: Snapshot, pred: Column): Seq[AddFile] =
    select(spark, snap, resolve(spark, snap, pred).getOrElse(
      throw new IllegalArgumentException(s"partition predicate $pred references " +
        s"a non-partition column (partition columns: ${snap.partitionColumns.mkString(", ")})")))

  /** Live files of `snap`, in snapshot order, whose partition values
    * satisfy `cond` (from [[resolve]]).
    */
  def select(spark: SparkSession, snap: Snapshot, cond: Expression): Seq[AddFile] = {
    val schema = schemaOf(snap)
    val keep = DataSkipping.pruner(schema, snap.schema, Seq(cond))(
      rows(schema, snap.files, spark.sessionState.conf.sessionLocalTimeZone))
      .map(_._2.head.partitionValues).toSet
    snap.files.filter(f => keep(f.partitionValues))
  }
}
