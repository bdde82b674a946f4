package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression, NamedExpression, Not}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Builds the *native* logical plan for a graft table: a
  * `LogicalRelation(HadoopFsRelation(parquet))` over the snapshot's live
  * files — the same integration point Spark's own file sources (and
  * Delta's TahoeFileIndex) use. Compared to the V1
  * `PrunedFilteredScan` fallback in [[GraftRelation]], this keeps reads
  * columnar end-to-end: whole-stage codegen over vectorized parquet
  * batches, filter/column pushdown into the scan, partition pruning on
  * hive dirs — no `RDD[Row]` deserialization boundary.
  *
  * Bucketed tables additionally surface their layout as a real
  * [[BucketSpec]] (the files are written with Spark's `_NNNNN` bucket
  * suffix — see [[graft.io.GraftWriter]]), so the scan reports
  * `HashPartitioning(key, n)` and a join of two co-bucketed graft tables
  * on the bucket key runs with **no Exchange** on either side — the
  * capability the reference inherits from its engine's pushdown-capable
  * dataset (handler.py:519-551), expressed Spark-natively.
  */
object GraftNativeRelation {

  /** Native logical plan for the table at `path` (declared column order
    * and types, like `GraftTable.toDf`).
    */
  def plan(
      spark: SparkSession,
      path: String,
      versionAsOf: Option[Long],
      withRowId: Boolean = false): LogicalPlan = {
    val table = graft.io.GraftTable(spark, path)
    val snap = table.snapshot(versionAsOf)
    planFor(spark, path, snap, bucketSpecOf(table, snap), withRowId = withRowId)
  }

  /** Plan over an explicit snapshot (or file-subset view of one) —
    * shared by the `format("graft")` substitution and the programmatic
    * `GraftTable.toDf`/`dfForFiles` path.
    */
  def planFor(
      spark: SparkSession,
      path: String,
      snap0: graft.log.Snapshot,
      bucketSpec: Option[BucketSpec] = None,
      readOptions: Map[String, String] = Map.empty,
      /** Also project the physical row identity (`__graft_file` =
        * `_metadata.file_path`, `__graft_row_index` =
        * `_metadata.row_index`) — the handle deletion-vector DML keys
        * its bitmaps on.
        */
      withRowMeta: Boolean = false,
      /** Also project `_graft_row_id` (row tracking): the materialized
        * `__graft_row_id` column when the file carries one (rewritten
        * files), else `baseRowId + _metadata.row_index`, else NULL
        * (pre-feature files).
        */
      withRowId: Boolean = false): LogicalPlan = {
    // read as nullable regardless of the declared schema — files cannot
    // be trusted to honor NOT NULL (Spark's own file sources do the
    // same; a non-nullable read schema lets the optimizer fold
    // `col IS NULL` to false and silently drop rows)
    val snap = snap0.copy(schema = nullableDeep(snap0.schema).asInstanceOf[StructType])
    val partCols = snap.partitionColumns.toSet
    // renamed columns: files carry PHYSICAL names (see
    // graft.io.ColumnMapping) — scan with the physical schema and alias
    // back to the logical names in the pinning Project below. Catalyst
    // substitutes the aliases when pushing filters/pruning into the
    // scan, so pushed predicates reference physical attrs, matching the
    // footer-stats keys in the commit log.
    val mapping = graft.io.ColumnMapping.fromSnapshot(snap0)
    val dataSchema0 = graft.io.ColumnMapping.physicalSchema(
      StructType(snap.schema.filterNot(f => partCols(f.name))), mapping)
    // row-id reads also request the materialized id/version columns:
    // files without them (fresh appends) read NULL there and fall back
    // to the per-file defaults in the projection below
    val dataSchema =
      if (!withRowId) dataSchema0
      else StructType(dataSchema0.fields ++
        Seq(graft.io.RowTracking.PhysicalCol,
          graft.io.RowTracking.PhysicalVersionCol)
          .filterNot(dataSchema0.fieldNames.contains)
          .map(n => org.apache.spark.sql.types.StructField(
            n, org.apache.spark.sql.types.LongType, nullable = true)))
    // commit-log-backed index: zero FS listing, driver-side partition
    // pruning, footer-stats data skipping. Row-id reads additionally
    // thread each file's baseRowId through the index as a per-file
    // constant column — no global path→base map in the plan.
    val index = new GraftFileIndex(spark, path, snap,
      withBaseRowIdCol = withRowId)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat,
      options = readOptions + ("basePath" -> path))(spark)
    val lr = LogicalRelation(relation)
    val byName = lr.output.map(a => a.name -> a).toMap
    // pin declared column order + partition column types. The relation
    // drops a declared data column only when a case-insensitive session
    // merges it into a partition column whose name differs from it in
    // case alone — a schema the writer refuses (GraftWriter's
    // case-insensitive uniqueness check); a table written before that
    // check reads only under spark.sql.caseSensitive=true
    def physOf(f: org.apache.spark.sql.types.StructField): String =
      if (partCols(f.name)) f.name
      else graft.io.ColumnMapping.physicalName(mapping, f.name)
    val dropped = snap.schema.filterNot(f => byName.contains(physOf(f)))
    if (dropped.nonEmpty)
      throw new IllegalStateException(s"graft table $path: column(s) " +
        s"${dropped.map(_.name).mkString(", ")} differ from a partition column " +
        "in case alone, so a case-insensitive read cannot tell them apart; " +
        "read it with spark.sql.caseSensitive=true")
    val projections: Seq[NamedExpression] = snap.schema.map { f =>
      val attr = byName(physOf(f))
      if (attr.dataType == f.dataType && attr.name == f.name) attr
      else if (attr.dataType == f.dataType) Alias(attr, f.name)()
      else Alias(Cast(attr, f.dataType), f.name)()
    }
    // deletion vectors: anti-filter deleted physical rows BELOW the
    // pinning Project, on the parquet metadata columns (resolved by the
    // analyzer's AddMetadataColumns). Sits beside — not instead of —
    // data-filter pushdown: predicates above the Project still reach the
    // scan; this filter is post-scan by construction (row_index cannot
    // prune files).
    val filePath = UnresolvedAttribute(Seq("_metadata", "file_path"))
    val rowIndex = UnresolvedAttribute(Seq("_metadata", "row_index"))
    val filtered: LogicalPlan =
      graft.io.DeletionVectors.indexFor(
        path, spark.sessionState.newHadoopConf(), snap0.files) match {
        case Some(idx) =>
          Filter(Not(graft.io.DvDeleted(idx, filePath, rowIndex)), lr)
        case None => lr
      }
    val allProjections0 =
      if (withRowMeta)
        projections ++ Seq(
          Alias(filePath, RowMetaFileCol)(),
          Alias(rowIndex, RowMetaIndexCol)())
      else projections
    val allProjections =
      if (!withRowId) allProjections0
      else {
        // default id = file's baseRowId (a per-file constant from the
        // file index, NULL for pre-feature files) + physical row index;
        // default version = the file's commit version, same mechanism.
        // Materialized columns (rewritten files) win via Coalesce.
        def tracked(physical: String, fresh: Expression): Expression =
          byName.get(physical) match {
            case Some(mat) =>
              org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(mat, fresh))
            case None => fresh
          }
        val rid = tracked(graft.io.RowTracking.PhysicalCol,
          org.apache.spark.sql.catalyst.expressions.Add(
            byName(graft.io.RowTracking.BaseCol), rowIndex))
        val rver = tracked(graft.io.RowTracking.PhysicalVersionCol,
          byName(graft.io.RowTracking.BaseVersionCol))
        allProjections0 ++ Seq(
          Alias(rid, graft.io.RowTracking.Col)(),
          Alias(rver, graft.io.RowTracking.VersionCol)())
      }
    Project(allProjections, filtered)
  }

  /** Column names of the `withRowMeta = true` projection. */
  val RowMetaFileCol = "__graft_file"
  val RowMetaIndexCol = "__graft_row_index"

  /** Everything-nullable view of a type (StructType.asNullable is
    * package-private).
    */
  private def nullableDeep(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case s: StructType =>
        StructType(s.map(f => f.copy(dataType = nullableDeep(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = nullableDeep(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = nullableDeep(m.keyType),
          valueType = nullableDeep(m.valueType), valueContainsNull = true)
      case other => other
    }

  /** The table's bucket layout as a Spark BucketSpec — only when the
    * snapshot is bucketed ([[graft.io.Bucketing.spec]], which answers a
    * snapshot not partitioned by the bucket column without a commit
    * search) and every live file carries a parseable `_NNNNN` bucket
    * suffix matching its bucket (older tables written before suffixing
    * fall back to a plain scan).
    */
  private[graft] def bucketSpecOf(
      table: graft.io.GraftTable, snap: graft.log.Snapshot): Option[BucketSpec] =
    for {
      (key, n) <- graft.io.Bucketing.spec(table, snap)
      if snap.files.forall(f =>
        bucketIdFromName(f.path) ==
          f.partitionValues.get(graft.io.Bucketing.BucketCol).map(_.toInt))
    } yield BucketSpec(n, Seq(key), Nil)

  /** Mirror of Spark's `BucketingUtils.getBucketId` name parse. */
  private[graft] def bucketIdFromName(relPath: String): Option[Int] = {
    val name = relPath.split('/').last
    val m = """.*_(\d+)(?:\..*)?$""".r
    name match {
      case m(id) => Some(id.toInt)
      case _ => None
    }
  }
}

/** Resolution rule (installed by [[graft.GraftExtensions]]) replacing the
  * V1 [[GraftRelation]] with the native parquet plan, rebound to the
  * original output attribute ids. Without the extension the V1 path
  * still works — correct, just row-based.
  */
class GraftRelationSubstitution(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case LogicalRelation(g: GraftRelation, out, _, _, _) =>
      val native = GraftNativeRelation.plan(
        spark, g.path, g.versionAsOf, withRowId = g.withRowIds)
      val byName = native.output.map(a => a.name -> a).toMap
      Project(
        out.map(o => Alias(byName(o.name), o.name)(exprId = o.exprId)),
        native)
  }
}
