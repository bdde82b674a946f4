package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{
  Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement,
  InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias,
  UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.GraftInternal
import org.apache.spark.sql.types.LongType

import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
import graft.merge.{Delete => DeleteClause, Dml, InsertAll, InsertValues,
  MatchedClause, MergeClausesExecutor, NotMatchedClause, UpdateAll, UpdateSet}

/** SQL DML statements over graft tables — `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` / `INSERT INTO` routed to the programmatic [[graft.merge.Dml]]
  * and [[graft.merge.MergeClausesExecutor]] engines (file-granular
  * copy-on-write; a point DELETE on a 100 TB table rewrites only the
  * files that hold a matching row).
  *
  * Tables are addressed Delta-style by path: `graft.`/path/to/table``.
  * Spark's own parser already produces `DeleteFromTable` / `UpdateTable` /
  * `MergeIntoTable` logical plans for these statements; the injected
  * resolution rule ([[GraftSqlDml]], installed by
  * [[graft.GraftExtensions]]) recognizes graft targets while they are
  * still unresolved and swaps in an executable command — no custom
  * parser, the exact interception point `SparkSessionExtensions` exists
  * for. Capability mirrored from the reference's merge/overwrite surface
  * (dagster_delta/handler.py:70-225) exposed the way Delta SQL users
  * drive it.
  */
object GraftSqlTarget {

  /** Extracts (table path, optional SQL alias) from a DML target over
    * the parse-time placeholder [[UnresolvedGraftRelation]] (installed
    * by [[GraftSqlParser]] before Spark's `ResolveSQLOnFile` can claim
    * the two-part identifier).
    */
  def unapply(plan: LogicalPlan): Option[(String, Option[String])] = plan match {
    case SubqueryAlias(id, child) =>
      unapply(child).map { case (p, _) => (p, Some(id.name)) }
    case UnresolvedGraftRelation(path) => Some((path, None))
    // catalog-resolved target (ResolveRelations wraps it in a
    // SubqueryAlias carrying the identifier, so the alias is usually
    // supplied by the case above)
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[graft.catalog.GraftCatalogTable] =>
      Some((r.table.asInstanceOf[graft.catalog.GraftCatalogTable].path,
        r.identifier.map(_.name)))
    case _ => None
  }
}

/** `DELETE FROM graft.`path`` [WHERE cond]` → [[Dml.delete]]. */
final case class GraftDeleteCommand(path: String, cond: Column)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("num_affected_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(Dml.delete(spark, path, cond).numAffectedFiles))
}

/** `UPDATE graft.`path` SET ... [WHERE cond]` → [[Dml.update]]. */
final case class GraftUpdateCommand(
    path: String,
    set: Seq[(String, Column)],
    cond: Column) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("num_affected_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(Dml.update(spark, path, cond, set.toMap).numAffectedFiles))
}

/** `MERGE INTO graft.`path`` → [[MergeClausesExecutor.merge]].
  *
  * The source plan is kept unresolved (a plain field, not a child, so
  * the analyzer leaves it alone) and analyzed at execution time — MERGE
  * sources are commonly temp views or subqueries that resolve fine in a
  * fresh pass.
  */
final case class GraftMergeCommand(
    path: String,
    predicate: String,
    source: LogicalPlan,
    sourceAlias: String,
    targetAlias: String,
    matched: Seq[MatchedClause],
    notMatched: Seq[NotMatchedClause],
    notMatchedBySource: Seq[MatchedClause],
    /** `MERGE WITH SCHEMA EVOLUTION INTO ...` */
    schemaEvolution: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_source_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftInternal.dfFromPlan(spark, source)
    val st = MergeClausesExecutor.merge(spark, src, path, predicate,
      matched, notMatched, notMatchedBySource,
      sourceAlias = sourceAlias, targetAlias = targetAlias,
      schemaEvolution = schemaEvolution)
    Seq(Row(st.version, st.numSourceRows))
  }
}

/** `INSERT INTO / INSERT OVERWRITE graft.`path`` → [[GraftWriter.write]]
  * (append or overwrite; SQL inserts are positional unless BY NAME).
  * Static `PARTITION (k=v)` values become literal columns, mirroring
  * Spark's own semantics.
  *
  * Overwrite scope follows Spark/Hive partition-overwrite semantics on a
  * partitioned table: static `PARTITION (k=v)` values confine the
  * overwrite to the matching partitions (replaceWhere), and with
  * `spark.sql.sources.partitionOverwriteMode=dynamic` only the
  * partitions the incoming rows land in are replaced. An unpartitioned
  * table (or static mode with no PARTITION clause) is a full overwrite.
  */
final case class GraftInsertCommand(
    path: String,
    query: LogicalPlan,
    staticParts: Seq[(String, String)],
    userCols: Seq[String],
    overwrite: Boolean,
    byName: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(GraftTable.exists(spark, path),
      s"INSERT target is not a graft table: $path")
    val snap = GraftTable(spark, path).snapshot()
    val schema = snap.schema
    val df0 = GraftInternal.dfFromPlan(spark, query)
    val staticNames = staticParts.map(_._1)
    // columns the query must supply, in table order
    val fill: Seq[String] =
      if (userCols.nonEmpty) userCols
      else schema.map(_.name).filterNot(n =>
        staticNames.exists(_.equalsIgnoreCase(n)))
    val positioned =
      if (byName) df0
      else {
        require(df0.columns.length == fill.length,
          s"INSERT supplies ${df0.columns.length} columns; " +
            s"expected ${fill.length} (${fill.mkString(", ")})")
        df0.toDF(fill: _*)
      }
    val full = staticParts.foldLeft(positioned) { case (d, (k, v)) =>
      d.withColumn(k, lit(v).cast(schema(k).dataType))
    }
    // table column order + insert-coercion casts
    val aligned = full.select(schema.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val partCols = snap.partitionColumns
    staticNames.foreach { k =>
      require(partCols.exists(_.equalsIgnoreCase(k)),
        s"PARTITION ($k=...) names a non-partition column " +
          s"(table is partitioned by ${partCols.mkString(", ")})")
    }
    val dynamicConf = spark.conf
      .get("spark.sql.sources.partitionOverwriteMode", "STATIC")
      .equalsIgnoreCase("dynamic")
    // a FULLY static PARTITION spec overwrites its partition regardless
    // of the conf (Spark: dynamic mode applies only when the spec has
    // dynamic columns) — so an empty source still clears the partition
    val fullyStatic = partCols.nonEmpty && partCols.forall(pc =>
      staticNames.exists(_.equalsIgnoreCase(pc)))
    def staticPred = staticParts.map { case (k, v) =>
      col(k) === lit(v).cast(schema(k).dataType)
    }.reduce(_ && _)
    val (mode, replaceWhere, dynamic) =
      if (!overwrite) (WriteMode.Append, None, false)
      else if (partCols.isEmpty) (WriteMode.Overwrite, None, false)
      else if (fullyStatic) (WriteMode.Overwrite, Some(staticPred), false)
      else if (dynamicConf) (WriteMode.Overwrite, None, true)
      else if (staticParts.nonEmpty) (WriteMode.Overwrite, Some(staticPred), false)
      else (WriteMode.Overwrite, None, false)
    val v = GraftWriter.write(spark, aligned, path,
      WriteOptions(mode = mode, replaceWhere = replaceWhere,
        dynamicPartitionOverwrite = dynamic))
    Seq(Row(v))
  }
}

/** `ALTER TABLE graft.`path`` — ADD COLUMNS / SET TBLPROPERTIES /
  * UNSET TBLPROPERTIES routed to [[graft.io.Alter]] (one metadata-only
  * CAS commit; same engine as the catalog route).
  */
final case class GraftAlterCommand(
    path: String,
    addCols: Seq[(String, org.apache.spark.sql.types.DataType, Option[String])],
    props: Map[String, String],
    dropCols: Seq[String] = Nil,
    dropIfExists: Boolean = false,
    renameCols: Seq[(String, String)] = Nil,
    alterColTypes: Seq[(String, org.apache.spark.sql.types.DataType)] = Nil)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val existing = graft.io.GraftTable(spark, path).snapshot()
      .schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val drops =
      if (!dropIfExists) dropCols
      else dropCols.filter(c => existing(c.toLowerCase(java.util.Locale.ROOT)))
    if (addCols.isEmpty && props.isEmpty && drops.isEmpty &&
        renameCols.isEmpty && alterColTypes.isEmpty)
      Seq(Row(graft.io.GraftTable(spark, path).version())) // IF EXISTS no-op
    else Seq(Row(graft.io.Alter.alter(
      spark, path, addCols, props, drops, renameCols, alterColTypes)))
  }
}

/** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` → the graft CHECK
  * constraint machinery (existing data validated, then recorded as a
  * carried-forward `graft.constraint.<name>` property enforced by every
  * write).
  */
final case class GraftAddConstraintCommand(
    path: String, name: String, sqlExpr: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftWriter.addCheckConstraint(spark, path, name, sqlExpr)))
}

/** `ALTER TABLE ... DROP CONSTRAINT [IF EXISTS] name`. */
final case class GraftDropConstraintCommand(
    path: String, name: String, ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val exists = GraftWriter.checkConstraints(spark, path).contains(name)
    if (!exists && ifExists)
      Seq(Row(GraftTable(spark, path).version()))
    else Seq(Row(GraftWriter.dropCheckConstraint(spark, path, name)))
  }
}

/** `SHOW TBLPROPERTIES graft.`path`` [(key)] — the carried-forward
  * `graft.*` table properties from the commit log. Reuses the parsed
  * plan's output attributes so downstream operators keep resolving.
  */
final case class GraftShowPropertiesCommand(
    path: String,
    key: Option[String],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val props = GraftTable(spark, path).log.tableProperties()
    key match {
      case Some(k) =>
        val v = props.getOrElse(k,
          s"Table graft.`$path` does not have property: $k")
        if (output.length == 1) Seq(Row(v)) else Seq(Row(k, v))
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** `DESCRIBE [EXTENDED] graft.`path``: columns, partitioning, and (with
  * EXTENDED) location/provider detail from the commit-log snapshot.
  */
final case class GraftDescribeTableCommand(
    path: String,
    isExtended: Boolean,
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val snap = GraftTable(spark, path).snapshot()
    val cols = snap.schema.map(f =>
      Row(f.name, f.dataType.simpleString, f.getComment().orNull))
    val parts =
      if (snap.partitionColumns.isEmpty) Nil
      else Row("# Partition Information", "", "") +:
        snap.partitionColumns.map(c =>
          Row(c, snap.schema(c).dataType.simpleString, null))
    val detail =
      if (!isExtended) Nil
      else Seq(
        Row("", "", ""),
        Row("# Detailed Table Information", "", ""),
        Row("Location", path, ""),
        Row("Provider", "graft", ""),
        Row("Table Version", snap.version.toString, ""))
    cols ++ parts ++ detail
  }
}

/** `SHOW CREATE TABLE graft.`path`` — executable DDL reconstructed from
  * the commit-log snapshot: columns (with comments), partitioning, and
  * the carried-forward table properties. `graft.colmap.*` entries are
  * omitted — they record the PHYSICAL names of renamed columns in THIS
  * table's existing files; a fresh table created from the DDL writes
  * its files under the logical names and must not inherit them.
  */
final case class GraftShowCreateTableCommand(
    path: String,
    override val output: Seq[Attribute],
    /** Rendered table name: `graft.`path`` for path targets, the full
      * `cat.ns.tbl` for catalog targets — so the emitted DDL executes
      * against the same route it was read from.
      */
    displayName: Option[String] = None) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val table = GraftTable(spark, path)
    val snap = table.snapshot()
    val props = table.log.tableProperties()
      .filterNot(_._1.startsWith(graft.io.ColumnMapping.Prefix))
      .filterNot(_._1.startsWith(graft.io.ColumnMapping.DropPrefix))
      // writer-transaction markers are operational state, not schema —
      // a re-created table must not inherit another app's replay guard;
      // likewise the row-id high-water mark (graft.rowTracking itself,
      // the declaration, stays visible and round-trips)
      .filterNot(_._1.startsWith(graft.log.CommitLog.TxnPrefix))
      .filterNot(_._1 == graft.log.CommitLog.RowIdHwmKey)
    def q(s: String) = s"`${s.replace("`", "``")}`"
    val name = displayName.getOrElse(s"graft.${q(path)}")
    val cols = snap.schema.map { f =>
      val comment = f.getComment()
        .map(c => s" COMMENT '${c.replace("'", "''")}'").getOrElse("")
      s"  ${q(f.name)} ${f.dataType.sql}$comment"
    }.mkString(",\n")
    val parts =
      if (snap.partitionColumns.isEmpty) ""
      else snap.partitionColumns.map(q).mkString("\nPARTITIONED BY (", ", ", ")")
    // the declared clustering layout renders as its DDL clause, not as a
    // raw property — the emitted CREATE TABLE round-trips through the
    // CLUSTER BY parse path and redeclares graft.clusterBy itself
    val clusterKeys = props.get(graft.io.GraftWriter.ClusterByKey).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val cluster =
      if (clusterKeys.isEmpty) ""
      else clusterKeys.map(q).mkString("\nCLUSTER BY (", ", ", ")")
    val shownProps = props - graft.io.GraftWriter.ClusterByKey
    val tblProps =
      if (shownProps.isEmpty) ""
      else shownProps.toSeq.sortBy(_._1)
        .map { case (k, v) => s"'$k' = '${v.replace("'", "''")}'" }
        .mkString("\nTBLPROPERTIES (", ", ", ")")
    Seq(Row(s"CREATE TABLE $name (\n$cols)\nUSING graft$parts$cluster$tblProps\n"))
  }
}

/** `CREATE TABLE graft.`path` (cols) [PARTITIONED BY ...]
  * [TBLPROPERTIES ...]` — a v0 schema-only commit at the path (no data
  * files), the target of SHOW CREATE TABLE round-trips and the
  * path-table analog of the catalog route's CREATE TABLE.
  */
final case class GraftCreateTableCommand(
    path: String,
    tableSchema: org.apache.spark.sql.types.StructType,
    partitionCols: Seq[String],
    props: Map[String, String],
    ifNotExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    if (GraftTable.exists(spark, path)) {
      if (ifNotExists) return Seq(Row(GraftTable(spark, path).version()))
      throw new IllegalStateException(s"graft table already exists at $path")
    }
    props.keys.foreach { k =>
      require(k.startsWith(graft.log.CommitLog.ReservedPrefix),
        s"only ${graft.log.CommitLog.ReservedPrefix}* table properties " +
          s"persist across commits; got '$k'")
    }
    GraftWriter.validateClusterBy(tableSchema, partitionCols, props)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), tableSchema)
    Seq(Row(GraftWriter.write(spark, empty, path,
      graft.io.WriteOptions(
        mode = graft.io.WriteMode.ErrorIfExists,
        partitionBy = partitionCols,
        metadata = props))))
  }
}

/** `CREATE TABLE graft.`path`` [PARTITIONED BY ...] [TBLPROPERTIES ...]
  * AS SELECT ...` — the path-route CTAS: create and populate in one v0
  * commit (catalog names go through DSv2 CTAS in GraftCatalogRule).
  */
final case class GraftCreateTableAsSelectCommand(
    path: String,
    query: LogicalPlan,
    partitionCols: Seq[String],
    props: Map[String, String],
    ifNotExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    if (GraftTable.exists(spark, path)) {
      if (ifNotExists) return Seq(Row(GraftTable(spark, path).version()))
      throw new IllegalStateException(s"graft table already exists at $path")
    }
    props.keys.foreach { k =>
      require(k.startsWith(graft.log.CommitLog.ReservedPrefix),
        s"only ${graft.log.CommitLog.ReservedPrefix}* table properties " +
          s"persist across commits; got '$k'")
    }
    GraftWriter.validateClusterBy(
      org.apache.spark.sql.types.StructType(query.output.map(a =>
        org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable))),
      partitionCols, props)
    Seq(Row(GraftWriter.write(spark,
      GraftInternal.dfFromPlan(spark, query), path,
      graft.io.WriteOptions(
        mode = graft.io.WriteMode.ErrorIfExists,
        partitionBy = partitionCols,
        metadata = props))))
  }
}

/** `TRUNCATE TABLE graft.`path`` (and catalog names): one metadata-only
  * commit removing every live file — no data is read or rewritten, so
  * truncating a 100 TB table is O(#files) of log work; history keeps
  * the old versions time-travelable until vacuum.
  */
final case class GraftTruncateCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftWriter.truncate(spark, path)))
}

/** `SHOW COLUMNS FROM graft.`path``. */
final case class GraftShowColumnsCommand(
    path: String,
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] =
    GraftTable(spark, path).snapshot().schema.map(f => Row(f.name))
}

/** `SHOW PARTITIONS graft.`path`` — the live partitions, straight from
  * the commit-log file metadata (no directory listing).
  */
final case class GraftShowPartitionsCommand(
    path: String,
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val snap = GraftTable(spark, path).snapshot()
    require(snap.partitionColumns.nonEmpty,
      s"table graft.`$path` is not partitioned")
    snap.files
      .map(f => snap.partitionColumns
        .map(c => s"$c=${f.partitionValues.getOrElse(c, "")}").mkString("/"))
      .distinct.sorted
      .map(Row(_))
  }
}

/** Resolution rule converting Spark-parsed DML plans over graft path
  * targets into the runnable commands above. Non-graft targets pass
  * through untouched.
  */
class GraftSqlDml(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftInternal.column

  /** DELETE/UPDATE conditions reference the lone target table, so an
    * alias qualifier (`x.col` after `FROM graft.`p` AS x`) is stripped —
    * the Dml engine filters the bare table DataFrame. Catalog targets
    * may already be resolved (attribute refs carry foreign expr ids);
    * those are rebuilt name-based so they re-resolve against the
    * writer's own scan.
    */
  private def noAlias(e: Expression, aliases: Seq[String]): Expression =
    e.transform {
      case a: UnresolvedAttribute
          if a.nameParts.length > 1 &&
            aliases.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute(a.nameParts.tail)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        UnresolvedAttribute(Seq(a.name))
    }

  /** MERGE expressions keep their alias qualification (both sides join
    * under the SQL aliases); resolved refs are re-qualified by their
    * innermost qualifier part.
    */
  private def requalify(e: Expression): Expression =
    e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        UnresolvedAttribute(a.qualifier.takeRight(1) :+ a.name)
    }

  private def keyName(key: Expression, aliases: Seq[String]): String =
    key match {
      case u: UnresolvedAttribute =>
        val parts =
          if (u.nameParts.length > 1 &&
            aliases.exists(_.equalsIgnoreCase(u.nameParts.head)))
            u.nameParts.tail
          else u.nameParts
        parts.mkString(".")
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.name
      case other => other.sql
    }

  private def assignMap(
      assigns: Seq[Assignment], targetAliases: Seq[String]): Map[String, Column] =
    assigns.map(a =>
      keyName(a.key, targetAliases) -> column(requalify(a.value))).toMap

  /** Delta's SQL change-feed entry points:
    * `table_changes('cat.ns.tbl' | 'graft.`/path`', start [, end])` and
    * `table_changes_by_path('/path', start [, end])` — start/end are a
    * version number or a timestamp string (same at-or-after/at-or-before
    * resolution as the reader options). Rewritten to the batch CDF
    * relation before Spark's TVF resolution rejects the name.
    */
  private def tableChangesPlan(
      args: Seq[Expression], byPath: Boolean): LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      "table_changes(table, start[, end]) takes 2 or 3 arguments")
    def litOf(e: Expression): Any = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
        v match {
          case null => throw new IllegalArgumentException(
            "table_changes arguments must not be NULL")
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case other => other
        }
      case other => throw new IllegalArgumentException(
        s"table_changes arguments must be literals, got $other")
    }
    val tableStr = litOf(args.head).toString
    // `graft.`-with-backtick is the path-literal form; every OTHER name
    // (including one under a catalog actually NAMED 'graft') goes
    // through the shared resolver — graft DSv2 catalogs, then
    // session-catalog `USING graft` tables
    val path: String =
      if (byPath) tableStr
      else if (tableStr.startsWith("graft.`"))
        tableStr.stripPrefix("graft.").stripPrefix("`").stripSuffix("`")
      else GraftMaintenance.resolvePath(spark, Right(
        spark.sessionState.sqlParser.parseMultipartIdentifier(tableStr)))
    def boundOpt(prefix: String, v: Any): (String, String) = v match {
      case s: String => (s"${prefix}Timestamp", s)
      case n         => (s"${prefix}Version", n.toString)
    }
    val opts = Map(boundOpt("starting", litOf(args(1)))) ++
      args.lift(2).map(e => boundOpt("ending", litOf(e)))
    val from = graft.sources.GraftReadOptions.start(spark, path, opts).get
    val to = graft.sources.GraftReadOptions.end(spark, path, opts)
    org.apache.spark.sql.execution.datasources.LogicalRelation(
      graft.sources.GraftChangesRelation(spark.sqlContext, path, from, to))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      case UnresolvedTableChanges(args, byPath) =>
        tableChangesPlan(args, byPath)

      case DeleteFromTable(GraftSqlTarget(path, alias), cond) =>
        GraftDeleteCommand(path,
          Option(cond).map(e => column(noAlias(e, alias.toSeq)))
            .getOrElse(lit(true)))

      case UpdateTable(GraftSqlTarget(path, alias), assigns, cond) =>
        val al = alias.toSeq
        val set = assigns.map(a =>
          keyName(a.key, al) -> column(noAlias(a.value, al)))
        GraftUpdateCommand(path, set,
          cond.map(e => column(noAlias(e, al))).getOrElse(lit(true)))

      case m: MergeIntoTable =>
        m.targetTable match {
          case GraftSqlTarget(path, alias) =>
            val ta = alias.getOrElse("t")
            val taSeq = alias.toSeq
            // keep the source's own alias node so s.col references resolve
            val sa = m.sourceTable match {
              case SubqueryAlias(id, _) => id.name
              case _                    => "s"
            }
            def cond(c: Option[Expression]): Option[Column] =
              c.map(e => column(requalify(e)))
            def mc(a: MergeAction): MatchedClause = a match {
              case UpdateStarAction(c) => UpdateAll(cond(c))
              case UpdateAction(c, assigns, _) =>
                UpdateSet(assignMap(assigns, taSeq), cond(c))
              case DeleteAction(c) => DeleteClause(cond(c))
              case other => throw new IllegalArgumentException(
                s"unsupported MERGE matched action: $other")
            }
            def nmc(a: MergeAction): NotMatchedClause = a match {
              case InsertStarAction(c) => InsertAll(cond(c))
              case InsertAction(c, assigns) =>
                InsertValues(assignMap(assigns, taSeq), cond(c))
              case other => throw new IllegalArgumentException(
                s"unsupported MERGE not-matched action: $other")
            }
            GraftMergeCommand(path, requalify(m.mergeCondition).sql, m.sourceTable, sa, ta,
              m.matchedActions.map(mc), m.notMatchedActions.map(nmc),
              m.notMatchedBySourceActions.map(mc),
              schemaEvolution = m.withSchemaEvolution)
          case _ => m
        }

      case InsertIntoStatement(
          GraftSqlTarget(path, _), partSpec, userCols, query, overwrite, _, byName) =>
        val static = partSpec.toSeq.collect { case (k, Some(v)) => (k, v) }
        GraftInsertCommand(path, query, static, userCols, overwrite, byName)

      // SQL time travel on a path table: `... FROM graft.`p` VERSION AS
      // OF 3` / `TIMESTAMP AS OF '...'` (timestamps hit the latest
      // commit at or before the instant, like Delta)
      case org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
          u: UnresolvedGraftRelation, tsOpt, verOpt) =>
        val v: Long = verOpt match {
          case Some(ver) =>
            try ver.toLong
            catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"graft time travel takes a numeric version, got '$ver'")
            }
          case None =>
            val micros = org.apache.spark.sql.catalyst.expressions.Cast(
              tsOpt.getOrElse(throw new IllegalArgumentException(
                "time travel needs VERSION AS OF or TIMESTAMP AS OF")),
              org.apache.spark.sql.types.TimestampType,
              Some(spark.sessionState.conf.sessionLocalTimeZone))
              .eval() match {
              case l: java.lang.Long => l.longValue()
              case other => throw new IllegalArgumentException(
                s"cannot evaluate TIMESTAMP AS OF expression: $other")
            }
            graft.io.GraftTable(spark, u.path).versionAtTimestamp(micros / 1000L)
        }
        graft.sources.GraftNativeRelation.plan(spark, u.path, Some(v))

      // ALTER TABLE on path targets (the Delta-style `ALTER TABLE
      // graft.`/path`` surface); UnresolvedTable keeps the raw two-part
      // identifier, so these are claimed before the session catalog
      // rejects the 'graft' namespace
      case a: org.apache.spark.sql.catalyst.plans.logical.AddColumns =>
        graftTablePath(a.table) match {
          case Some(p) =>
            val cols = a.columnsToAdd.map { c =>
              require(c.path.isEmpty,
                "graft ALTER TABLE supports top-level columns only")
              require(c.nullable,
                "added columns must be nullable (existing rows have no value)")
              require(c.position.isEmpty,
                "graft ALTER TABLE appends columns; FIRST/AFTER is not supported")
              require(c.default.isEmpty,
                "graft ALTER TABLE does not support DEFAULT values")
              (c.colName, c.dataType, c.comment)
            }
            GraftAlterCommand(p, cols, Map.empty)
          case None => a
        }
      case d: org.apache.spark.sql.catalyst.plans.logical.DropColumns =>
        graftTablePath(d.table) match {
          case Some(p) =>
            val names = d.columnsToDrop.map { fn =>
              require(fn.name.length == 1,
                "graft ALTER TABLE drops top-level columns only")
              fn.name.head
            }
            GraftAlterCommand(p, Nil, Map.empty,
              dropCols = names, dropIfExists = d.ifExists)
          case None => d
        }
      case r: org.apache.spark.sql.catalyst.plans.logical.RenameColumn =>
        graftTablePath(r.table) match {
          case Some(p) =>
            require(r.column.name.length == 1,
              "graft ALTER TABLE renames top-level columns only")
            GraftAlterCommand(p, Nil, Map.empty,
              renameCols = Seq((r.column.name.head, r.newName)))
          case None => r
        }
      // ALTER COLUMN c TYPE <wider> (metadata-only safe widening) /
      // SET DEFAULT expr / DROP DEFAULT (the graft.default.* property)
      case ac: org.apache.spark.sql.catalyst.plans.logical.AlterColumns =>
        graftTablePath(ac.table) match {
          case Some(p) =>
            var widenings = Seq.empty[(String, org.apache.spark.sql.types.DataType)]
            var props = Map.empty[String, String]
            ac.specs.foreach { s =>
              require(s.column.name.length == 1,
                "graft ALTER COLUMN supports top-level columns only")
              val col = s.column.name.head
              require(s.newNullability.isEmpty && s.newComment.isEmpty &&
                  s.newPosition.isEmpty,
                "graft ALTER COLUMN supports TYPE widening and " +
                  "SET/DROP DEFAULT only")
              (s.newDataType, s.newDefaultExpression, s.dropDefault) match {
                case (Some(dt), None, false) => widenings :+= ((col, dt))
                case (None, Some(d), false) =>
                  props += graft.io.Generated.DefaultPrefix + col -> d.originalSQL
                case (None, None, true) =>
                  props += graft.io.Generated.DefaultPrefix + col -> ""
                case _ => throw new IllegalArgumentException(
                  "graft ALTER COLUMN supports TYPE widening and " +
                    "SET/DROP DEFAULT only (one change per column)")
              }
            }
            GraftAlterCommand(p, Nil, props, alterColTypes = widenings)
          case None => ac
        }
      // ALTER TABLE t CLUSTER BY (a,b) / CLUSTER BY NONE — the DDL face
      // of the graft.clusterBy property (plain OPTIMIZE then maintains
      // the declared layout incrementally). NONE drops the declaration;
      // key validation (existing non-partition columns) runs in Alter.
      case acb: org.apache.spark.sql.catalyst.plans.logical.AlterTableClusterBy =>
        graftTablePath(acb.table) match {
          case Some(p) =>
            val v = acb.clusterBySpec
              .map(_.columnNames.map(_.fieldNames.mkString(".")).mkString(","))
              .getOrElse("") // empty value = drop (commit-log contract)
            GraftAlterCommand(p, Nil,
              Map(graft.io.GraftWriter.ClusterByKey -> v))
          case None => acb
        }
      case s: org.apache.spark.sql.catalyst.plans.logical.SetTableProperties =>
        graftTablePath(s.table) match {
          case Some(p) =>
            s.properties.foreach { case (k, v) =>
              require(v.nonEmpty, s"empty value would drop property '$k'; use UNSET")
            }
            GraftAlterCommand(p, Nil, s.properties)
          case None => s
        }
      case u: org.apache.spark.sql.catalyst.plans.logical.UnsetTableProperties =>
        graftTablePath(u.table) match {
          case Some(p) => GraftAlterCommand(p, Nil, u.propertyKeys.map(_ -> "").toMap)
          case None    => u
        }
      // ADD CONSTRAINT parses to AddCheckConstraint whose CHILD is a
      // table READ; claim it before the read child is substituted with
      // the native LogicalRelation (Spark's ResolveSessionCatalog
      // assumes any LogicalRelation under it came from a catalog and
      // dereferences catalogTable unconditionally)
      case a: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint =>
        constraintTargetPath(a.child) match {
          case Some(p) =>
            GraftAddConstraintCommand(p,
              a.checkConstraint.userProvidedName, a.checkConstraint.condition)
          case None => a
        }
      case a: org.apache.spark.sql.catalyst.plans.logical.AddConstraint =>
        graftTablePath(a.table) match {
          case Some(p) => a.tableConstraint match {
            case c: org.apache.spark.sql.catalyst.expressions.CheckConstraint =>
              GraftAddConstraintCommand(p, c.userProvidedName, c.condition)
            case other => throw new UnsupportedOperationException(
              s"graft tables support CHECK constraints only, got ${other.getClass.getSimpleName}")
          }
          case None => a
        }
      case d: org.apache.spark.sql.catalyst.plans.logical.DropConstraint =>
        graftTablePath(d.table) match {
          case Some(p) => GraftDropConstraintCommand(p, d.name, d.ifExists)
          case None    => d
        }
      case s: org.apache.spark.sql.catalyst.plans.logical.ShowTableProperties =>
        graftTablePath(s.table) match {
          case Some(p) => GraftShowPropertiesCommand(p, s.propertyKey, s.output)
          case None    => s
        }
      case d: org.apache.spark.sql.catalyst.plans.logical.DescribeRelation =>
        graftTablePath(d.relation) match {
          case Some(p) => GraftDescribeTableCommand(p, d.isExtended, d.output)
          case None    => d
        }
      case s: org.apache.spark.sql.catalyst.plans.logical.ShowColumns =>
        graftTablePath(s.child) match {
          case Some(p) => GraftShowColumnsCommand(p, s.output)
          case None    => s
        }
      case s: org.apache.spark.sql.catalyst.plans.logical.ShowPartitions
          if s.pattern.isEmpty =>
        graftTablePath(s.table) match {
          case Some(p) => GraftShowPartitionsCommand(p, s.output)
          case None    => s
        }
      case tr: org.apache.spark.sql.catalyst.plans.logical.TruncateTable =>
        graftTablePath(tr.table) match {
          case Some(p) => GraftTruncateCommand(p)
          case None    => tr
        }
      case s: org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable =>
        graftTablePath(s.child) match {
          case Some(p) =>
            val display = s.child match {
              case r: org.apache.spark.sql.catalyst.analysis.ResolvedTable =>
                Some((r.catalog.name +: r.identifier.namespace :+ r.identifier.name)
                  .map(part => s"`${part.replace("`", "``")}`").mkString("."))
              case _ => None
            }
            GraftShowCreateTableCommand(p, s.output, display)
          case None => s
        }
      // ResolveSessionCatalog runs BEFORE extended resolution rules and
      // converts `CREATE TABLE graft.`/p`` (...) USING graft` into the
      // V1 logical ("graft" is not a registered catalog, so it reads as
      // a session-catalog database) — intercept the converted form;
      // without this the post-hoc V1 command calls
      // GraftSource.createRelation with no path option and fails
      case c: org.apache.spark.sql.execution.datasources.CreateTable
          if c.tableDesc.identifier.database.exists(_.equalsIgnoreCase("graft")) &&
            // only claim USING graft — `CREATE TABLE graft.`/p`` USING
            // parquet` must NOT be hijacked into a graft table
            c.tableDesc.provider.exists(_.equalsIgnoreCase("graft")) &&
            c.query.forall(_.resolved) =>
        val v1Props = translateClusterProp(c.tableDesc.properties)
        c.query match {
          case Some(q) =>
            GraftCreateTableAsSelectCommand(
              c.tableDesc.identifier.table, q,
              c.tableDesc.partitionColumnNames,
              v1Props,
              c.mode == org.apache.spark.sql.SaveMode.Ignore)
          case None =>
            GraftCreateTableCommand(
              c.tableDesc.identifier.table,
              c.tableDesc.schema,
              c.tableDesc.partitionColumnNames,
              v1Props,
              c.mode == org.apache.spark.sql.SaveMode.Ignore)
        }
      case c: org.apache.spark.sql.catalyst.plans.logical.CreateTable =>
        graftTablePath(c.name) match {
          case Some(p) =>
            // CLUSTER BY (a,b) arrives as a ClusterByTransform among the
            // partitioning transforms — peel it into the graft.clusterBy
            // property (the declared-layout contract OPTIMIZE maintains)
            val (partCols, clusterProp) =
              graft.io.GraftWriter.peelClusterTransform(
                c.partitioning, "graft path tables")
            val props = (c.tableSpec match {
              case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
                u.properties
              case t: org.apache.spark.sql.catalyst.plans.logical.TableSpec =>
                t.properties
              case _ => Map.empty[String, String]
            }) ++ clusterProp
            GraftCreateTableCommand(
              p, c.tableSchema, partCols, props, c.ignoreIfExists)
          case None => c
        }

      // plain read context (`SELECT ... FROM graft.`path``): substitute
      // the native columnar plan (codegen parquet scan over the
      // commit-log file index)
      case u: UnresolvedGraftRelation =>
        graft.sources.GraftNativeRelation.plan(spark, u.path, None)
    }

  /** Graft path inside an ADD CONSTRAINT read child: the parse-time
    * placeholder (path targets) or the catalog-resolved v2 relation.
    */
  private def constraintTargetPath(plan: LogicalPlan): Option[String] =
    plan.collectFirst {
      case UnresolvedGraftRelation(p) => p
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[graft.catalog.GraftCatalogTable] =>
        r.table.asInstanceOf[graft.catalog.GraftCatalogTable].path
    }

  /** Path of an ALTER TABLE target: `graft.`/path`` (an UnresolvedTable
    * still carrying the raw two-part identifier) or a catalog-resolved
    * graft table (ALTER on `cat.ns.tbl` names).
    */
  /** ResolveSessionCatalog folds a `CLUSTER BY (a,b)` clause into the
    * CatalogTable's `clusteringColumns` property (ClusterBySpec JSON);
    * rewrite it as the carried `graft.clusterBy` declaration so the
    * clause survives the V1 conversion on the path CREATE route.
    */
  private def translateClusterProp(
      props: Map[String, String]): Map[String, String] = {
    val key = org.apache.spark.sql.catalyst.catalog.CatalogTable
      .PROP_CLUSTERING_COLUMNS
    props.get(key) match {
      case None => props
      case Some(v) =>
        val cols = org.apache.spark.sql.catalyst.catalog.ClusterBySpec
          .fromProperty(v).columnNames.map(_.fieldNames.mkString("."))
        (props - key) ++ (if (cols.isEmpty) Map.empty
                          else Map(graft.io.GraftWriter.ClusterByKey ->
                            cols.mkString(",")))
    }
  }

  private def graftTablePath(t: LogicalPlan): Option[String] = t match {
    case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
        if ut.multipartIdentifier.length == 2 &&
          ut.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some(ut.multipartIdentifier(1))
    case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
        if ut.multipartIdentifier.length == 2 &&
          ut.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some(ut.multipartIdentifier(1))
    case r: org.apache.spark.sql.catalyst.analysis.ResolvedTable
        if r.table.isInstanceOf[graft.catalog.GraftCatalogTable] =>
      Some(r.table.asInstanceOf[graft.catalog.GraftCatalogTable].path)
    case _ => None
  }
}
