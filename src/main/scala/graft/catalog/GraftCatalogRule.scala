package graft.catalog

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{
  AppendData, CreateTableAsSelect, LogicalPlan, OverwriteByExpression,
  OverwritePartitionsDynamic, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftInternal
import org.apache.spark.sql.types.LongType

import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
import graft.sources.{GraftNativeRelation, GraftRelation}

/** Executes a SQL write (`INSERT INTO` / `INSERT OVERWRITE` / CTAS)
  * against a graft catalog table through [[GraftWriter]] — the same
  * commit-log/CAS path as the programmatic API. The query plan is a
  * plain field (not a child), analyzed at run time.
  */
final case class GraftCatalogWriteCommand(
    path: String,
    query: LogicalPlan,
    mode: WriteMode,
    replaceWhere: Option[Column],
    partitionBy: Seq[String],
    dynamicOverwrite: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    org.apache.spark.sql.catalyst.expressions
      .AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val df0 = GraftInternal.dfFromPlan(spark, query)
    // align to the table schema by name when the table already exists
    // (the analyzer has already positionally matched + cast the query)
    val df =
      if (GraftTable.exists(spark, path)) {
        val schema = GraftTable(spark, path).snapshot().schema
        df0.select(schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      } else df0
    val v = GraftWriter.write(spark, df, path,
      WriteOptions(mode = mode, replaceWhere = replaceWhere,
        partitionBy = partitionBy,
        dynamicPartitionOverwrite = dynamicOverwrite))
    Seq(Row(v))
  }
}

/** Resolution rule completing the catalog integration:
  *
  *  - reads: `DataSourceV2Relation` over a [[GraftCatalogTable]] becomes
  *    the native columnar plan (commit-log FileIndex, bucket-spec
  *    partitioning — a co-bucketed catalog join plans with zero
  *    Exchange), rebound to the v2 output attribute ids;
  *  - writes: `AppendData` / `OverwriteByExpression` /
  *    `OverwritePartitionsDynamic` become [[GraftCatalogWriteCommand]]
  *    once Spark has aligned the query columns (`outputResolved`);
  *  - CTAS: `CREATE TABLE ... AS SELECT` becomes a create+write in one
  *    commit (graft tables have no staging catalog — the commit log IS
  *    the atomic publish).
  */
class GraftCatalogRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Rebind `native`'s output to the attribute ids expected by `out`. */
  private def rebind(out: Seq[Attribute], native: LogicalPlan): LogicalPlan = {
    val byName = native.output.map(a => a.name -> a).toMap
    Project(out.map(o => Alias(byName(o.name), o.name)(exprId = o.exprId)), native)
  }

  /** Overwrite deleteExpr → replaceWhere Column: resolved attribute refs
    * are rebuilt name-based so the predicate re-resolves against the
    * writer's own scan.
    */
  private def unresolve(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftInternal.column(e.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
    })

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      case a @ AppendData(r: DataSourceV2Relation, query, _, _, _, _)
          if r.table.isInstanceOf[GraftCatalogTable] && a.outputResolved =>
        GraftCatalogWriteCommand(r.table.asInstanceOf[GraftCatalogTable].path,
          query, WriteMode.Append, None, Nil)

      case o @ OverwriteByExpression(r: DataSourceV2Relation, deleteExpr, query, _, _, _, _)
          if r.table.isInstanceOf[GraftCatalogTable] && o.outputResolved =>
        val rw = deleteExpr match {
          case org.apache.spark.sql.catalyst.expressions.Literal(true, _) => None
          case other => Some(unresolve(other))
        }
        GraftCatalogWriteCommand(r.table.asInstanceOf[GraftCatalogTable].path,
          query, WriteMode.Overwrite, rw, Nil)

      case o @ OverwritePartitionsDynamic(r: DataSourceV2Relation, query, _, _, _)
          if r.table.isInstanceOf[GraftCatalogTable] && o.outputResolved =>
        // dynamic partition overwrite: the writer derives the removal set
        // from the written files' partition values (commit-log metadata
        // only) — exactly the partitions the incoming rows land in are
        // replaced, everything else is untouched
        GraftCatalogWriteCommand(r.table.asInstanceOf[GraftCatalogTable].path,
          query, WriteMode.Overwrite, None, Nil, dynamicOverwrite = true)

      case ctas @ CreateTableAsSelect(
          ResolvedIdentifier(c: GraftCatalog, ident), parts, query, _, _, ignoreIfExists, _) =>
        val partCols = parts.map {
          case t if t.name == "identity" && t.references.length == 1 =>
            t.references.head.fieldNames.mkString(".")
          case other => throw new UnsupportedOperationException(
            s"graft tables support identity partitioning only, got $other")
        }
        val mode =
          if (ignoreIfExists) WriteMode.Ignore else WriteMode.ErrorIfExists
        GraftCatalogWriteCommand(pathOf(c, ident), query, mode, None, partCols)

      // readStream.table("cat.ns.t"): route to the V1 admission-controlled
      // stream source (startingVersion/maxCommitsPerTrigger options pass
      // through), same engine as readStream.format("graft").load(path)
      case s: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
          if s.table.isInstanceOf[GraftCatalogTable] =>
        val t = s.table.asInstanceOf[GraftCatalogTable]
        val opts = {
          import scala.jdk.CollectionConverters._
          s.extraOptions.asCaseSensitiveMap().asScala.toMap + ("path" -> t.path)
        }
        val rel = GraftInternal.streamingRelationFor(spark, opts)
        if (opts.get("readChangeFeed").exists(_.equalsIgnoreCase("true")))
          // the catalog identifier resolved to the TABLE schema, but a
          // change feed adds `_change_type` — swap in the V1 streaming
          // relation with the CDF schema wholesale (readStream.table
          // analyzes this relation as the plan ROOT, so nothing above
          // holds the old attribute ids; Delta's DeltaAnalysis does the
          // same relation swap for its CDC reads)
          rel
        else rebind(s.output, rel)

      case dsv2 @ DataSourceV2Relation(t: GraftCatalogTable, out, _, _, opts, _) =>
        if (Option(opts.get("readChangeFeed")).exists(_.equalsIgnoreCase("true"))) {
          // same contract as the path route: ignoring the option would
          // hand an id-keyed consumer the wrong columns silently
          require(!Option(opts.get("withRowIds")).exists(_.equalsIgnoreCase("true")),
            "withRowIds is not supported together with readChangeFeed")
          // batch CDF through the catalog name: same relation swap as the
          // streaming case (the `_change_type` column cannot ride the
          // table-schema output). Options resolve through the shared
          // GraftReadOptions contract (startingVersion/startingTimestamp
          // required, ending* resolved once) — identical to the path route.
          val optsMap = {
            import scala.jdk.CollectionConverters._
            opts.asCaseSensitiveMap().asScala.toMap
          }
          val from = graft.sources.GraftReadOptions.start(spark, t.path, optsMap)
            .getOrElse(throw new IllegalArgumentException(
              "readChangeFeed batch reads require option(\"startingVersion\", v) " +
                "or option(\"startingTimestamp\", ts) " +
                "(inclusive; optional endingVersion/endingTimestamp defaults to latest)"))
          val to = graft.sources.GraftReadOptions.end(spark, t.path, optsMap)
          LogicalRelation(
            graft.sources.GraftChangesRelation(spark.sqlContext, t.path, from, to))
        } else if (Option(opts.get("withRowIds")).exists(_.equalsIgnoreCase("true"))) {
          // row-id read by catalog name: same relation swap as CDF (the
          // extra _graft_row_id column cannot ride the table-schema
          // output; read.table analyzes this relation as the plan root).
          // The substitution rule upgrades it to the native plan.
          LogicalRelation(GraftRelation(
            spark.sqlContext, t.path, t.versionAsOf, withRowIds = true))
        } else rebind(out, GraftNativeRelation.plan(spark, t.path, t.versionAsOf))
    }

  private def pathOf(c: GraftCatalog, ident: Identifier): String =
    c.asInstanceOf[GraftCatalog].pathForIdent(ident)
}
