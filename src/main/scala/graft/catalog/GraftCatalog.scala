package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}

/** Catalog-visible face of a graft table. Deliberately carries NO batch
  * read/write capabilities: the injected resolution rule
  * ([[GraftCatalogRule]]) substitutes the native columnar plan (or a
  * COW write command) before capability checks run, so every catalog
  * read shares the commit-log FileIndex / bucket-spec machinery of the
  * path API. If the rule is missing, analysis fails loudly instead of
  * scanning wrong. The ONE capability it does declare is
  * STREAMING_WRITE: `writeStream.toTable` resolves the write through
  * the table itself (no analyzer hook exists there), backed by the
  * exactly-once epoch protocol in
  * [[org.apache.spark.sql.graft.GraftStreamingWrite]].
  */
final case class GraftCatalogTable(
    catalogName: String,
    ident: Identifier,
    path: String,
    tableSchema: StructType,
    partitionCols: Seq[String],
    props: Map[String, String],
    /** Pinned snapshot for `VERSION AS OF` / `TIMESTAMP AS OF` reads. */
    versionAsOf: Option[Long] = None) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name: String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")
  override def schema: StructType = tableSchema
  override def partitioning: Array[Transform] = {
    // declared clustering keys surface as the ClusterByTransform so
    // catalog-level introspection (DESCRIBE, SHOW CREATE via Spark's
    // own paths) sees the layout the same way Delta exposes it
    val cluster = graft.io.GraftWriter.clusterByOf(props)
    val ct =
      if (cluster.isEmpty) Nil
      else Seq(org.apache.spark.sql.connector.expressions.ClusterByTransform(
        cluster.map(c => Expressions.column(c))))
    (partitionCols.map(Expressions.identity) ++ ct).toArray
  }
  override def properties: util.Map[String, String] =
    (props + (TableCatalog.PROP_LOCATION -> path)).asJava
  override def capabilities: util.Set[TableCapability] =
    util.Collections.singleton(TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // A bucketed table's `__bucket` column is DERIVED, never supplied:
    // the stream writer recomputes pmod(hash(key), n) per row so
    // streamed files land in the exact batch layout (`__bucket=N/` dir +
    // `_NNNNN` file suffix at promote) and the table keeps reporting a
    // BucketSpec — otherwise one streamed epoch would silently forfeit
    // exchange-free co-bucketed joins until a re-bucketing OPTIMIZE.
    val bucket = graft.io.Bucketing.spec(
      graft.io.GraftTable(SparkSession.active, path))
    val bucketCol = graft.io.Bucketing.BucketCol
    require(bucket.isEmpty ||
        !info.schema.fieldNames.exists(_.equalsIgnoreCase(bucketCol)),
      s"$bucketCol is derived from the bucket key on write; do not supply it")
    val expectedCols =
      if (bucket.isEmpty) tableSchema.fields.toSeq
      else tableSchema.fields.toSeq.filterNot(_.name.equalsIgnoreCase(bucketCol))
    val tTypes = expectedCols.map(f =>
      f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
    info.schema.fields.foreach { f =>
      val dt = tTypes.getOrElse(f.name.toLowerCase(java.util.Locale.ROOT),
        throw new IllegalArgumentException(
          s"streaming write column ${f.name} is not in table $name"))
      require(dt == f.dataType,
        s"streaming write type mismatch on ${f.name}: table $dt vs ${f.dataType}")
    }
    require(info.schema.length == expectedCols.length,
      s"streaming write must supply every column of $name")
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new org.apache.spark.sql.graft.GraftStreamingWrite(
              path, info.schema, info.queryId(), partitionCols, bucket)
        }
    }
  }
}

/** DSv2 catalog over the IOManager's `rootUri/<schema>/<table>` layout
  * (reference: dagster_delta io_manager.py:276-280 derives table
  * locations the same way). Register with:
  *
  * {{{
  * spark.sql.catalog.graft_cat       = graft.catalog.GraftCatalog
  * spark.sql.catalog.graft_cat.root  = /data/warehouse
  * }}}
  *
  * after which `SELECT ... FROM graft_cat.schema.tbl`, `INSERT`,
  * `CREATE TABLE ... `, `DROP TABLE`, `SHOW TABLES`, and the DML
  * statements all resolve through the graft commit log. Namespaces are
  * directories; a table is any directory with a `_graft_log`.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var rootUri: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    rootUri = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' requires spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def pathFor(ident: Identifier): String =
    (rootUri +: ident.namespace.toSeq :+ ident.name).mkString("/")

  /** Table location for an identifier — the CTAS command needs it before
    * the table exists.
    */
  def pathForIdent(ident: Identifier): String = pathFor(ident)

  private def pathFor(namespace: Array[String]): String =
    (rootUri +: namespace.toSeq).mkString("/")

  private def fs = new Path(rootUri)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_graft_log"))

  // ---------- tables ----------

  override def loadTable(ident: Identifier): Table = {
    val path = pathFor(ident)
    if (!GraftTable.exists(spark, path)) throw new NoSuchTableException(ident)
    val table = GraftTable(spark, path)
    val snap = table.snapshot()
    GraftCatalogTable(catalogName, ident, path, snap.schema,
      snap.partitionColumns, table.log.tableProperties())
  }

  /** `SELECT ... VERSION AS OF v`: pin the snapshot (schema included —
    * time travel across a schema evolution reads the OLD shape).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathFor(ident)
    if (!GraftTable.exists(spark, path)) throw new NoSuchTableException(ident)
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft time travel takes a numeric version, got '$version'")
      }
    val table = GraftTable(spark, path)
    val snap = table.snapshot(Some(v))
    GraftCatalogTable(catalogName, ident, path, snap.schema,
      snap.partitionColumns, table.log.tableProperties(), Some(v))
  }

  /** `TIMESTAMP AS OF t` (Spark hands micros): latest commit at or
    * before the timestamp.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = pathFor(ident)
    if (!GraftTable.exists(spark, path)) throw new NoSuchTableException(ident)
    val v = GraftTable(spark, path).versionAtTimestamp(timestampMicros / 1000L)
    loadTable(ident, v.toString)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path(pathFor(namespace))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = pathFor(ident)
    if (GraftTable.exists(spark, path)) throw new TableAlreadyExistsException(ident)
    // CLUSTER BY (a,b) arrives as a ClusterByTransform among the
    // partitioning transforms — peel it into the graft.clusterBy
    // declaration (plain OPTIMIZE then maintains the layout)
    val (partCols, clusterProp) = GraftWriter.peelClusterTransform(
      partitions.toSeq, "graft tables")
    val meta = properties.asScala.toMap -
      org.apache.spark.sql.catalyst.catalog.CatalogTable.PROP_CLUSTERING_COLUMNS ++
      clusterProp
    GraftWriter.validateClusterBy(schema, partCols, meta)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    GraftWriter.write(spark, empty, path,
      WriteOptions(mode = WriteMode.ErrorIfExists, partitionBy = partCols,
        metadata = meta))
    loadTable(ident)
  }

  /** `ALTER TABLE`: ADD COLUMN (top-level, nullable, appended — the same
    * shape the schema-evolution write mode produces, so old files read
    * the new column as null) and SET/UNSET TBLPROPERTIES on reserved
    * `graft.*` keys (e.g. `graft.cdf`, `graft.constraint.*` — the keys
    * the commit log carries forward; anything else would silently vanish
    * on the next commit, so it is rejected loudly). Both are
    * metadata-only commits, CAS-guarded against concurrent writers.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathFor(ident)
    if (!GraftTable.exists(spark, path)) throw new NoSuchTableException(ident)
    var addCols = Seq.empty[(String, org.apache.spark.sql.types.DataType, Option[String])]
    var dropCols = Seq.empty[String]
    var renameCols = Seq.empty[(String, String)]
    var alterColTypes = Seq.empty[(String, org.apache.spark.sql.types.DataType)]
    var meta = Map.empty[String, String]
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"graft ALTER TABLE supports top-level columns only, got " +
            add.fieldNames.mkString("."))
        require(add.isNullable,
          "added columns must be nullable (existing rows have no value)")
        require(add.position == null,
          "graft ALTER TABLE appends columns; FIRST/AFTER is not supported")
        require(add.defaultValue == null,
          "graft ALTER TABLE does not support DEFAULT values " +
            "(existing rows would silently read null, not the default)")
        addCols :+= ((add.fieldNames.head, add.dataType, Option(add.comment)))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"graft ALTER TABLE supports top-level columns only, got " +
            del.fieldNames.mkString("."))
        val name = del.fieldNames.head
        val exists = GraftTable(spark, path).snapshot()
          .schema.fieldNames.exists(_.equalsIgnoreCase(name))
        if (exists || del.ifExists == null || !del.ifExists)
          dropCols :+= name // missing + no IF EXISTS: Alter errors loudly
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          s"graft ALTER TABLE supports top-level columns only, got " +
            ren.fieldNames.mkString("."))
        renameCols :+= ((ren.fieldNames.head, ren.newName))
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          s"graft ALTER COLUMN supports top-level columns only, got " +
            ut.fieldNames.mkString("."))
        alterColTypes :+= ((ut.fieldNames.head, ut.newDataType))
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames.length == 1,
          s"graft ALTER COLUMN supports top-level columns only, got " +
            ud.fieldNames.mkString("."))
        // empty = DROP DEFAULT (the commit log's ""-drops-property rule)
        meta += graft.io.Generated.DefaultPrefix + ud.fieldNames.head ->
          ud.newDefaultValue()
      // ALTER TABLE t CLUSTER BY (a,b) / NONE via the DSv2 change
      // contract — empty column set = NONE = drop the declaration
      case cb: TableChange.ClusterBy =>
        val cols = cb.clusteringColumns.toSeq.map(_.fieldNames.mkString("."))
        meta += GraftWriter.ClusterByKey -> cols.mkString(",")
      case sp: TableChange.SetProperty =>
        require(sp.value.nonEmpty,
          s"empty value would drop property '${sp.property}'; use UNSET")
        meta += sp.property -> sp.value
      case rp: TableChange.RemoveProperty =>
        meta += rp.property -> "" // empty value = drop (commit-log contract)
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE does not support $other; use the " +
          "schema-evolution write modes for anything richer")
    }
    if (addCols.nonEmpty || meta.nonEmpty || dropCols.nonEmpty ||
        renameCols.nonEmpty || alterColTypes.nonEmpty)
      graft.io.Alter.alter(spark, path, addCols, meta, dropCols, renameCols,
        alterColTypes)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathFor(ident))
    if (!fs.exists(p) || !isTableDir(p)) false
    else fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new Path(pathFor(oldIdent))
    val to = new Path(pathFor(newIdent))
    if (!fs.exists(from) || !isTableDir(from))
      throw new NoSuchTableException(oldIdent)
    if (fs.exists(to)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.rename(from, to))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  // ---------- namespaces ----------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(rootUri)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => Array(s.getPath.getName))
      .toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val dir = new Path(pathFor(namespace))
      if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
      fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && !isTableDir(s.getPath))
        .map(s => namespace :+ s.getPath.getName)
        .toArray
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val dir = new Path(pathFor(namespace))
    if (!fs.exists(dir) || isTableDir(dir))
      throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    val dir = new Path(pathFor(namespace))
    if (fs.exists(dir)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(dir)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = new Path(pathFor(namespace))
    if (!fs.exists(dir)) return false
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    fs.delete(dir, true)
  }
}
