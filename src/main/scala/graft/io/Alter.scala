package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.log.CommitLog

/** Shared ALTER TABLE core — one metadata-only commit applying column
  * adds and/or table-property changes, CAS-guarded against concurrent
  * writers. Used by both the DSv2 catalog (`ALTER TABLE cat.ns.tbl ...`)
  * and the SQL path route (`ALTER TABLE graft.`/path`` ...`).
  *
  * Columns append at the end, nullable — the same shape the
  * schema-evolution write mode produces, so files written before the
  * ALTER read the new column as null with no rewrite (the property that
  * keeps ALTER TABLE metadata-only on a 100 TB table).
  *
  * Properties use the commit log's carry-forward contract: only
  * reserved `graft.*` keys persist across commits (e.g. `graft.cdf`,
  * `graft.constraint.*`); anything else would silently vanish on the
  * next commit and is rejected loudly. An empty value drops the key.
  */
object Alter {

  def alter(
      spark: SparkSession,
      path: String,
      addCols: Seq[(String, DataType, Option[String])] = Nil,
      props: Map[String, String] = Map.empty,
      dropCols: Seq[String] = Nil,
      renameCols: Seq[(String, String)] = Nil,
      alterColTypes: Seq[(String, DataType)] = Nil): Long = {
    require(GraftTable.exists(spark, path), s"not a graft table: $path")
    // a concurrent commit invalidates the snapshot the new schema DDL
    // was derived from — re-derive and retry (bounded)
    GraftWriter.retryDerived {
      alterOnce(spark, path, addCols, props, dropCols, renameCols,
        alterColTypes)
    }
  }

  /** The safe (lossless, total) widenings: every value of `from` is
    * exactly representable in `to`. Mirrors Delta's type-widening
    * matrix for the types graft tables use; anything else (narrowing,
    * cross-family, string) needs a rewrite and is refused.
    */
  private[graft] def isSafeWidening(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => false // no-op — reject loudly, not silently
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      // decimal growth: scale may grow only with matching integer-digit
      // headroom (p-s), or values near the precision cap would overflow
      case (d1: DecimalType, d2: DecimalType) =>
        val (p1, s1, p2, s2) = (d1.precision, d1.scale, d2.precision, d2.scale)
        s2 >= s1 && (p2 - s2) >= (p1 - s1) && (p2 > p1 || s2 > s1)
      case _ => false
    }
  }

  private def alterOnce(
      spark: SparkSession,
      path: String,
      addCols: Seq[(String, DataType, Option[String])],
      props: Map[String, String],
      dropCols: Seq[String],
      renameCols: Seq[(String, String)],
      alterColTypes: Seq[(String, DataType)] = Nil): Long = {
    val table = GraftTable(spark, path)
    val snap = table.snapshot()
    var schema = snap.schema
    var mapProps = Map.empty[String, String]
    // RENAME COLUMN is metadata-only via the column mapping
    // ([[ColumnMapping]]): files keep the column's physical (creation)
    // name forever; the commit just renames the schema field and records
    // `graft.colmap.<new> = <physical>` so reads project it back
    renameCols.foreach { case (from, to) =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(from)),
        s"no such column: $from")
      require(!from.equalsIgnoreCase(to) &&
          !schema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column $to already exists")
      require(!snap.partitionColumns.exists(_.equalsIgnoreCase(from)),
        s"cannot rename partition column $from (directory layout is physical)")
      require(!Bucketing.spec(table, snap).exists(_._1.equalsIgnoreCase(from)),
        s"cannot rename bucket key $from (bucket layout is keyed by name)")
      requireNoConstraintOn(table, from, "rename")
      val mapping = ColumnMapping.fromProps(
        table.log.tableProperties() ++ mapProps)
      val physical = ColumnMapping.physicalName(mapping, from)
      schema = StructType(schema.fields.map { f =>
        if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f
      })
      mapProps += ColumnMapping.key(from) -> "" // drop any old mapping
      mapProps +=
        ColumnMapping.key(to) -> (if (physical == to) "" else physical)
    }
    addCols.foreach { case (name, dt, comment) =>
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column $name already exists")
      val allProps = table.log.tableProperties() ++ mapProps
      val mapping = ColumnMapping.fromProps(allProps)
      val lower = name.toLowerCase(java.util.Locale.ROOT)
      // data files are keyed by PHYSICAL name: a new column whose name
      // matches a live column's physical name (e.g. ADD COLUMN a after
      // RENAME a->b) would create two physical-'a' fields and make the
      // table unreadable — mirror Delta's physical-name uniqueness rule
      val livePhys = schema.fieldNames.map(f =>
        ColumnMapping.physicalName(mapping, f).toLowerCase(java.util.Locale.ROOT)).toSet
      require(!livePhys.contains(lower),
        s"column $name collides with the physical name of an existing " +
          "column (data files are keyed by physical name)")
      // a DROPPED column's physical name still lives in old data files:
      // map the re-added column to a fresh physical identity so it reads
      // as null from pre-drop files instead of resurrecting dead data
      val dropped = ColumnMapping.droppedPhysicals(allProps)
      if (dropped.contains(lower)) {
        var n = 1
        while (livePhys.contains(s"${lower}_$n") ||
            dropped.contains(s"${lower}_$n")) n += 1
        mapProps += ColumnMapping.key(name) -> s"${name}_$n"
      }
      val f = StructField(name, dt, nullable = true)
      schema = StructType(schema.fields :+
        comment.map(f.withComment).getOrElse(f))
    }
    // DROP COLUMN is metadata-only too: reads are name-based, so data
    // files keeping the column simply stop projecting it
    dropCols.foreach { name =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"no such column: $name")
      require(!snap.partitionColumns.exists(_.equalsIgnoreCase(name)),
        s"cannot drop partition column $name")
      requireNoConstraintOn(table, name, "drop")
      // the mapping dies with the column (a later ADD of the same name
      // must NOT inherit it), and the orphaned physical name is
      // tombstoned so re-adds get a fresh physical identity
      val mapping = ColumnMapping.fromProps(
        table.log.tableProperties() ++ mapProps)
      val physical = ColumnMapping.physicalName(mapping, name)
      mapProps += ColumnMapping.key(name) -> ""
      mapProps += ColumnMapping.dropKey(physical) -> "1"
      schema = StructType(
        schema.fields.filterNot(_.name.equalsIgnoreCase(name)))
      require(schema.nonEmpty, "cannot drop the last column")
    }
    // ALTER COLUMN ... TYPE — metadata-only for the SAFE widenings:
    // old files keep their narrow parquet type and the scan reconciles
    // per file generation (Spark's parquet readers widen
    // int→long / float→double / decimal growth natively), so no
    // rewrite ever happens. Gated behind the typeWidening protocol
    // feature: a build without per-generation reconciliation must fail
    // loudly on such a table, not mis-read the narrow files.
    alterColTypes.foreach { case (name, to) =>
      val field = schema.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(s"no such column: $name"))
      require(isSafeWidening(field.dataType, to),
        s"cannot ALTER COLUMN $name TYPE ${to.sql}: only safe widenings " +
          s"of ${field.dataType.sql} are metadata-only " +
          "(byte/short/int→wider integral, float→double, decimal growth " +
          "with integer-digit headroom); anything else needs a rewrite")
      require(!snap.partitionColumns.exists(_.equalsIgnoreCase(name)),
        s"cannot widen partition column $name (partition values are " +
          "directory-typed; widening would re-type the physical layout)")
      // bucket layout is keyed by the column's HASH — hash(1:int) and
      // hash(1L:long) differ, so widening a bucket key would silently
      // scatter existing keys across wrong buckets
      require(!Bucketing.spec(table, snap).exists(_._1.equalsIgnoreCase(name)),
        s"cannot widen bucket key $name (bucket hashing is type-sensitive)")
      schema = StructType(schema.fields.map { f =>
        if (f.name.equalsIgnoreCase(name)) f.copy(dataType = to) else f
      })
    }
    if (alterColTypes.nonEmpty) {
      val allProps = table.log.tableProperties()
      Seq(graft.log.Protocol.ReaderFeaturesKey,
        graft.log.Protocol.WriterFeaturesKey).foreach { k =>
        mapProps += k -> graft.log.Protocol.render(
          graft.log.Protocol.parse(allProps, k) + graft.log.Protocol.TypeWidening)
      }
    }
    props.keys.foreach { k =>
      require(k.startsWith(CommitLog.ReservedPrefix),
        s"only ${CommitLog.ReservedPrefix}* table properties persist " +
          s"across commits; got '$k'")
    }
    // SET DEFAULT declarations validate HERE (declaration time): the
    // column must exist and the expression must be column-free — the
    // fill sites re-validate, but a bad declaration should fail at the
    // ALTER, not at the next write
    props.foreach { case (k, v) if k.startsWith(Generated.DefaultPrefix) =>
      val c = k.stripPrefix(Generated.DefaultPrefix)
      if (v.nonEmpty) {
        require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"cannot SET DEFAULT for unknown column $c")
        Generated.validateDefaults(spark, Map(c -> v))
      }
    case _ => ()
    }
    // clusterBy declarations validate here too: keys must be existing
    // NON-partition data columns (partition layout already clusters them)
    GraftWriter.validateClusterBy(schema, snap.partitionColumns, props)
    // enabling row tracking on a schema that already uses the reserved
    // id column names would serve user longs as materialized row ids
    // AND brick every subsequent append (the write-path guard) — refuse
    // at the enabling ALTER, the same place the write path refuses
    if (props.get(CommitLog.RowTrackingKey).exists(_.trim.toBoolean))
      schema.fieldNames.foreach(c => require(
        !RowTracking.ReservedCols.exists(_.equalsIgnoreCase(c)),
        s"cannot enable ${CommitLog.RowTrackingKey}: column name $c is " +
          "reserved by row tracking"))
    table.log.commit(
      operation = "ALTER TABLE",
      mode = "metadata",
      schemaDdl = schema.toDDL,
      partitionColumns = snap.partitionColumns,
      metadata = props ++ mapProps,
      operationMetrics = Map.empty,
      add = Nil,
      remove = Nil,
      expectedVersion = Some(snap.version))
  }

  /** `ALTER TABLE ... DROP FEATURE f` (Delta's feature removal): strike
    * a protocol feature from BOTH the reader and writer sets so older
    * builds can use the table again — legal only when the feature is
    * PROVABLY unused across the whole RETAINED log, not just the live
    * snapshot (a time-travel read of an old DV'd version by a pre-DV
    * build would resurrect deleted rows). For `deletionVectors` that
    * means: no live DV, and no retained commit ever attached one — run
    * OPTIMIZE (purges DVs) and log retention first, like Delta's
    * `DROP FEATURE ... TRUNCATE HISTORY` flow. Other features are
    * refused (their use cannot be cheaply proven absent).
    */
  def dropFeature(spark: SparkSession, path: String, feature: String): Long = {
    require(GraftTable.exists(spark, path), s"not a graft table: $path")
    import graft.log.Protocol
    require(feature == Protocol.DeletionVectors,
      s"DROP FEATURE supports '${Protocol.DeletionVectors}' only " +
        s"(got '$feature'); other features cannot be proven unused")
    GraftWriter.retryDerived {
      val table = GraftTable(spark, path)
      val snap = table.snapshot()
      val log = table.log
      // Both halves of the advertised invariant are required. The
      // retained-log scan alone is NOT enough: cleanOldLogs can prune
      // the DV-attaching commits past a checkpoint boundary while the
      // CURRENT snapshot (replayed from that checkpoint) still carries
      // live DVs — striking the feature then would let a pre-DV build
      // resurrect deleted rows on a plain read, not just a time-travel.
      val liveDvFiles = snap.files.filter(_.dv.isDefined)
      require(liveDvFiles.isEmpty,
        s"cannot DROP FEATURE ${Protocol.DeletionVectors}: " +
          s"${liveDvFiles.size} live file(s) in the current snapshot " +
          "carry deletion vectors — a pre-DV build reading the table " +
          "would resurrect deleted rows. Run REORG TABLE ... APPLY " +
          "(PURGE) (rewrites only the DV'd files) first, then retry")
      val dvCommits = log.versions()
        .filter(v => log.readCommit(v).add.exists(_.dv.isDefined))
      require(dvCommits.isEmpty,
        s"cannot DROP FEATURE ${Protocol.DeletionVectors}: retained " +
          s"commits ${dvCommits.mkString(", ")} carry deletion vectors — " +
          "a pre-DV build time-traveling there would resurrect deleted " +
          "rows. REORG ... APPLY (PURGE), wait out retention, run " +
          "cleanOldLogs, then retry")
      val props = log.tableProperties()
      val newFeatures = Seq(Protocol.ReaderFeaturesKey, Protocol.WriterFeaturesKey)
        .map { k =>
          val left = Protocol.parse(props, k) - feature
          k -> (if (left.isEmpty) "" else Protocol.render(left)) // "" drops
        }.toMap
      // dv must also be disabled as a table property or the next DML
      // would immediately re-register the feature
      val disableDv = Map(DeletionVectorsPropKey -> "")
      log.commit(
        operation = "DROP FEATURE",
        mode = "metadata",
        schemaDdl = snap.schema.toDDL,
        partitionColumns = snap.partitionColumns,
        metadata = newFeatures ++ disableDv,
        operationMetrics = Map.empty,
        add = Nil,
        remove = Nil,
        expectedVersion = Some(snap.version))
    }
  }

  private val DeletionVectorsPropKey: String =
    CommitLog.ReservedPrefix + "dv"

  /** Fail if a CHECK constraint's SQL references `name` — both dropping
    * and renaming such a column would silently break enforcement (the
    * recorded SQL text keeps the old name).
    */
  private def requireNoConstraintOn(
      table: GraftTable, name: String, verb: String): Unit = {
    val constraints = table.log.tableProperties().collect {
      case (k, sql) if k.startsWith(CommitLog.constraintKey("")) &&
          sql.toLowerCase(java.util.Locale.ROOT)
            .matches(s"(?s).*\\b${java.util.regex.Pattern.quote(name.toLowerCase(java.util.Locale.ROOT))}\\b.*") =>
        k.stripPrefix(CommitLog.constraintKey(""))
    }
    require(constraints.isEmpty,
      s"cannot $verb $name: referenced by CHECK constraint" +
        s"${if (constraints.size > 1) "s" else ""} ${constraints.mkString(", ")}")
  }
}
